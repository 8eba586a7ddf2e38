"""Turns a raw run record (spans, Spark jobs, counters) into the benchmark's
end-to-end metrics, its per-layer metrics and the per-layer ledger table.

Pure functions over plain data, so `test_perfbench.py` can check them
without a JVM.
"""

import statistics

# Op classes of the client ops; each has a `<class>_ms_mean` end-to-end
# metric. A class mixes op kinds of very different cost (an append and a
# SQL MERGE are both commits), so its median falls between kinds and
# jumps from run to run; the mean moves with the time the class takes.
# The tail percentile is reported beside the metrics, not as one: no run
# has the 40 samples of a class its 75th percentile needs.
CLASSES = ("commit", "read", "refresh", "screen")

# The 21 spans with per-layer metrics and the counters each one reports.
BATCH_SPANS = ["nightly.silver", "nightly.catalog", "nightly.gold",
               "curation.clean", "curation.pack", "curation.index_build",
               "curation.screen"]
TABLE_WRITE_SPANS = ["table.merge", "table.merge_into", "table.delete",
                     "table.update", "table.append", "table.sql_dml",
                     "table.maintain"]
TABLE_READ_SPANS = ["table.read_where", "table.read_point",
                    "table.read_version", "table.changes", "table.dsv2_read",
                    "table.sql_select"]
SPANS = BATCH_SPANS + TABLE_WRITE_SPANS + TABLE_READ_SPANS + ["table.mv_refresh"]

COUNTERS = {
    "wall_ms": set(SPANS),
    "driver_ms": set(SPANS),
    "jobs": set(SPANS),
    "exec_cpu_ms": set(BATCH_SPANS),
    "shuffle_mb": set(BATCH_SPANS) | {"table.merge", "table.merge_into",
                                      "table.sql_dml", "table.changes",
                                      "table.mv_refresh"},
    "input_mb": set(BATCH_SPANS) | set(TABLE_READ_SPANS),
    "fs_ops": set(TABLE_WRITE_SPANS) | set(TABLE_READ_SPANS)
              | {"table.mv_refresh", "curation.index_build", "curation.screen"},
    "written_mb": set(TABLE_WRITE_SPANS) | {"nightly.silver", "nightly.gold",
                                            "curation.index_build",
                                            "curation.screen"},
}
UNITS = {"wall_ms": "ms", "driver_ms": "ms", "jobs": "count",
         "exec_cpu_ms": "ms", "shuffle_mb": "MB", "input_mb": "MB",
         "fs_ops": "count", "written_mb": "MB"}
SHAPE = ["table.dirs_rewritten", "table.dirs_carried", "table.log_versions",
         "table.live_dirs"]

TAIL_GRID = (99.9, 99.0, 95.0, 90.0, 75.0)
MB = 1024.0 * 1024.0


def quantile(xs, q):
    """Linear-interpolated quantile, q in [0, 1] (numpy's default rule)."""
    s = sorted(xs)
    if not s:
        raise ValueError("quantile of no samples")
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_percentile(n):
    """The highest percentile of TAIL_GRID that leaves at least 10 of n
    samples beyond it; the median when n is below 20."""
    for p in TAIL_GRID:
        if n * (1.0 - p / 100.0) >= 10.0 - 1e-9:
            return p
    return 50.0


def union_length(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def descendants(spans):
    """span id -> ids of the span and every span under it."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s["id"])
    out = {}

    def walk(i):
        if i not in out:
            acc = [i]
            for c in children.get(i, []):
                acc.extend(walk(c))
            out[i] = acc
        return out[i]

    for s in spans:
        walk(s["id"])
    return out


def jobs_by_span(spans, jobs):
    """span id -> jobs submitted while the span or a descendant was open."""
    own = {}
    for j in jobs:
        own.setdefault(j["span"], []).append(j)
    desc = descendants(spans)
    return {s["id"]: [j for d in desc[s["id"]] for j in own.get(d, [])]
            for s in spans}


def driver_ms(span, jobs):
    """Span time with no Spark job running: its duration minus the union of
    its jobs' intervals."""
    ivs = [(j["start_ms"], j["end_ms"]) for j in jobs if j["end_ms"] >= 0]
    dur = span["endMs"] - span["startMs"]
    return dur - union_length(ivs, span["startMs"], span["endMs"])


def self_ms(span, children):
    """Span duration minus the part of it its child spans cover."""
    ivs = [(c["startMs"], c["endMs"]) for c in children]
    dur = span["endMs"] - span["startMs"]
    return dur - union_length(ivs, span["startMs"], span["endMs"])


def _dur(s):
    return s["endMs"] - s["startMs"]


def _median(xs):
    """Median, or 0 when a failed run left no samples."""
    return statistics.median(xs) if xs else 0.0


def end_to_end(raw, peak_rss_kb):
    """The end-to-end metrics of one run (from every span, traced or not)."""
    spans = raw["spans"]
    by_cls = {c: [_dur(s) for s in spans if s["cls"] == c and s["ok"]]
              for c in CLASSES + ("job",)}
    run = [s for s in spans if s["name"] == "run"][0]
    top_ops = [s for s in spans if s["parent"] == run["id"] and s["cls"]]
    m = {
        "setup_s": (_median(raw["setup_s"]), "s"),
        "peak_rss_mb": (peak_rss_kb / 1024.0, "MB"),
        "ops_ok_ratio": ((raw["attempted"] - raw["failed"]) / raw["attempted"], "ratio"),
        "ops_per_s": (len(top_ops) / raw["measured_s"], "1/s"),
        "write_amp": (raw["written_bytes"] / max(raw["input_bytes"], 1), "ratio"),
        "space_amp": (_median(raw["space_amp"]), "ratio"),
    }
    if "rows_per_job" in raw:
        job_s = _median(by_cls["job"]) / 1000.0
        m["rows_per_s"] = (raw["rows_per_job"] / job_s if job_s else 0.0, "1/s")
    else:
        m["rows_per_s"] = (raw.get("rows_total", 0) / raw["measured_s"], "1/s")
    for c in CLASSES:
        m[f"{c}_ms_mean"] = (statistics.fmean(by_cls[c] or [0.0]), "ms")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def tail_note(raw):
    """Per op class: the tail percentile its samples allow, how many
    samples there are, and the tail latency in ms."""
    out = {}
    for c in CLASSES:
        xs = [_dur(s) for s in raw["spans"] if s["cls"] == c and s["ok"]]
        if xs:
            p = tail_percentile(len(xs))
            out[f"{c}_ms_tail"] = {"percentile": p, "samples": len(xs),
                                   "value": quantile(xs, p / 100.0)}
    return out


def span_summary(raw):
    """span name -> [calls, median ms], over every span of the run."""
    by = {}
    for s in raw["spans"]:
        by.setdefault(s["name"], []).append(_dur(s))
    return {k: [len(v), round(statistics.median(v), 1)] for k, v in sorted(by.items())}


def per_span_rows(raw):
    """One row per span instance with its counters."""
    spans = raw["spans"]
    jobs = jobs_by_span(spans, raw["jobs"])
    rows = []
    for s in spans:
        js = jobs[s["id"]]
        rows.append({
            "name": s["name"], "id": s["id"],
            "wall_ms": _dur(s),
            "driver_ms": driver_ms(s, js),
            "jobs": len(js),
            "exec_cpu_ms": sum(j["cpu_ms"] for j in js),
            "shuffle_mb": sum(j["shuffle_bytes"] for j in js) / MB,
            "input_mb": sum(j["input_bytes"] for j in js) / MB,
            "fs_ops": s["fs"]["ops"],
            "written_mb": s["fs"]["bytesWritten"] / MB,
        })
    return rows


def per_layer(raw):
    """The per-layer metrics: each counter's median over a span's
    instances (0 for a span the workload never runs), plus table shape."""
    rows = per_span_rows(raw)
    out = {}
    for span in SPANS:
        inst = [r for r in rows if r["name"] == span]
        for counter, spans in COUNTERS.items():
            if span in spans:
                v = _median([r[counter] for r in inst])
                out[f"{span}.{counter}"] = {"value": float(v), "unit": UNITS[counter]}
    shape = raw.get("shape", {})
    for name in SHAPE:
        key = name.split(".", 1)[1]
        v = shape.get(key, 0)
        if isinstance(v, list):
            v = _median(v)
        out[name] = {"value": float(v), "unit": "count"}
    return out


def class_p50(raw):
    """op class -> median ms of its successful spans."""
    out = {}
    for c in CLASSES + ("job",):
        xs = [_dur(s) for s in raw["spans"] if s["cls"] == c and s["ok"]]
        if xs:
            out[c] = statistics.median(xs)
    return out


def ledger(raw, untraced_p50=None):
    """Per-layer table over a traced run: calls, wall, self, driver and
    job time per span; and the tracing overhead per op class, the gap
    between this run's medians and those of an untraced run of the same
    workload and seed (`untraced_p50`, from `class_p50`)."""
    spans = raw["spans"]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    rows = per_span_rows(raw)
    table = {}
    for s, r in zip(spans, rows):
        t = table.setdefault(s["name"], {"calls": 0, "wall_ms": 0.0, "self_ms": 0.0,
                                         "driver_ms": 0.0, "jobs": 0,
                                         "exec_cpu_ms": 0.0, "shuffle_mb": 0.0,
                                         "input_mb": 0.0, "fs_ops": 0,
                                         "written_mb": 0.0})
        t["calls"] += 1
        t["self_ms"] += self_ms(s, kids.get(s["id"], []))
        for k in ("wall_ms", "driver_ms", "jobs", "exec_cpu_ms", "shuffle_mb",
                  "input_mb", "fs_ops", "written_mb"):
            t[k] += r[k]
    overhead = {}
    for c, b in class_p50(raw).items():
        a = (untraced_p50 or {}).get(c)
        if a:
            overhead[c] = {"untraced_p50_ms": a, "traced_p50_ms": b, "overhead": (b - a) / a}
    return {"run": raw["spans"][0]["run"] if raw["spans"] else "",
            "spans": table, "tracing_overhead": overhead}


def format_ledger(led):
    cols = ("calls", "wall_ms", "self_ms", "driver_ms", "jobs", "exec_cpu_ms",
            "shuffle_mb", "input_mb", "fs_ops", "written_mb")
    lines = ["%-24s" % "span" + "".join("%12s" % c for c in cols)]
    for name in sorted(led["spans"]):
        t = led["spans"][name]
        lines.append("%-24s" % name + "".join(
            "%12d" % t[c] if isinstance(t[c], int) else "%12.1f" % t[c] for c in cols))
    if not led["tracing_overhead"]:
        lines.append("tracing overhead: run this workload and seed with --trace 0 first")
    for c, o in sorted(led["tracing_overhead"].items()):
        lines.append("tracing overhead %-8s untraced p50 %.1f ms, traced p50 %.1f ms (%+.1f%%)"
                     % (c, o["untraced_p50_ms"], o["traced_p50_ms"], 100 * o["overhead"]))
    return "\n".join(lines)
