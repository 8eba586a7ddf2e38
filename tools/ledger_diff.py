#!/usr/bin/env python3
"""Per-span deltas between two perfbench ledgers.

    python3 tools/ledger_diff.py <before.json> <after.json> [--all]

Each ledger is a `ledger-<workload>-<seed>.json` written by a traced
`perfbench/run.py` run (`.bench_out/`, or `perfbench/baseline/`). For
every span present in either ledger the table prints calls, wall ms,
driver ms, Spark jobs and file-system calls before and after, with the
change. Counters such as jobs and fs calls do not depend on run-to-run
timing noise, so a perf claim can quote them beside the wall times.
Spans whose counters did not change are left out unless `--all` is given.
"""

import json
import sys

COUNTERS = [("calls", "calls"), ("wall_ms", "wall ms"),
            ("driver_ms", "driver ms"), ("jobs", "jobs"),
            ("fs_ops", "fs calls")]


def spans(path):
    """The span table of a ledger file: name -> counters."""
    with open(path) as f:
        doc = json.load(f)
    return doc.get("ledger", doc)["spans"]


def delta(before, after):
    """Per-span rows: (span, [(before, after, change), ...]) sorted by name;
    a span missing on one side counts as zeros there."""
    rows = []
    for name in sorted(set(before) | set(after)):
        b, a = before.get(name, {}), after.get(name, {})
        cells = []
        for key, _ in COUNTERS:
            x, y = float(b.get(key, 0)), float(a.get(key, 0))
            cells.append((x, y, y - x))
        rows.append((name, cells))
    return rows


def render(rows, show_all=False):
    """A fixed-width text table; `before -> after (change%)` per counter."""
    def fmt(x, y, d):
        pct = f"{100.0 * d / x:+.0f}%" if x else ("new" if y else "")
        return f"{x:.0f} -> {y:.0f} ({pct})" if d else f"{x:.0f}"
    head = ["span"] + [label for _, label in COUNTERS]
    lines = [head]
    for name, cells in rows:
        if show_all or any(d for _, _, d in cells):
            lines.append([name] + [fmt(*c) for c in cells])
    widths = [max(len(r[i]) for r in lines) for i in range(len(head))]
    return "\n".join("  ".join(c.ljust(w) for c, w in zip(r, widths)).rstrip()
                     for r in lines)


def main(argv):
    args = [a for a in argv if a != "--all"]
    if len(args) != 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    print(render(delta(spans(args[0]), spans(args[1])), "--all" in argv))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
