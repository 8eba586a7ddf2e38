#!/usr/bin/env python3
"""Workload benchmark for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Compiles the engine (`src/main/scala`) and
the benchmark (`perfbench/src`) with the Scala compiler that ships in
`$SPARK_HOME/jars` into `.bench_build/`, runs one workload in one JVM,
and prints one JSON line: the end-to-end metrics (`--trace 0`) or the
per-layer metrics (`--trace 1`). The run's log and raw record, and a
traced run's ledger, go to `.bench_out/`. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import ledger  # noqa: E402

WORKLOADS = ("issues_nightly", "corpus_curation", "table_changes")


def spark_jars():
    """`$SPARK_HOME/jars`, else the jar directory `build.sbt` compiles against."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    return Path(m.group(1)) if m else ROOT / "missing-spark-jars"


SPARK_JARS = spark_jars()
ENGINE_SRC = ROOT / "src" / "main" / "scala"
ENGINE_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = HERE / "src"
BUILD = ROOT / ".bench_build" / "perfbench"
OUT = ROOT / ".bench_out"
WORK = ROOT / ".bench_work"
DEADLINE_S = 170.0

# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    if not ENGINE_SRC.is_dir():
        fail(f"no engine sources at {ENGINE_SRC.relative_to(ROOT)}; run from a full checkout")
    if not SPARK_JARS.is_dir():
        fail(f"no Spark jars at {SPARK_JARS}; set SPARK_HOME")
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not any(f.is_relative_to(BENCH_SRC) for f in files):
        fail("no benchmark sources")
    return files


def build():
    """Compiles engine + benchmark once per source hash; returns classes dir."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    classes = BUILD / h.hexdigest()[:16]
    if (classes / "BUILD_OK").exists():
        return classes
    if BUILD.exists():
        shutil.rmtree(BUILD)
    classes.mkdir(parents=True)
    argfile = classes.parent / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={classes}",
         "-cp", str(SPARK_JARS / "*"), "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", str(classes), "@" + str(argfile)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compilation failed")
    (classes / "BUILD_OK").write_text(f"{time.time() - t0:.1f}\n")
    return classes


def java_cmd(classes, work, main, args, heap="3g"):
    cp = os.pathsep.join([str(classes), str(ENGINE_RES), str(SPARK_JARS / "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed heap and young generation under the throughput collector keep
    # GC work, and so peak RSS and timings, from adapting run to run
    return (["java", f"-Xms{heap}", f"-Xmx{heap}", "-Xmn1g", "-XX:+UseParallelGC",
             "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dspark.hadoop.hadoop.tmp.dir={work / 'tmp'}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", cp, main] + args)


def run_jvm(cmd, log, timeout_s):
    """Runs the JVM to completion; returns (exit code, peak RSS in KiB)."""
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        deadline = time.time() + timeout_s
        while True:
            pid, status, ru = os.wait4(p.pid, os.WNOHANG)
            if pid:
                p.returncode = os.waitstatus_to_exitcode(status)
                return p.returncode, ru.ru_maxrss
            if time.time() > deadline:
                os.killpg(p.pid, signal.SIGKILL)
                os.wait4(p.pid, 0)
                return -9, 0
            time.sleep(0.05)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the JVM-side self-test (output checks, generator determinism)")
    a = ap.parse_args()
    classes = build()
    t_start = time.time()  # a first run may also build; the deadline covers the run
    OUT.mkdir(exist_ok=True)
    name = "selftest" if a.selftest else f"{a.workload}-{a.seed}-{'traced' if a.trace else 'plain'}"
    work = WORK / f"{name}-{os.getpid()}"
    if work.exists():
        shutil.rmtree(work)
    (work / "tmp").mkdir(parents=True)
    log = OUT / f"{name}.log"
    try:
        if a.selftest:
            code, _ = run_jvm(java_cmd(classes, work, "graftbench.SelfTest", [str(work)], heap="2g"),
                              log, DEADLINE_S)
            print(log.read_text()[-3000:])
            sys.exit(code)
        if not a.workload:
            fail("--workload is required")
        raw_path = work / "raw.json"
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--work", str(work), "--out", str(raw_path)]
        code, rss_kb = run_jvm(java_cmd(classes, work, "graftbench.Main", args), log,
                               max(10.0, DEADLINE_S - (time.time() - t_start)))
        if code != 0 or not raw_path.exists():
            print(log.read_text()[-3000:], file=sys.stderr)
            fail(f"benchmark JVM exited with {code}; log in {log.relative_to(ROOT)}")
        raw = json.loads(raw_path.read_text())
        shutil.copy(raw_path, OUT / f"raw-{name}.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for e in raw["errors"]:
        print(f"perfbench: failed op: {e}", file=sys.stderr)
    plain = OUT / f"plain-{a.workload}-{a.seed}.json"
    if a.trace:
        # overhead only against an untraced run of the same build
        prior = json.loads(plain.read_text()) if plain.exists() else {}
        untraced = prior.get("p50") if prior.get("build") == classes.name else None
        led = ledger.ledger(raw, untraced)
        led["workload"], led["seed"] = a.workload, a.seed
        (OUT / f"ledger-{a.workload}-{a.seed}.json").write_text(
            json.dumps({"ledger": led, "per_layer": ledger.per_layer(raw)}, indent=1))
        print(ledger.format_ledger(led), file=sys.stderr)
        metrics = ledger.per_layer(raw)
    else:
        metrics = ledger.end_to_end(raw, rss_kb)
        plain.write_text(json.dumps({"build": classes.name, "p50": ledger.class_p50(raw)}))
        print(json.dumps({"input": raw.get("input"), "tails": ledger.tail_note(raw),
                          "session_s": raw["session_s"], "measured_s": raw["measured_s"],
                          "spans_p50_ms": ledger.span_summary(raw)}), file=sys.stderr)
    print(json.dumps({"correct": raw["failed"] == 0, "attempted": raw["attempted"],
                      "failed": min(raw["failed"], raw["attempted"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
