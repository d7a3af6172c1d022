#!/usr/bin/env python3
"""CDC -> Delta benchmark: one command runs a workload and prints its metrics.

    python3 perfbench/run.py --workload cdc_paced --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run compiles `src/main/scala` and
the harness in `perfbench/scala` with the Scala compiler from Spark's jar
directory into `perfbench/.build`; later runs reuse it while the sources are
unchanged.

Each run starts two processes and stops both before it exits:
  * `gen.py`, the single-threaded load generator (seed from `--seed`),
  * the JVM harness (`perfbench.Harness`), which drives the system only
    through `CdcIngest.startIngestDeltaMerge`, `DeltaTable`, `DeltaLog`,
    `Ops` and `Fixtures`, at local[N] with N = the number of usable CPUs.

Workloads (see METRICS.md for every metric and the layer it reads):
  cdc_paced    open loop, fixed events/s, updates and deletes favour recent
               ids: small merges whose keys hit few files, so per-batch fixed
               cost sets event-to-commit latency.
  cdc_backlog  fixed backlogs with keys uniform over the table, drained with
               AvailableNow and a large maxFilesPerTrigger: the merge data
               path (rewrite, scan, shuffle) sets the drain rate.

Both end with the reference's prime report over the ingested table and a
correctness check that replays every generated event independently and
recomputes the report. The last stdout line is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With `--trace 0` it carries the end-to-end metrics, with `--trace 1` the
per-layer ones. Each run leaves `run.json` (raw replies and counters) under
`perfbench/.runs/last-<workload>[-traced]/`; a traced run adds `spans.jsonl`.
"""
import argparse
import glob
import hashlib
import json
import os
import queue
import re
import shutil
import signal
import subprocess
import sys
import threading
import time

import check

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
RUNS = os.path.join(HERE, ".runs")
# A run gives up, without a result, this long after its build finished.
RUN_LIMIT_S = 170
DEADLINE = [float("inf")]

# 100k rows rather than 200k: the preload and every whole-table rewrite cost
# half as much, which keeps the runs inside the benchmark's time budget.
PRELOAD_ROWS = 100_000
PRELOAD_FILES = 8
# The paced rate is fixed, well under half of what one local[4] session
# sustains on recent keys. Draining recent-key backlogs one file per batch
# (closed loop, 4 vCPUs) took a median 1.53 / 1.42 / 1.45 / 1.55 s per batch
# of 300 / 1k / 2k / 4k events: the batch time barely grows with its size,
# so the sustained capacity is at least 2,570 events/s, and 700 events/s even
# at a fixed 1k-event batch. At 300 events/s batches hold about 450 events.
PACED_RATE = 300.0
PACED_TICK_S = 0.1
# Each backlog is drained in one batch (see Harness.BacklogFilesPerTrigger).
BACKLOG_FILES, BACKLOG_EVENTS = 10, 10_000
# The number of backlogs is fixed by --seconds, not by the clock, so every
# build drains the same events into the same table and the final table (its
# size, files and the report over it) does not depend on the system's speed.
# At this commit a backlog and its drain take about 4 s on 4 CPUs.
BACKLOG_S = 4.0
# Warm-up has the shape of the timed load: three single-file recent-key
# batches, or three backlog batches.
WARMUP = {"cdc_paced": ("recent", 3, 1500),
          "cdc_backlog": ("backlog", 3 * BACKLOG_FILES, 3 * BACKLOG_EVENTS)}
SPEEDUP_FILES, SPEEDUP_EVENTS = 4, 4_000
# The traced pass alternates untraced and traced parts (paced: four segments
# of a quarter of the run length; backlog: the drains), so JVM warm-up biases
# neither side.
TRACED_PARTS = 4

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# --- build -------------------------------------------------------------------
def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    # the project's own build file names the jar directory it compiles against
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench: cannot find Spark's jar directory")
    return m.group(1)


def build():
    srcs = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    srcs += sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))
    if not any(s.startswith(os.path.join(ROOT, "src")) for s in srcs):
        raise SystemExit("perfbench: no program sources under src/main/scala")
    res = os.path.join(ROOT, "src/main/resources")
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    log(f"compiling {len(srcs)} sources")
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    jars = os.path.join(spark_jars(), "*")
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", jars, "@" + argfile],
        stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        raise SystemExit("perfbench: compile failed")
    if os.path.isdir(res):
        shutil.copytree(res, classes, dirs_exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


# --- processes -----------------------------------------------------------------
class Proc:
    """A child process answering one JSON line per command on stdout."""

    def __init__(self, argv, prefix, stderr):
        self.prefix = prefix
        self.p = subprocess.Popen(argv, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                  stderr=stderr, text=True, encoding="utf-8")
        self.lines = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self):
        for line in self.p.stdout:
            if line.startswith(self.prefix):
                self.lines.put(line[len(self.prefix):])
        self.lines.put(None)

    def send(self, cmd):
        self.p.stdin.write(cmd + "\n")
        self.p.stdin.flush()

    def reply(self, timeout):
        timeout = min(timeout, DEADLINE[0] - time.time())
        try:
            line = self.lines.get(timeout=max(timeout, 0.1))
        except queue.Empty:
            raise RuntimeError(f"no reply within {timeout:.0f} s")
        if line is None:
            raise RuntimeError(f"process exited with code {self.p.wait()}")
        return json.loads(line)

    def call(self, cmd, timeout=120):
        self.send(cmd)
        return self.reply(timeout)

    def stop(self):
        if self.p.poll() is None:
            try:
                self.p.stdin.close()
            except OSError:
                pass
            try:
                self.p.wait(timeout=20)
            except subprocess.TimeoutExpired:
                self.p.kill()
        self.p.wait()


# --- the run -------------------------------------------------------------------
def run(workload, seed, seconds, trace, classes, rundir):
    cores = len(os.sched_getaffinity(0))  # what nproc reports
    indir = os.path.join(rundir, "in")
    kind, wfiles, wevents = WARMUP[workload]
    gen = Proc([sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(seed),
                "--root", indir], "", None)
    jvm = None
    os.makedirs(os.path.join(rundir, "tmp"))
    errlog = open(os.path.join(rundir, "jvm.log"), "w")
    timing = {}
    out = {"cores": cores, "phases": [], "timing": timing}
    try:
        # the generator writes the preload while the JVM starts its session
        gen.send(f"preload preload {PRELOAD_ROWS} {PRELOAD_FILES}")
        gen.send(f"{kind} warmup {wfiles} {wevents}")
        os.makedirs(os.path.join(indir, "paced"), exist_ok=True)
        jvm = Proc(["java", *[x for p in JVM_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")],
                    "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
                    f"-Djava.io.tmpdir={rundir}/tmp", "-cp",
                    f"{classes}{os.pathsep}{os.path.join(spark_jars(), '*')}",
                    "perfbench.Harness", "--dir", rundir, "--workload", workload,
                    "--cores", str(cores), "--trace", str(trace)],
                   "PB ", errlog)
        timing["jvm_start"] = time.time()
        jvm.reply(60)
        gen.reply(60)
        gen.reply(60)
        timing["input_written"] = time.time()
        jvm.send("setup")
        ready = jvm.reply(150)
        timing["ready"] = time.time()
        out["setup_s"] = ready["setup_s"]
        out["setup_phases_s"] = ready["setup_phases_s"]
        if workload == "cdc_paced":
            for part in range(TRACED_PARTS if trace else 1):
                traced = part % 2 == 1
                if trace:
                    jvm.call("trace " + ("on" if traced else "off"))
                length = seconds / TRACED_PARTS if trace else seconds
                g = gen.call(f"paced paced {PACED_RATE} {PACED_TICK_S} {length}",
                             timeout=length + 30)
                out["phases"].append({"traced": traced, "app_id": "graft-cdc-merge",
                                      "cp": "paced", "dir": "paced", **g})
        else:
            for k in range(max(2, round(seconds / BACKLOG_S))):
                traced = bool(trace) and k % 2 == 1
                if trace:
                    jvm.call("trace " + ("on" if traced else "off"))
                g = gen.call(f"backlog backlog-{k} {BACKLOG_FILES} {BACKLOG_EVENTS}")
                d = jvm.call(f"drain {k}")
                out["phases"].append({"traced": traced, "app_id": d["app_id"],
                                      "cp": d["app_id"], "dir": f"backlog-{k}",
                                      "start_ms": d["start_ms"],
                                      "wall_ms": d["wall_ms"], **g})
            if trace:
                jvm.call("trace on")
        timing["measured"] = time.time()
        out["finish"] = jvm.call("finish", timeout=120)
        timing["finished"] = time.time()
        if trace:
            src = "recent" if workload == "cdc_paced" else "backlog"
            gen.call(f"{src} speedup {SPEEDUP_FILES} {SPEEDUP_EVENTS}")
            out["speedup"] = jvm.call("speedup speedup", timeout=150)
        jvm.send("quit")
        gen.send("quit")
    finally:
        t0 = time.time()
        for p in (jvm, gen):
            if p is not None:
                p.stop()
        errlog.close()
        timing["stop_s"] = time.time() - t0
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WARMUP))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # on SIGTERM, unwind through the finally blocks that stop the children
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    classes = build()
    DEADLINE[0] = time.time() + RUN_LIMIT_S
    os.makedirs(RUNS, exist_ok=True)
    rundir = os.path.join(RUNS, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    try:
        out = run(a.workload, a.seed, a.seconds, a.trace, classes, rundir)
        t0 = time.time()
        result, wrong = check.evaluate(a.workload, rundir, out, a.trace)
        out["timing"]["check_s"] = time.time() - t0
        if result["failed"]:
            log(f"wrong table keys {wrong['wrong_keys'][:50]}, "
                f"wrong report rows {wrong['wrong_report_rows'][:50]}")
        last = os.path.join(RUNS, f"last-{a.workload}" + ("-traced" if a.trace else ""))
        shutil.rmtree(last, ignore_errors=True)
        os.makedirs(last)
        with open(os.path.join(last, "run.json"), "w") as f:
            json.dump({"run": out, "result": result, "wrong": wrong}, f, indent=1)
        if a.trace:
            shutil.copy(os.path.join(rundir, "spans.jsonl"), last)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
