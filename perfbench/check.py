"""Correctness check and metric extraction for perfbench runs.

The check replays every generated envelope on its own, in DuckDB: per key
the newest event by (ts_ms, lsn) wins and a delete removes the key. It never
calls the system; it reads the generator's files and the table dump the
harness wrote. The prime report is recomputed from that replay and compared
row by row with the report the system produced.

Metrics come from three sources: the harness's replies, the table's
`_delta_log` (commits, txn marks, added and removed files, checkpoints), and
the streaming checkpoints' source logs, which name the batch that read each
envelope file. Event-to-commit latency joins the three: an event's file, the
batch that read it, the commit whose `txn` carries that batch.
"""
import glob
import json
import os
import statistics
from decimal import ROUND_HALF_UP, Decimal

import duckdb

ROW = ("id", "id_employee", "first_name", "last_name", "start_datetime",
       "sport_type", "distance", "activity_duration", "comment")
ROW_TYPE = ("STRUCT(id INTEGER, id_employee INTEGER, first_name VARCHAR, "
            "last_name VARCHAR, start_datetime BIGINT, sport_type VARCHAR, "
            "distance INTEGER, activity_duration INTEGER, comment VARCHAR)")
ENVELOPE = {"payload": f"STRUCT(before {ROW_TYPE}, after {ROW_TYPE}, "
                       "source STRUCT(lsn BIGINT), op VARCHAR, ts_ms BIGINT)"}


# --- replay ----------------------------------------------------------------------
def replay(con, dirs):
    """Creates table `expected`: the rows left after applying, per key, the
    newest event by (ts_ms, lsn); returns the number of events read."""
    files = [p for d in dirs for p in sorted(glob.glob(os.path.join(d, "ev-*.json")))]
    con.execute(f"""
        CREATE OR REPLACE TABLE events AS
        SELECT coalesce(payload.after.id, payload.before.id) AS key,
               payload.ts_ms AS ts_ms, payload.source.lsn AS lsn,
               payload.op AS op, payload.after AS after
        FROM read_json($files, format = 'newline_delimited', columns = {ENVELOPE})""",
                {"files": files})
    con.execute(f"""
        CREATE OR REPLACE TABLE expected AS
        SELECT {", ".join("after." + c for c in ROW)} FROM events
        QUALIFY row_number() OVER (PARTITION BY key ORDER BY ts_ms DESC, lsn DESC) = 1
                AND op <> 'd'""")
    return con.execute("SELECT count(*) FROM events").fetchone()[0]


def wrong_keys(con, actual):
    """Ids whose row in the parquet dump `actual` differs from `expected`,
    is missing, or should not be there."""
    cols = ", ".join(ROW)
    return [r[0] for r in con.execute(f"""
        WITH a AS (SELECT {cols} FROM read_parquet($p)),
             bad AS ((SELECT * FROM expected EXCEPT SELECT * FROM a)
                     UNION ALL (SELECT * FROM a EXCEPT SELECT * FROM expected))
        SELECT DISTINCT id FROM bad ORDER BY id""",
                                      {"p": os.path.join(actual, "*.parquet")}).fetchall()]


# --- the prime report ------------------------------------------------------------
def round2(x):
    return float(Decimal(repr(x)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))


# The reference's commute rule: only these transport modes earn the prime,
# and only within their distance limit in meters.
COMMUTE_LIMIT_M = {"Marche/running": 15000, "Vélo/Trottinette/Autres": 25000}
EMPLOYEE_IDS = range(10001, 10162)  # the 161 employees of the reference


def report_oracle(con, employees):
    """`Ops.validateCommutes` + `Ops.buildFinal` + `Ops.benefitReport` over
    `expected`, from the raw employee rows and their stubbed commute distance:
    id_employee -> the report columns in REPORT_COLS order."""
    stats = {e: (n, total) for e, n, total in con.execute(
        "SELECT id_employee, count(*), sum(activity_duration) FROM expected GROUP BY 1"
    ).fetchall()}
    out = {}
    for e in employees:
        k = e["id_employee"]
        if k not in EMPLOYEE_IDS:
            out[k] = "not an employee of the reference"
            continue
        n, total = stats.get(k, (0, 0))
        limit = COMMUTE_LIMIT_M.get(e["transport_mode"])
        distance = None if limit is None else Decimal(e["distance_m"]).quantize(Decimal("0.01"))
        valid = limit is not None and e["distance_m"] <= limit
        prime = round2(e["gross_salary"] * 0.05) if valid else 0.0
        out[k] = (e["gross_salary"], e["business_unity"], e["constract_type"],
                  distance, valid, n >= 15,
                  total / n if n else None, prime, e["gross_salary"] + prime)
    # an employee missing from the fixture can match no report row
    for k in EMPLOYEE_IDS:
        out.setdefault(k, "missing from Fixtures.employees")
    return out


REPORT_COLS = ("gross_salary", "business_unity", "constract_type", "calculed_distance",
               "commute_valid", "is_valid_activities", "mean_duration",
               "commute_prime", "total_salary")


def read_rows(con, path):
    """The rows of a parquet dump as dicts."""
    cur = con.execute("SELECT * FROM read_parquet($p)", {"p": os.path.join(path, "*.parquet")})
    names = [d[0] for d in cur.description]
    return [dict(zip(names, r)) for r in cur.fetchall()]


def report_state(rows):
    return {r["id_employee"]: tuple(r[c] for c in REPORT_COLS) for r in rows}


def diff_keys(expected, actual):
    """Keys whose value differs, is missing, or should not be there."""
    return sorted(k for k in expected.keys() | actual.keys()
                  if expected.get(k) != actual.get(k))


# --- delta log and checkpoints ---------------------------------------------------------
def delta_commits(table):
    """version -> {mtime_ms, txn, adds, add_bytes, removes}."""
    out = {}
    for path in glob.glob(os.path.join(table, "_delta_log", "*.json")):
        v = int(os.path.basename(path).split(".")[0])
        c = {"mtime_ms": os.stat(path).st_mtime_ns / 1e6, "txn": None,
             "adds": 0, "add_bytes": 0, "removes": 0}
        with open(path) as f:
            for line in f:
                a = json.loads(line)
                if "txn" in a:
                    c["txn"] = (a["txn"]["appId"], a["txn"]["version"])
                elif "add" in a:
                    c["adds"] += 1
                    c["add_bytes"] += a["add"]["size"]
                elif "remove" in a:
                    c["removes"] += 1
        out[v] = c
    return out


def checkpoint_versions(table):
    names = glob.glob(os.path.join(table, "_delta_log", "*.checkpoint*.parquet"))
    return {int(os.path.basename(n).split(".")[0]) for n in names}


def file_batches(cp):
    """envelope file name -> batch id, from the file source's log."""
    out = {}
    for path in glob.glob(os.path.join(cp, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def query_id(cp):
    with open(os.path.join(cp, "metadata")) as f:
        return json.load(f)["id"]


def weighted_quantile(pairs, q):
    """pairs of (value, weight); the value at cumulative weight share q."""
    pairs = sorted(pairs)
    total = sum(w for _, w in pairs)
    acc = 0
    for v, w in pairs:
        acc += w
        if acc >= q * total:
            return v
    return pairs[-1][0]


def median(xs):
    return statistics.median(xs) if xs else float("nan")


# --- evaluation ------------------------------------------------------------------
def phase_stats(rundir, phase, commits):
    """Per-event latencies, the batches used and the drain rate of one phase."""
    cp = os.path.join(rundir, "cp", phase["cp"])
    fb = file_batches(cp)
    by_txn = {c["txn"]: v for v, c in commits.items() if c["txn"]}
    lat, versions, batches = [], set(), {}
    for f in phase["files"]:
        b = fb[f["file"]]  # KeyError: a published file no batch read
        v = by_txn[(phase["app_id"], b)]  # KeyError: a batch with no commit
        versions.add(v)
        batches.setdefault(b, []).append(f)
        lat.append(((commits[v]["mtime_ms"] - f["ts_ms"]) / 1000.0, f["events"]))
    events = sum(f["events"] for f in phase["files"])
    last = max(commits[v]["mtime_ms"] for v in versions)
    rate = events / ((last - phase["start_ms"]) / 1000.0)
    # files published but not yet read when each batch committed
    backlog = 0
    read = 0
    for b in sorted(batches):
        read += len(batches[b])
        t = commits[by_txn[(phase["app_id"], b)]]["mtime_ms"]
        published = sum(1 for f in phase["files"] if f["publish_ms"] <= t)
        backlog = max(backlog, published - read)
    return {"lat": lat, "versions": versions, "events": events, "rate": rate,
            "qid": query_id(cp), "file_batch": fb, "backlog_files_max": backlog}


def metric(value, unit):
    return {"value": value, "unit": unit}


def evaluate(workload, rundir, out, trace):
    indir = os.path.join(rundir, "in")
    table = os.path.join(rundir, "table")
    fin = out["finish"]

    # correctness: table vs replay, report vs oracle
    dirs = [os.path.join(indir, "preload"), os.path.join(indir, "warmup")]
    dirs += sorted({os.path.join(indir, p["dir"]) for p in out["phases"]})
    con = duckdb.connect()
    n_events = replay(con, dirs)
    bad_keys = wrong_keys(con, os.path.join(rundir, "out", "table"))
    want = report_oracle(con, read_rows(con, os.path.join(rundir, "out", "employees")))
    got = report_state(read_rows(con, os.path.join(rundir, "out", "report")))
    bad_report = diff_keys(want, got)
    con.close()
    attempted = n_events + len(want)
    failed = len(bad_keys) + len(bad_report)

    commits = delta_commits(table)
    phases = [dict(p, **phase_stats(rundir, p, commits)) for p in out["phases"]]
    timed = [p for p in phases if not p["traced"]]

    def e2c(q):
        # percentiles over the events of each phase (the paced run, or one
        # drain), then the median over phases: the p90 of events pooled over
        # a few drains would be the single slowest drain
        return median([weighted_quantile(p["lat"], q) for p in timed])
    reports = fin["report_ms"]

    if not trace:
        m = {
            "setup_s": metric(out["setup_s"], "s"),
            "e2c_p50_s": metric(e2c(0.5), "s"),
            "e2c_p90_s": metric(e2c(0.9), "s"),
            "drain_events_per_s": metric(median([p["rate"] for p in timed]), "1/s"),
            "report_s": metric(median(reports) / 1000.0, "s"),
            "live_heap_mb": metric(fin["live_heap_mb"], "MB"),
        }
    else:
        m = layer_metrics(workload, out, phases, timed, commits, table, failed, attempted)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": m}, {"wrong_keys": bad_keys, "wrong_report_rows": bad_report}


def layer_metrics(workload, out, phases, timed, commits, table, failed, attempted):
    fin = out["finish"]
    L = fin["layers"]
    traced = [p for p in phases if p["traced"]]
    # events the traced batches read, through the checkpoint file maps
    traced_batches = {(b[0], b[1]) for b in L["batch_list"]}
    events_in = 0
    for p in phases:
        for f in p["files"]:
            if (p["qid"], p["file_batch"][f["file"]]) in traced_batches:
                events_in += f["events"]
    nb = max(L["batches"], 1)
    d = L["durations_ms"]
    versions = set().union(*(p["versions"] for p in traced))
    cs = [commits[v] for v in versions]
    ev_traced = sum(p["events"] for p in traced)
    per_k = 1000.0 / ev_traced
    cps = checkpoint_versions(table)
    wall = L["window_ms"] / 1000.0
    cpu = L["task_cpu_ns"] / 1e9
    mb = 1048576.0

    if workload == "cdc_paced":
        def p50(ps):
            return weighted_quantile([x for p in ps for x in p["lat"]], 0.5)
        overhead = p50(traced) / p50(timed) - 1.0
    else:
        overhead = median([p["wall_ms"] / p["events"] for p in traced]) / \
            median([p["wall_ms"] / p["events"] for p in timed]) - 1.0
    sp = out["speedup"]
    rep_traced = fin["report_ms_traced"]
    n_rep = max(fin["reports_traced"], 1)

    m = {
        "streaming.batches": metric(L["batches"], "count"),
        "streaming.trigger_s": metric(d.get("triggerExecution", 0) / nb / 1000.0, "s"),
        "streaming.add_batch_s": metric(d.get("addBatch", 0) / nb / 1000.0, "s"),
        "streaming.planning_s": metric(d.get("queryPlanning", 0) / nb / 1000.0, "s"),
        "streaming.wal_s": metric(d.get("walCommit", 0) / nb / 1000.0, "s"),
        "streaming.events_per_batch": metric(events_in / nb, "count"),
        "streaming.source_reads_per_event": metric(L["input_rows"] / max(events_in, 1), "ratio"),
        "streaming.backlog_files_max": metric(max(p["backlog_files_max"] for p in traced), "count"),
        "delta.commits": metric(len(cs) * per_k, "1/1k_events"),
        "delta.checkpoints": metric(len(cps & versions) * per_k, "1/1k_events"),
        "delta.files_added": metric(sum(c["adds"] for c in cs) * per_k, "1/1k_events"),
        "delta.files_removed": metric(sum(c["removes"] for c in cs) * per_k, "1/1k_events"),
        "delta.bytes_written_per_event": metric(sum(c["add_bytes"] for c in cs) / ev_traced, "B"),
        "delta.live_files_end": metric(fin["live_files"], "count"),
        "delta.live_mb_end": metric(fin["live_bytes"] / mb, "MB"),
        "delta.snapshot_s": metric(fin["snapshot_ms"] / 1000.0, "s"),
        "delta.read_s": metric(fin["read_ms"] / 1000.0, "s"),
        "driver.analysis_s": metric(L["analysis_ms"] / nb / 1000.0, "s"),
        "driver.optimization_s": metric(L["optimization_ms"] / nb / 1000.0, "s"),
        "driver.planning_s": metric(L["planning_ms"] / nb / 1000.0, "s"),
        "driver.jobs_per_batch": metric(L["batch_jobs"] / nb, "count"),
        "driver.stages": metric(L["stages"] / nb, "count"),
        "exec.task_run_s": metric(L["task_run_ms"] / nb / 1000.0, "s"),
        "exec.task_cpu_s": metric(cpu / nb, "s"),
        "exec.gc_s": metric(L["gc_ms"] / nb / 1000.0, "s"),
        "exec.cpu_util": metric(cpu / (wall * out["cores"]), "ratio"),
        "exec.shuffle_read_mb": metric(L["shuffle_read_b"] / nb / mb, "MB"),
        "exec.shuffle_write_mb": metric(L["shuffle_write_b"] / nb / mb, "MB"),
        "exec.spill_mb": metric(L["spill_b"] / nb / mb, "MB"),
        "exec.input_mb": metric(L["input_b"] / nb / mb, "MB"),
        "exec.output_mb": metric(L["output_b"] / nb / mb, "MB"),
        "exec.task_skew": metric(L["skew_max_ms"] / max(L["skew_median_ms"], 1.0), "ratio"),
        "exec.speedup_vs_1core": metric(sp["wall_ms_1"] / sp["wall_ms_n"], "ratio"),
        "codegen.compile_s": metric(L["codegen_compile_s"], "s"),
        "codegen.classes": metric(L["codegen_classes"], "count"),
        "queries.prime_report_s": metric(median(rep_traced) / 1000.0, "s"),
        "queries.prime_report.jobs": metric(fin["report_jobs"] / n_rep, "count"),
        "queries.prime_report.job_share": metric(
            fin["report_job_ms"] / max(fin["report_span_ms"], 1e-9), "ratio"),
        "gen.events": metric(ev_traced, "count"),
        "gen.late_max_s": metric(max(p["late_max_s"] for p in phases), "s"),
        "trace.overhead_frac": metric(overhead, "ratio"),
        "check.failed_frac": metric(failed / attempted, "ratio"),
    }
    return m
