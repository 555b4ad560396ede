#!/usr/bin/env python3
"""Run one benchmark workload end to end and print every metric.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first call builds the engine and the
harness from source (perfbench/build.py) under .bench_build/; later calls
reuse the build while the sources are unchanged. Each run then

1. generates the workload's input from --seed (perfbench/gen.py),
2. starts one JVM on the built classpath with a fixed heap and runs
   perfbench.Harness: an untimed pass that writes every result for the
   oracle check, then timed passes for --seconds (see Harness.scala),
3. checks every result against SparkEntry.oracleSql run in DuckDB on the
   same input, outside the timed region,
4. prints each metric as `name value unit`, then one JSON object as the last
   stdout line: end-to-end metrics with --trace 0, per-layer metrics (from
   the traced passes) with --trace 1.

A full report per run goes to .bench_build/perfbench/reports/.
"""
import argparse
import glob
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

WORK = build.WORK
HEAP = "3g"
YOUNG = "1g"
MIN_PASSES = 3
WARM_PASSES = 3
# JVM start, check and warm-up passes; with the timed passes, the oracle check
# and the first run's compile (build.COMPILE_TIMEOUT_S) it keeps a run within
# 180 s, and the first one within 900 s
SETUP_ALLOWANCE_S = 140

# Why each workload exists and what it is meant to move is in README.md.
WORKLOADS = {
    "fixed_cost": dict(copies=1, queries=[
        "q04_difference", "q26_acf", "q12_text_stats", "q15_dedup_exact",
        "q60_pack_sequences"]),
    "by_key_x20": dict(copies=20, queries=[
        "q42_sliding_rangepart", "q83_acf_by_key_fft", "q86_eval_naive_drift_by_key"]),
}
END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("query_p50_s", "s"), ("peak_mem_gb", "GB")]

JDK17_ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


def run_harness(cp, name, spec, data, out, tmp, seed, seconds, trace, failing):
    args = ["java", *[a for p in JDK17_ADD_OPENS for a in
                      ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
            # a fixed, pre-touched heap with a fixed young generation: the
            # resident-set peak less the heap is then the engine's native
            # memory, and what a collection leaves in the heap does not depend
            # on how G1 resized the young generation to meet its pause goal
            # on a busy host (that promoted 0.1-0.8 GB more from run to run)
            f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+AlwaysPreTouch",
            "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
            "-cp", cp, "perfbench.Harness",
            name, data, out, str(seed), str(seconds), str(MIN_PASSES), str(WARM_PASSES),
            str(trace), ",".join(spec["queries"])] + ([failing] if failing else [])
    with open(os.path.join(out, "jvm.log"), "w") as log:
        # few malloc arenas: otherwise how many the JVM's threads happen to
        # open swings its native resident set by tens of MB from run to run;
        # Spark binds to loopback, so a host name that does not resolve (as
        # in a network-less sandbox) cannot stop the session from starting
        env = dict(os.environ, MALLOC_ARENA_MAX="2", SPARK_LOCAL_IP="127.0.0.1",
                   SPARK_LOCAL_HOSTNAME="localhost")
        proc = subprocess.Popen(args, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env)
        try:
            rc = proc.wait(timeout=SETUP_ALLOWANCE_S + seconds)
        except subprocess.TimeoutExpired:
            fail(f"harness timed out; see {out}/jvm.log")
        finally:  # on a timeout, or when this process is told to stop
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(os.path.join(out, "jvm.log")) as f:
            tail = f.readlines()[-15:]
        fail(f"harness exited {rc}:\n" + "".join(tail))
    with open(os.path.join(out, "harness.json")) as f:
        return json.load(f)


# Same canonicalisation as tools/compare.py (the gate's DuckDB check): columns
# sorted by name, rows sorted, floats as %.9g, NaN as 'NaN', fetched through
# pandas so DuckDB HUGEINT becomes float64 exactly as in the gate.
def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    return str(v)


def _canon(df):
    cols = list(df.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(_norm(r[i]) for i in order) for r in df.itertuples(index=False)]
    return sorted(cols), sorted(rows)


def oracle_check(data, tables, out, names, errored):
    """Returns {query: 'ok' | 'mismatch: …' | 'no oracle' | 'failed'}."""
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in tables:
        path = f"{data}/{t}.parquet"
        path += "/*.parquet" if os.path.isdir(path) else ""
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    verdict = {}
    for q in names:
        if q in errored:
            verdict[q] = "failed"
        elif q not in oracle:
            verdict[q] = "no oracle"
        else:
            try:
                oc, orows = _canon(con.execute(oracle[q]).df())
                sc, srows = _canon(con.execute(
                    f"SELECT * FROM '{out}/results/{q}/*.parquet'").df())
                verdict[q] = ("ok" if (oc, orows) == (sc, srows) else
                              f"mismatch: schema {oc} vs {sc}" if oc != sc else
                              f"mismatch: rows {len(orows)} vs {len(srows)}"
                              if len(orows) != len(srows) else "mismatch: values")
            except Exception as e:  # an oracle that cannot run is a mismatch
                verdict[q] = f"mismatch: {type(e).__name__}: {str(e)[:200]}"
    con.close()
    return verdict


def corrupt_one_row(out, q):
    """Self-check hook: change one value of one result row."""
    import pyarrow.parquet as pq
    import pyarrow as pa
    path = sorted(glob.glob(f"{out}/results/{q}/*.parquet"))
    tables = [pq.read_table(p) for p in path]
    idx = next(i for i, t in enumerate(tables) if t.num_rows > 0)
    t = tables[idx]
    col = t.column(0).to_pylist()
    col[0] = (col[0] + 1) if isinstance(col[0], (int, float)) else f"{col[0]}~"
    pq.write_table(t.set_column(0, t.field(0), pa.array(col, t.column(0).type)), path[idx])


def peak_mem_bytes(h):
    """Native memory (resident-set peak less the fixed, pre-touched heap) plus
    the largest heap in use after a collection during the timed passes."""
    native = h["peak_rss_kb"] * 1024 - h["heap_committed_bytes"]
    return native + h["heap_after_gc_peak_bytes"]


def end_to_end(h, setup_s):
    passes = [p for p in h["passes"] if p["traced"] is False]
    per_query = {}
    for p in passes:
        for q in p["queries"]:
            if q["error"] is None:
                per_query.setdefault(q["q"], []).append((q["build_ms"] + q["action_ms"]) / 1e3)
    return {
        "setup_s": setup_s,
        "pass_s": statistics.median(p["wall_ms"] for p in passes) / 1e3,
        # the typical query: median over queries of each one's median latency
        "query_p50_s": statistics.median(statistics.median(v) for v in per_query.values()),
        "peak_mem_gb": peak_mem_bytes(h) / 1e9,
    }, tail(sorted(t for v in per_query.values() for t in v))


def tail(latencies):
    """The highest percentile with at least 10 samples beyond it, as
    (percentile, value in s, samples); (None, None, n) below 11 samples."""
    n = len(latencies)
    if n < 11:
        return None, None, n
    return (n - 10) * 100 // n, latencies[n - 11], n


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    # self-check hooks (perfbench/selfcheck.py), never used by a measured run
    ap.add_argument("--make-throw", help=argparse.SUPPRESS)
    ap.add_argument("--corrupt-row", help=argparse.SUPPRESS)
    a = ap.parse_args()
    # a stop request unwinds through the handlers that end the child processes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources under {ROOT}; run from a full checkout")
    spec = WORKLOADS[a.workload]

    try:
        cp, stamp = build.build()
    except build.BuildError as e:
        fail(str(e))
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    data, out = os.path.join(WORK, "data", tag), os.path.join(WORK, "out", tag)
    tmp = os.path.join(out, "tmp")
    for d in (data, out):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    manifest = gen.generate(data, a.seed, spec["copies"])
    t_launch = time.time()
    h = run_harness(cp, a.workload, spec, data, out, tmp, a.seed, a.seconds, a.trace,
                    a.make_throw)
    shutil.rmtree(tmp, ignore_errors=True)
    setup_s = h["setup_done_ms"] / 1e3 - t0
    errored = set(h["check_errors"])
    if a.corrupt_row:
        corrupt_one_row(out, a.corrupt_row)
    verdict = oracle_check(data, manifest, out, spec["queries"], errored)
    mismatched = sorted(q for q, v in verdict.items() if v.startswith("mismatch"))

    timed = [q for p in h["passes"] for q in p["queries"]]
    attempted = len(spec["queries"]) + len(timed)
    failed = len(errored) + sum(1 for q in timed if q["error"] is not None)
    e2e, (tail_pct, tail_s, samples) = end_to_end(h, setup_s)
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "host": dict(h["env"], heap=HEAP, young=YOUNG, git_commit=git_commit(),
                     source_sha256=stamp),
        "warm_passes": WARM_PASSES,
        "input": {"base": "gate sf0.01", "copies": spec["copies"], "tables": manifest},
        "queries": spec["queries"], "passes": len(h["passes"]),
        "oracle": verdict, "oracle_mismatches": mismatched,
        "check_errors": h["check_errors"],
        "failed_frac": failed / attempted, "attempted": attempted, "failed": failed,
        "end_to_end": e2e, "query_samples": samples,
        "query_tail": {"percentile": tail_pct, "s": tail_s},
        "setup_parts_s": {"input_generation": t_launch - t0,
                          "session": h["session_ms"] / 1e3,
                          "check_and_warm_passes": h["warm_ms"] / 1e3,
                          "check_by_query": {q: ms / 1e3 for q, ms in h["check_ms"].items()}},
    }
    if a.trace:
        per_layer, per_query = layers.compute(h, manifest)
        report.update(per_layer=per_layer, per_query=per_query)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
    else:
        units = dict(END_TO_END)
        metrics = {k: {"value": e2e[k], "unit": units[k]} for k, _ in END_TO_END}
    os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
    with open(os.path.join(WORK, "reports", tag + ".json"), "w") as f:
        json.dump(report, f, indent=1)
    shutil.rmtree(data, ignore_errors=True)

    print(f"# workload {a.workload} seed {a.seed} trace {a.trace}: "
          f"{len(spec['queries'])} queries x {len(h['passes'])} timed passes, "
          f"gate sf0.01 x{spec['copies']}, nproc {h['env']['nproc']}, heap {HEAP}")
    for k, m in metrics.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    print(f"failed_frac {failed / attempted:.6g} frac")
    print(f"oracle_mismatches {len(mismatched)} count"
          + (f" ({', '.join(mismatched)})" if mismatched else ""))
    if not a.trace:
        # not in BENCHMARK.json: a run affords 20-40 samples, so the tail is
        # a p50-p75 of few points and too unsteady to gate on
        print(f"query_tail_s {tail_s if tail_s is None else f'{tail_s:.6g}'} s "
              f"(p{tail_pct} of {samples} query executions)")
    print(json.dumps({"correct": not mismatched and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
