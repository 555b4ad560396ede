"""Per-layer metrics from the harness's traced passes.

Spans nest query > phase (build | action) > job > stage. A span's self time
is its duration minus the part of it that its children cover. Every metric is
summed over the queries of one traced pass, then the median over traced
passes is reported; `per_query` holds the same sums per query.

Jobs are charged to a repo module by the first `graft.<module>` frame of the
job's call site (`SparkEntry.tbl` counts as `ingest`, the rest of
`SparkEntry` as `entry`). A job whose call site has no engine frame, such as
one started from a CompletableFuture or by the benchmark's own action, is
charged by the creation sites of its stages instead: first the long-form
sites of its other stages, then the short-form sites of their RDDs
(`mapPartitions at RangeWindow.scala:77`), whose file names the engine's
source tree maps to modules. What is left is `unattributed`.
"""
import glob
import os
import statistics

MODULES = ["ingest", "entry", "core", "ops", "agg", "spectral", "models", "text",
           "dedup", "similarity", "pipeline", "multimodal", "unattributed"]
_LEDGER = set(MODULES) - {"entry", "unattributed"}
# The ledger entries that read above 0 on some workload. The others stay in
# the per-query report: entry, core, agg, text and dedup jobs all start
# behind a CompletableFuture or the benchmark's own action, or under another
# module's frame, and no workload query uses similarity or multimodal.
REPORTED = ["ingest", "ops", "spectral", "models", "pipeline", "unattributed"]
SKEW_MIN_TASK_MS = 20  # stages whose longest task is shorter say nothing of skew


SRC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "src", "main", "scala", "graft")


def source_modules():
    """{source file name: module} over the engine's module directories."""
    files = {"SparkEntry.scala": "entry"}
    for mod in sorted(_LEDGER):
        for f in glob.glob(os.path.join(SRC, mod, "**", "*.scala"), recursive=True):
            files[os.path.basename(f)] = mod
    return files


def _frames_module(stack):
    """Module of the first engine frame of a long-form call site, or None."""
    for frame in stack.splitlines():
        parts = frame.strip().split("(")[0].split(".")
        if len(parts) < 3 or parts[0] != "graft":
            continue
        if parts[1] in _LEDGER:
            return parts[1]
        if parts[1].rstrip("$") == "SparkEntry":
            return "ingest" if parts[2] == "tbl" else "entry"
    return None


def module_of(sites, files):
    for stack in [sites["job"]] + sites["stages"]:
        mod = _frames_module(stack)
        if mod:
            return mod
    for short in sites["rdds"]:
        mod = files.get(short.rsplit(" at ", 1)[-1].split(":")[0])
        if mod:
            return mod
    return "unattributed"


def union_len(intervals, lo, hi):
    """Length of the union of [a, b) intervals clipped to [lo, hi)."""
    total, end = 0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a or b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _zero():
    m = {k: 0.0 for k in (
        "entry.build_ms", "entry.build_jobs", "ingest.jobs", "ingest.ms",
        "plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms",
        "sched.jobs", "sched.stages", "sched.tasks", "sched.failed_tasks",
        "sched.driver_residual_ms", "exec.run_ms", "exec.cpu_ms", "exec.gc_ms",
        "exec.task_ms", "shuffle.write_bytes", "shuffle.read_bytes",
        "shuffle.fetch_wait_ms", "shuffle.spill_bytes", "scan.bytes_read",
        "scan.table_bytes", "codegen.pass_compiles", "codegen.pass_compile_ms",
        "wall_ms", "self_ms")}
    m.update({f"jobs.{mod}": 0.0 for mod in MODULES})
    m.update({f"job_ms.{mod}": 0.0 for mod in MODULES})
    m["exec.task_skew"] = 1.0
    return m


def _per_query(h, table_bytes):
    """{(pass, query): metrics} for every query of every traced pass."""
    tr, files = h["trace"], source_modules()
    stages_of = {}
    for s in tr["stages"]:
        stages_of.setdefault(s["job"], []).append(s)
    jobs_of = {}
    for j in tr["jobs"]:
        jobs_of.setdefault(j["parent"], []).append(j)
    codegen = {c["span"]: c for c in tr["codegen"]}
    qes = sorted(tr["query_executions"], key=lambda e: e["start_us"])
    out = {}
    for p in h["passes"]:
        if not p["traced"]:
            continue
        for q in p["queries"]:
            m = _zero()
            qs, qe = q["start_us"], q["end_us"]
            split = qs + round(q["build_ms"] * 1e3)
            phases = {"build": (qs, split), "action": (split, qe)}
            m["wall_ms"] = (qe - qs) / 1e3
            m["entry.build_ms"] = q["build_ms"]
            self_us = (qe - qs) - union_len(phases.values(), qs, qe)
            job_spans = []
            for ph, (a, b) in phases.items():
                jobs = jobs_of.get(f"{p['pass']}/{q['q']}/{ph}", [])
                spans = [(j["start_us"], j["end_us"]) for j in jobs]
                job_spans += spans
                self_us += (b - a) - union_len(spans, a, b)
                if ph == "build":
                    m["entry.build_jobs"] = len(jobs)
                for j in jobs:
                    dur = (j["end_us"] - j["start_us"]) / 1e3
                    mod = module_of(j["callsites"], files)
                    m[f"jobs.{mod}"] += 1
                    m[f"job_ms.{mod}"] += dur
                    sts = stages_of.get(j["job"], [])
                    self_us += (j["end_us"] - j["start_us"]) - union_len(
                        [(s["start_us"], s["end_us"]) for s in sts],
                        j["start_us"], j["end_us"])
                    for s in sts:
                        self_us += s["end_us"] - s["start_us"]
                        _add_stage(m, s)
                m["sched.jobs"] += len(jobs)
            m["ingest.jobs"], m["ingest.ms"] = m["jobs.ingest"], m["job_ms.ingest"]
            m["sched.driver_residual_ms"] = (
                (qe - qs) - union_len(job_spans, qs, qe)) / 1e3
            m["self_ms"] = self_us / 1e3
            for ph in phases:
                c = codegen.get(f"{p['pass']}/{q['q']}/{ph}", {})
                m["codegen.pass_compiles"] += c.get("compiles", 0)
                m["codegen.pass_compile_ms"] += c.get("compile_ms", 0)
            scanned = set()
            for e in qes:
                if qs <= e["start_us"] < qe:
                    for k in ("analysis", "optimization", "planning"):
                        m[f"plan.{k}_ms"] += e[f"{k}_ms"]
                    for s in e["scans"]:
                        m["scan.bytes_read"] += s["bytes"]
                        scanned.add(os.path.basename(s["path"].rstrip("/")))
            m["scan.table_bytes"] = sum(table_bytes.get(t, 0) for t in scanned)
            out[(p["pass"], q["q"])] = m
    return out


def _add_stage(m, s):
    m["sched.stages"] += 1
    m["sched.tasks"] += s["tasks"]
    m["sched.failed_tasks"] += s["failed_tasks"]
    for k, src in (("exec.run_ms", "run_ms"), ("exec.cpu_ms", "cpu_ms"),
                   ("exec.gc_ms", "gc_ms"), ("exec.task_ms", "task_ms"),
                   ("shuffle.write_bytes", "shuffle_write_bytes"),
                   ("shuffle.read_bytes", "shuffle_read_bytes"),
                   ("shuffle.fetch_wait_ms", "fetch_wait_ms"),
                   ("shuffle.spill_bytes", "spill_bytes")):
        m[k] += s[src]
    runs = s["task_run_ms"]
    if len(runs) >= 2 and max(runs) >= SKEW_MIN_TASK_MS:
        m["exec.task_skew"] = max(m["exec.task_skew"],
                                  max(runs) / max(1.0, statistics.median(runs)))


def compute(h, manifest):
    """Returns ({metric: (value, unit)}, {query: {metric: value}})."""
    table_bytes = {f"{t}.parquet": v["bytes"] for t, v in manifest.items()}
    nproc = h["env"]["nproc"]
    perq = _per_query(h, table_bytes)
    traced = [p for p in h["passes"] if p["traced"]]
    untraced = [p for p in h["passes"] if not p["traced"]]
    rows = []
    for p in traced:
        qs = [m for (pid, _), m in perq.items() if pid == p["pass"]]
        tot = {k: sum(m.get(k, 0) for m in qs) for k in qs[0] if k != "exec.task_skew"}
        tot["exec.task_skew"] = max(m["exec.task_skew"] for m in qs)
        tot["exec.busy_frac"] = tot["exec.task_ms"] / (nproc * p["wall_ms"])
        tot["exec.gc_frac"] = tot["exec.gc_ms"] / max(1, tot["exec.run_ms"])
        tot["shuffle.fetch_wait_frac"] = tot["shuffle.fetch_wait_ms"] / max(1, tot["exec.run_ms"])
        for mod in MODULES:
            tot[f"job_frac.{mod}"] = tot[f"job_ms.{mod}"] / p["wall_ms"]
        tot["scan.read_amp"] = tot["scan.bytes_read"] / max(1, tot["scan.table_bytes"])
        tot["jobs.attributed_frac"] = 1 - tot["jobs.unattributed"] / max(1, tot["sched.jobs"])
        tot["trace.coverage_frac"] = sum(
            1 for m in qs if abs(m["self_ms"] - m["wall_ms"]) <= 0.1 * m["wall_ms"]) / len(qs)
        rows.append(tot)
    med = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    med["trace.overhead_frac"] = (
        statistics.median(p["wall_ms"] for p in traced)
        / statistics.median(p["wall_ms"] for p in untraced) - 1)
    med["codegen.compiles"] = h["codegen_run"]["compiles"]
    med["codegen.compile_ms"] = h["codegen_run"]["compile_ms"]
    per_layer = {k: (med[k], unit_of(k)) for k in PER_LAYER}
    per_query = {}
    for (pid, q), m in perq.items():
        acc = per_query.setdefault(q, {})
        for k, v in m.items():
            acc.setdefault(k, []).append(v)
    per_query = {q: {k: statistics.median(v) for k, v in acc.items()}
                 for q, acc in per_query.items()}
    return per_layer, per_query


def unit_of(k):
    if k.endswith("_ms") or k == "ingest.ms":
        return "ms"
    if k.endswith("_bytes") or k == "scan.bytes_read":
        return "bytes"
    if k.endswith(("_frac", "_amp", "_skew")) or k.startswith("job_frac."):
        return "ratio"
    return "count"


PER_LAYER = (
    ["entry.build_ms", "entry.build_jobs", "ingest.jobs", "ingest.ms",
     "plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms",
     "codegen.compiles", "codegen.compile_ms", "codegen.pass_compiles",
     "sched.jobs", "sched.stages", "sched.tasks", "sched.failed_tasks",
     "sched.driver_residual_ms",
     "exec.run_ms", "exec.cpu_ms", "exec.gc_frac", "exec.busy_frac", "exec.task_skew",
     "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_frac",
     "shuffle.spill_bytes", "scan.bytes_read", "scan.read_amp"]
    + [f"jobs.{m}" for m in REPORTED] + [f"job_frac.{m}" for m in REPORTED]
    + ["jobs.attributed_frac", "trace.overhead_frac", "trace.coverage_frac"])
