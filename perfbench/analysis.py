"""Pure aggregation of the raw dumps written by the JVM side (PerfBench).

Nothing here touches Spark or the file system, so the rules the benchmark
reports by are unit-tested directly (perfbench/tests).
"""
import math
import statistics

# Per-pass counters that must repeat exactly for passes to be comparable.
STABLE_COUNTERS = ("exec.jobs", "exec.tasks", "ops.build_jobs",
                   "stream.batches", "write.files")

MB = float(1 << 20)


def percentile(values, p):
    """Linear-interpolated percentile (0 <= p <= 100) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def hd_percentile(values, p):
    """Harrell-Davis estimate of the p-th percentile: a Beta-weighted mean of
    all order statistics. Unlike interpolating between two neighbouring
    samples it does not jump when a few latencies trade ranks, which keeps
    percentiles of a small mixture of query latencies steady run to run."""
    xs = sorted(values)
    n = len(xs)
    if n < 2:
        return percentile(xs, p)
    a, b = p / 100.0 * (n + 1), (1 - p / 100.0) * (n + 1)
    log_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)

    def pdf(x):
        if x <= 0.0 or x >= 1.0:
            return 0.0
        return math.exp((a - 1) * math.log(x) + (b - 1) * math.log1p(-x) - log_beta)

    def weight(lo, hi, k=16):  # Simpson's rule over one order-statistic cell
        h = (hi - lo) / k
        inner = sum((4 if j % 2 else 2) * pdf(lo + j * h) for j in range(1, k))
        return (pdf(lo) + inner + pdf(hi)) * h / 3

    w = [weight(i / n, (i + 1) / n) for i in range(n)]
    return sum(wi * x for wi, x in zip(w, xs)) / sum(w)


def samples_beyond(n, p):
    """Ranks strictly above the position of the p-th percentile among n
    sorted samples (the position interpolated as in `percentile`)."""
    return n - 1 - math.floor((n - 1) * p / 100.0)


def highest_percentile(n, min_beyond=10, candidates=(50, 75, 90, 95, 99)):
    """The highest candidate percentile that keeps at least `min_beyond`
    samples beyond it, or None when even the lowest does not."""
    ok = [p for p in candidates if samples_beyond(n, p) >= min_beyond]
    return max(ok) if ok else None


def median(values):
    return statistics.median(values) if values else 0.0


def self_times(spans):
    """Self time (duration minus the duration of direct children) summed per
    span name, in seconds. Spans are dicts with id, parent, name, start_ns,
    end_ns."""
    child_ns = {}
    for s in spans:
        d = s["end_ns"] - s["start_ns"]
        child_ns[s["parent"]] = child_ns.get(s["parent"], 0) + d
    out = {}
    for s in spans:
        d = s["end_ns"] - s["start_ns"] - child_ns.get(s["id"], 0)
        out[s["name"]] = out.get(s["name"], 0.0) + d / 1e9
    return out


def owner(group, workload, streams):
    """The query a job group belongs to: `<workload>/<query>` groups name it
    directly, a stream run id maps through the query that started the
    stream, anything else is unattributed (None)."""
    prefix = workload + "/"
    if group.startswith(prefix):
        return group[len(prefix):]
    s = streams.get(group)
    return s["query"] if s else None


def attribute(records, keys, workload, streams):
    """Sum the counters `keys` of job or execution records per owning query.
    Unattributed records land under None."""
    out = {}
    for r in records:
        q = owner(r.get("group", ""), workload, streams)
        acc = out.setdefault(q, dict.fromkeys(keys, 0))
        for k in keys:
            acc[k] += r.get(k, 0)
    return out


JOB_KEYS = ("jobs", "stages", "tasks", "run_ms", "cpu_ns", "shuffle_write_bytes",
            "shuffle_read_bytes", "spill_bytes", "write_bytes", "write_rows")
EXEC_KEYS = ("analysis_ms", "optimizer_ms", "planning_ms", "scan_bytes",
             "scan_rows", "mem_scans", "write_files")


def per_query(p, workload):
    """Listener counters of one traced pass, attributed to queries by job
    group (None: records no query owns)."""
    streams = p.get("streams", {})
    jobs = attribute([dict(j, jobs=1) for j in p.get("jobs", [])], JOB_KEYS,
                     workload, streams)
    execs = attribute(p.get("execs", []), EXEC_KEYS, workload, streams)
    return {q: dict(jobs.get(q, dict.fromkeys(JOB_KEYS, 0)),
                    **execs.get(q, dict.fromkeys(EXEC_KEYS, 0)))
            for q in set(jobs) | set(execs)}


def build_phase_jobs(jobs, workload, streams):
    """Jobs launched inside builders: jobs tagged with the `build` phase, plus
    micro-batch jobs of streams started while a builder ran."""
    n = 0
    for j in jobs:
        if j["group"].startswith(workload + "/"):
            n += j["phase"] == "build"
        elif j["group"] in streams:
            n += 1
    return n


def pass_layers(p, workload):
    """Per-layer metrics of one traced pass."""
    jobs, execs = p.get("jobs", []), p.get("execs", [])
    progress, streams = p.get("progress", []), p.get("streams", {})
    spans = p.get("spans", [])

    def total(rs, k):
        return sum(r.get(k, 0) for r in rs)

    wall = p["wall_ns"] / 1e9
    st = self_times(spans)
    build_s = sum(q["build_ns"] for q in p["queries"]) / 1e9
    action_s = sum(q["action_ns"] for q in p["queries"]) / 1e9
    query_spans = [s for s in spans if s["name"] == "query"]
    covered = sum(s["end_ns"] - s["start_ns"] for s in spans
                  if s["name"] in ("build", "action")) / 1e9
    mem_scans = total(execs, "mem_scans")
    builds = len(p.get("cached_rdds", []))
    write_rows = total(jobs, "write_rows")
    write_bytes = total(jobs, "write_bytes")
    return {
        "scan.files_mb": total(execs, "scan_bytes") / MB,
        "scan.rows": total(execs, "scan_rows"),
        "scan.tasks": total(jobs, "scan_tasks"),
        "ops.build_s": build_s,
        "ops.build_jobs": build_phase_jobs(jobs, workload, streams),
        "ops.action_s": action_s,
        "plan.analysis_s": total(execs, "analysis_ms") / 1e3,
        "plan.optimizer_s": total(execs, "optimizer_ms") / 1e3,
        "plan.planning_s": total(execs, "planning_ms") / 1e3,
        "plan.rules_s": sum(s.get("rules_ns", 0) for s in query_spans) / 1e9,
        "codegen.compiles": sum(s["compiles"] for s in query_spans),
        "codegen.compile_s": sum(s["compile_ns"] for s in query_spans) / 1e9,
        "exec.run_s": total(jobs, "run_ms") / 1e3,
        "exec.jobs": len(jobs),
        "exec.stages": total(jobs, "stages"),
        "exec.tasks": total(jobs, "tasks"),
        "exec.task_cpu_s": total(jobs, "cpu_ns") / 1e9,
        "exec.gc_s": p["gc_ms"] / 1e3,
        "heap_peak_mb": p["heap_peak_bytes"] / MB,
        "shuffle.write_mb": total(jobs, "shuffle_write_bytes") / MB,
        "shuffle.read_mb": total(jobs, "shuffle_read_bytes") / MB,
        "spill.mb": total(jobs, "spill_bytes") / MB,
        "cache.persisted_rdds": p["persisted_rdds"],
        "cache.mem_mb": p["cache_mem_bytes"] / MB,
        "cache.builds": builds,
        "cache.hit_scans": mem_scans,
        "cache.hit_ratio": mem_scans / (mem_scans + builds) if mem_scans + builds else 0.0,
        "stream.batches": len(progress),
        "stream.trigger_s": total(progress, "trigger_ms") / 1e3,
        "stream.add_batch_s": total(progress, "add_batch_ms") / 1e3,
        "stream.wal_commit_s": total(progress, "wal_commit_ms") / 1e3,
        "stream.planning_s": total(progress, "planning_ms") / 1e3,
        "write.mb": write_bytes / MB,
        "write.files": total(execs, "write_files"),
        "write.rows": write_rows,
        "write.bytes_per_row": write_bytes / write_rows if write_rows else 0.0,
        "span.pass_self_s": st.get("pass", 0.0) + st.get("reset", 0.0),
        "span.query_self_s": st.get("query", 0.0),
        "span.build_self_s": st.get("build", 0.0),
        "span.action_self_s": st.get("action", 0.0),
        "span.coverage": covered / wall if wall else 0.0,
    }


def trace_overhead(passes):
    """Median ratio of each traced pass's wall time to the mean of its two
    untraced neighbours, which cancels the warm-up trend across passes.
    `passes` is the run-ordered list of (wall, traced)."""
    ratios = [w / ((passes[i - 1][0] + passes[i + 1][0]) / 2)
              for i, (w, t) in enumerate(passes)
              if t and 0 < i < len(passes) - 1
              and not passes[i - 1][1] and not passes[i + 1][1]]
    return median(ratios)


def drift(values_per_pass):
    """Counters whose value differs between passes: {name: [values]}."""
    out = {}
    for name in STABLE_COUNTERS:
        vals = [v[name] for v in values_per_pass]
        if len(set(vals)) > 1:
            out[name] = vals
    return out


def compare_golden(checks, golden):
    """Mismatches between output-check records and the golden digests:
    a list of (query, reason)."""
    bad = []
    for c in checks:
        q = c["query"]
        want = golden.get(q)
        if c.get("error"):
            bad.append((q, "error: " + c["error"]))
        elif want is None:
            bad.append((q, "no golden entry"))
        elif (c["rows"], c["hash"]) != (want["rows"], want["hash"]):
            bad.append((q, f"rows/hash {c['rows']}/{c['hash']} != "
                           f"{want['rows']}/{want['hash']}"))
    return bad
