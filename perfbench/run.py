"""End-to-end, layer-by-layer benchmark of the graft engine.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (offline) and generates the input tables;
later runs reuse both while the sources are unchanged. Build outputs,
inputs, logs and per-run results live under `.bench_build/`.

A run starts one JVM in a fresh scratch directory, so the engine's
cross-process caches start empty and their one-time writes land in the
set-up. The JVM times its set-up (JVM start, session, one untimed cold
pass that also checks every query's output against perfbench/golden.json),
runs one untimed warm-up pass, then timed passes over the workload for
`--seconds` (at least the workload's `passes`, perfbench/workloads.json),
and checks the outputs again. One client runs the queries one after
another (a closed loop), in the order the seed draws.

With --trace 0 the last stdout line reports the end-to-end metrics, with
--trace 1 the per-layer ones; the full record (config, output checks,
counter drift, spans and listener counters) goes to
`.bench_build/results/`.

    python3 perfbench/run.py --update-golden   # rewrite golden.json
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import analysis  # noqa: E402

WORK = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
RUN_DEADLINE_S = 170.0
BUILD_TIMEOUT_S = 850.0

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def load_json(path):
    with open(path) as f:
        return json.load(f)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build


def source_stamp():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark once per source state; return classpath."""
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        raise BenchError("engine sources not found under src/main/scala")
    stamp = source_stamp()
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    if (os.path.isfile(cp_file) and os.path.isfile(stamp_file)
            and open(stamp_file).read() == stamp):
        return open(cp_file).read()
    os.makedirs(WORK, exist_ok=True)
    spark_submit = shutil.which("spark-submit")
    spark_home = os.environ.get("SPARK_HOME") or (
        spark_submit and os.path.dirname(os.path.dirname(os.path.realpath(spark_submit))))
    if not spark_home:
        raise BenchError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and benchmark with sbt")
    t0 = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as out:
        # sbt's launcher starts its JVM as a child: run it in its own
        # process group so a timeout stops both.
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise BenchError(f"sbt build ran past {BUILD_TIMEOUT_S:.0f} s")
        out.write(stdout)
    # `export` prints the classpath as the one line without a log prefix
    lines = [ln for ln in stdout.splitlines() if ln and not ln.startswith("[")]
    if proc.returncode != 0 or not lines:
        raise BenchError(f"sbt build failed (see {WORK}/build.log)")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return classpath


def ensure_data(scale, seed):
    d = os.path.join(WORK, "data", f"scale{scale}-seed{seed}")
    marker = os.path.join(d, ".complete")
    if not os.path.isfile(marker):
        import gen_data
        shutil.rmtree(d, ignore_errors=True)
        gen_data.write(d, scale, seed)
        open(marker, "w").close()
    return d


# ------------------------------------------------------------ run JVMs


def heap_gb():
    """Half of physical memory in GiB, clamped to 2..8."""
    try:
        with open("/proc/meminfo") as f:
            for ln in f:
                if ln.startswith("MemTotal:"):
                    return max(2, min(8, int(ln.split()[1]) // 2097152))
    except OSError:
        pass
    return 2


def jvm_command(classpath, tmp, args):
    heap = f"{heap_gb()}g"
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd += [f"-Xmx{heap}", f"-Xms{heap}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
            "-cp", classpath, "graft.perfbench.PerfBench"]
    return cmd + [f"{k}={v}" for k, v in args.items()]


def run_jvm(classpath, args, deadline, log_path):
    """Run one benchmark JVM in a fresh scratch dir (so no cross-process
    cache survives from an earlier run); return its dump plus the set-up
    time measured from the spawn."""
    tmp = os.path.join(WORK, "run", str(os.getpid()))
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    out = tmp + ".json"
    cmd = jvm_command(classpath, tmp, dict(args, out=out))
    spawn_ms = time.time() * 1000.0
    with open(log_path, "w") as lg:
        proc = subprocess.Popen(cmd, cwd=tmp, stdout=lg, stderr=lg,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"benchmark JVM ran past the deadline (see {log_path})")
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0 or not os.path.isfile(out):
        raise BenchError(f"benchmark JVM exited with {rc} (see {log_path})")
    dump = load_json(out)
    os.remove(out)
    dump["setup_s"] = (dump["times"]["setup_end_ms"] - spawn_ms) / 1000.0
    return dump


# ------------------------------------------------------------ aggregate


def config_flags(cfg, actual):
    """Differences between the declared execution config and the actual."""
    flags = [f"{k}={actual[k]} (declared {cfg[k]})"
             for k in ("cores", "shuffle_partitions") if actual[k] != cfg[k]]
    if not any(g.startswith("PS ") for g in actual["gc"]):
        flags.append(f"gc={actual['gc']} (declared {cfg['gc']})")
    if abs(actual["heap_max_mb"] - heap_gb() * 1024) > 512:
        flags.append(f"heap_max_mb={actual['heap_max_mb']} (declared {cfg['heap']})")
    return flags


def timed_passes(dump, traced):
    return [p for p in dump["passes"] if p["kind"] == "timed" and p["traced"] == traced]


def end_to_end(dump):
    timed = timed_passes(dump, False)
    lat = [(q["build_ns"] + q["action_ns"]) / 1e9 for p in timed for q in p["queries"]]
    top = analysis.highest_percentile(len(lat))
    if top is None or top < 75:
        raise BenchError(f"{len(lat)} query samples cannot support p75 "
                         "(it needs 10 beyond it)")
    return {
        "setup_s": dump["setup_s"],
        "wall_s": analysis.median([p["wall_ns"] / 1e9 for p in timed]),
        "query_p50_s": analysis.hd_percentile(lat, 50),
        "query_p75_s": analysis.hd_percentile(lat, 75),
        "cpu_s": analysis.median([p["cpu_ns"] / 1e9 for p in timed]),
        "alloc_mb": analysis.median([p["alloc_bytes"] / analysis.MB for p in timed]),
    }, {"query_samples": len(lat), "highest_percentile": top,
        "timed_passes": len(timed)}


def per_layer(dump, workload, failed_frac):
    traced = timed_passes(dump, True)
    layers = [analysis.pass_layers(p, workload) for p in traced]
    out = {k: analysis.median([m[k] for m in layers]) for k in layers[0]}
    probe = dump["tables_probe"]
    out["Tables.table_s"] = analysis.median(probe["table_s"])
    out["Tables.load_cold_s"] = analysis.median(probe["load_cold_s"])
    out["trace.overhead"] = analysis.trace_overhead(
        [(p["wall_ns"], p["traced"]) for p in dump["passes"] if p["kind"] == "timed"])
    out["failed_frac"] = failed_frac
    drift = analysis.drift(layers)
    out["drift.counters"] = len(drift)
    return out, {"drift": drift, "traced_passes": len(traced), "per_pass": layers,
                 "per_query": [{str(q): c for q, c in
                                analysis.per_query(p, workload).items()}
                               for p in traced]}


def git_commit():
    """HEAD of the checkout, or None when it is not a git work tree (git is
    kept from searching the directories above it)."""
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, env=env,
                             text=True, capture_output=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


# ------------------------------------------------------------------ main


def main(argv):
    ap = argparse.ArgumentParser(description="graft engine benchmark")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--update-golden", action="store_true")
    a = ap.parse_args(argv)

    cfg = load_json(os.path.join(HERE, "config.json"))
    declared = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    workloads = load_json(os.path.join(HERE, "workloads.json"))
    golden_path = os.path.join(HERE, "golden.json")
    if a.update_golden:
        return update_golden(cfg, workloads, golden_path)
    if a.workload not in workloads:
        raise BenchError(f"unknown workload {a.workload!r}; "
                         f"choose from {sorted(workloads)}")
    classpath = build()
    deadline = time.time() + RUN_DEADLINE_S
    data = ensure_data(cfg["data_scale"], cfg["data_seed"])
    golden = load_json(golden_path)

    queries = workloads[a.workload]["queries"]
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    dump = run_jvm(classpath, {
        "workload": a.workload, "queries": ",".join(queries), "seed": a.seed,
        "data": data,
        "seconds": a.seconds, "trace": a.trace,
        "min_passes": workloads[a.workload]["passes"],
        "cores": cfg["cores"]},
        deadline, os.path.join(WORK, "logs", name + ".log"))

    runs = [q for p in dump["passes"] for q in p["queries"]]
    checks = [q for p in dump["passes"] if p["kind"] in ("cold", "check")
              for q in p["queries"]]
    errors = sorted({(q["query"], q["error"]) for q in runs if q["error"]})
    mismatches = analysis.compare_golden([q for q in checks if not q["error"]],
                                         golden["queries"])
    attempted = len(runs)
    failed = sum(1 for q in runs if q["error"]) + len(mismatches)

    report = {"workload": a.workload, "queries": queries,
              "declared_config": cfg,
              "config": dict(dump["config"], heap=f"{heap_gb()}g", seed=a.seed,
                             seconds=a.seconds, trace=a.trace,
                             git_commit=git_commit()),
              "config_flags": config_flags(cfg, dump["config"]),
              "cache_state": dump["cache_state"],
              "errors": errors, "check_mismatches": mismatches}
    if a.trace:
        metrics, extra = per_layer(dump, a.workload, failed / attempted)
    else:
        metrics, extra = end_to_end(dump)
        extra["failed_frac"] = failed / attempted
    units = {m["name"]: m["unit"]
             for m in declared["per_layer" if a.trace else "end_to_end"]}
    if set(units) != set(metrics):
        raise BenchError("metrics differ from BENCHMARK.json: "
                         f"{sorted(set(units) ^ set(metrics))}")
    report.update(extra, metrics=metrics, raw=dump)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    res_path = os.path.join(WORK, "results", name + ".json")
    with open(res_path, "w") as f:
        json.dump(report, f)

    for q, e in errors:
        print(f"perfbench: FAILED {q}: {e}")
    for q, why in mismatches:
        print(f"perfbench: OUTPUT MISMATCH {q}: {why}")
    for fl in report["config_flags"]:
        print(f"perfbench: CONFIG DIFFERS from perfbench/config.json: {fl}")
    for n, vals in extra.get("drift", {}).items():
        print(f"perfbench: DRIFT {n} across passes: {vals}")
    print(f"perfbench: {a.workload} seed={a.seed} trace={a.trace} "
          f"queries={len(queries)} checks={len(checks)} "
          f"latency_samples={extra.get('query_samples', '-')} "
          f"mismatches={len(mismatches)} cache_at_start={dump['cache_state']['at_start']} "
          f"details={os.path.relpath(res_path, ROOT)}")
    print(json.dumps({
        "correct": not errors and not mismatches,
        "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()}}))
    return 0


def update_golden(cfg, workloads, path):
    """Recompute every query's output digest (row count and order-insensitive
    hash, from the cold pass) and write them to golden.json."""
    classpath = build()
    data = ensure_data(cfg["data_scale"], cfg["data_seed"])
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    digests = {}
    for name, w in sorted(workloads.items()):
        dump = run_jvm(classpath, {
            "workload": name, "queries": ",".join(w["queries"]), "data": data,
            "seconds": 0, "min_passes": 0, "cores": cfg["cores"]},
            time.time() + 900, os.path.join(WORK, "logs", f"golden-{name}.log"))
        for q in dump["passes"][0]["queries"]:
            if q["error"]:
                raise BenchError(f"{q['query']} failed: {q['error']}")
            digests[q["query"]] = {"rows": q["rows"], "hash": q["hash"]}
    golden = {"data_scale": cfg["data_scale"], "data_seed": cfg["data_seed"],
              "queries": dict(sorted(digests.items()))}
    with open(path, "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
