#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one JSON line.

Usage (from the repository root):

    python3 perfbench/run.py --workload movies_etl --seed 1 --seconds 5 --trace 0

Workloads: ``movies_etl`` and ``catalog`` (see perfbench/README.md for
why each exists). Each run
starts a fresh ``local[2]`` session, times one cold pass, then repeats
steady passes with a single closed-loop client (one operation at a
time): at least ``MEASURED`` of them and for at least ``--seconds``.
The end-to-end metrics are medians over the first ``MEASURED`` steady
passes, whatever the window holds. Every
operation's output is checked.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics, including
the tracing overhead. The last line of stdout is the result object;
progress goes to stderr. Everything the run writes stays under
``.perfbench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "module8_movies_etl_spark"
WORKLOADS = ("movies_etl", "catalog")
CORES = 2
# steady passes the end-to-end metrics are taken from, on every workload
MEASURED = 2


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def prepare_env(work: str) -> dict[str, str]:
    """Point every directory the program writes to inside ``work``; make
    the package importable by the driver and by Python workers."""
    run_dir = os.path.join(work, f"run_{os.getpid()}")
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "shuffle", "scratch", "out")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = dirs["shuffle"]
    os.environ["SPARK_GRAFT_SCRATCH"] = dirs["scratch"]
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_SUBMIT_OPTS"), f"-Djava.io.tmpdir={dirs['tmp']}") if p)
    dirs["run"] = run_dir
    return dirs


def prepare_inputs(workload: str, seed: int, work: str) -> dict:
    """The seed's movies inputs (generated once per seed and cached), or
    the catalog's tables and their DuckDB oracle hashes (computed on
    every run, so they always match the current queries)."""
    import gen_movies
    import workloads as wl

    if workload == "movies_etl":
        return gen_movies.cached(os.path.join(work, "inputs"), seed, wl.MOVIES_RATINGS)
    return {"dir": wl.TABLES_DIR, "oracle": wl.oracle_hashes(wl.CATALOG, wl.TABLES_DIR)}


def start_session(tracer, workload: str):
    from module8_movies_etl_spark.session import get_spark

    with tracer.span("session.get_spark", kind="session"):
        spark = get_spark("perfbench")
    with tracer.span("session.warmup", kind="session"):
        # bench.py's warm-ups: JVM and codegen on a trivial action, then,
        # for the catalog, the Python worker pool and Arrow path, and the
        # Python DataSource path (registration, plan serialization)
        spark.range(1000).selectExpr("sum(id)").collect()
        if workload == "catalog":
            from module8_movies_etl_spark.sources.pyds import register

            def _identity(it):
                yield from it

            spark.range(256).repartition(32).mapInPandas(_identity, "id long").count()
            with tracer.span("sources.pyds.warmup", kind="pyds_warmup"):
                register(spark)
                spark.read.format("graftgen").option("rows", 64).option(
                    "partitions", 8).load().count()
    return spark


def stop_session(spark, sampler) -> None:
    """Stop Spark, end the JVM and wait for every Python worker."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    live = set(sampler.worker_pids)
    while live and time.time() < deadline:
        live = {p for p in live if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for pid in live:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def jvm_gc_s(spark) -> float:
    """Total stop-the-world collection time the JVM has spent so far."""
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3


def run_passes(runner, tracer, spark, seconds: float, trace: bool) -> dict:
    """One cold pass, then steady passes: at least ``MEASURED``
    untraced ones and at least ``seconds`` of them. Traced runs
    alternate untraced and traced steady passes, two of each."""
    wall, lat, attempted, failed = runner.run_pass(0, traced=False)
    res = {"first": wall, "first_ops": lat, "steady": [], "traced": [], "lat": [],
           "attempted": attempted, "failed": failed}
    gc0 = jvm_gc_s(spark)
    res["cold_gc_s"] = gc0
    end = time.perf_counter() + seconds
    # traced runs order their passes untraced, traced, traced, untraced, ...
    # so both kinds see early and late (warmer) positions alike
    need = 2 if trace else MEASURED
    k = 1
    while (time.perf_counter() < end or len(res["steady"]) < need
           or (trace and len(res["traced"]) < need)):
        traced = trace and k % 4 in (2, 3)
        since = time.time()
        tracer.active = traced
        with tracer.span("pass", kind="pass", index=k):
            wall, lat, a, f = runner.run_pass(k, traced=traced)
        tracer.active = False
        if traced:
            tracer.attribute_jobs(spark, since)
            res["traced"].append(wall)
        else:
            res["steady"].append(wall)
            res["lat"].append(lat)
        res["attempted"] += a
        res["failed"] += f
        k += 1
    res["steady_gc_s"] = jvm_gc_s(spark) - gc0
    return res


def end_to_end(res: dict, measured: int, setup_s: float) -> dict:
    """Medians over the first ``measured`` steady passes, the same pass
    positions on every run however many passes the window held (the
    session keeps warming for several passes, so a median over a
    speed-dependent count would shift with speed). ``op_p50_s`` is the
    median over operations of each operation's median latency."""
    passes = res["steady"][:measured]
    per_op: dict[str, list[float]] = {}
    for lat in res["lat"][:measured]:
        for name, t in lat:
            per_op.setdefault(name, []).append(t)
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(passes), "s"),
        "op_p50_s": (statistics.median(statistics.median(v) for v in per_op.values()), "s"),
    }


def per_layer(tracer, res: dict, mem: dict, source_bytes: int) -> dict:
    from spans import covered

    spans = tracer.spans
    n = max(1, len(res["traced"]))
    by_id = {s["id"]: s for s in spans}

    def dur(s):
        return s["end"] - s["start"]

    def in_pass(s):
        p = s
        while p["parent"] is not None:
            p = by_id[p["parent"]]
        return p["name"] == "pass"

    def pick(kind, prefix=None, **attrs):
        return [s for s in spans if s.get("kind") == kind and in_pass(s)
                and (prefix is None or s["name"].startswith(prefix))
                and all(s.get(k) == v for k, v in attrs.items())]

    def jobs(sel):
        return [j for s in sel for j in s.get("jobs", [])]

    def total(sel, key):
        return sum(j[key] for j in jobs(sel)) / n

    def seconds(sel):
        return sum(dur(s) for s in sel) / n

    def job_s(sel):
        return sum(covered([(j["start"], j["end"]) for j in s.get("jobs", [])],
                           s["start"], s["end"]) for s in sel) / n

    session = {s["name"]: dur(s) for s in spans if s.get("kind") == "session"}
    reads = pick("read")
    transform = pick("transform")
    loads = pick("load")
    build = pick("build", "plans.")
    stream = pick("build", "streaming.")
    light, heavy = pick("build", group="light"), pick("build", group="heavy")
    pyds_build = pick("build", "sources.pyds.")
    pyds_names = {s["name"].rsplit(".", 1)[1] for s in pyds_build}
    pyds = pyds_build + [s for s in spans if in_pass(s) and s.get("query") in pyds_names]
    plans = pick("plan")
    execs = pick("exec")
    every = [s for s in spans if in_pass(s)]
    cpu = total(every, "executor_cpu_s")
    traced_pass = statistics.median(res["traced"]) if res["traced"] else 0.0
    scanned = total(every, "input_bytes")
    m = {
        "first_pass_s": (res["first"], "s"),
        "peak_mem_mb": (mem["total_mb"], "MB"),
        "session_start_s": (session.get("session.get_spark", 0.0), "s"),
        "warmup_s": (session.get("session.warmup", 0.0), "s"),
        "pyds_warmup_s": (sum((dur(s) for s in spans if s.get("kind") == "pyds_warmup"), 0.0), "s"),
        "read_wiki_s": (seconds(pick("read", table="wiki")), "s"),
        "read_kaggle_s": (seconds(pick("read", table="kaggle")), "s"),
        "read_ratings_s": (seconds(pick("read", table="ratings")), "s"),
        "read_jobs": (len(jobs(reads)) / n, "count"),
        "read_input_bytes": (total(reads, "input_bytes"), "bytes"),
        "transform_build_s": (seconds(transform), "s"),
        "transform_build_jobs": (len(jobs(transform)) / n, "count"),
        "transform_executor_cpu_s": (total(transform, "executor_cpu_s"), "s"),
        "load_s.movies": (seconds(pick("load", table="movies")), "s"),
        "load_s.movies_ratings": (seconds(pick("load", table="movies_ratings")), "s"),
        "load_s.ratings": (seconds(pick("load", table="ratings")), "s"),
        "load_output_bytes": (total(loads, "output_bytes"), "bytes"),
        "load_input_bytes": (total(loads, "input_bytes"), "bytes"),
        "input_reread_ratio": (scanned / source_bytes if source_bytes else 0.0, "ratio"),
        "build_s": (seconds(build), "s"),
        "build_driver_s": (seconds(build) - job_s(build), "s"),
        "build_jobs": (len(jobs(build)) / n, "count"),
        "build_job_s": (job_s(build), "s"),
        "build_driver_s.light": (seconds(light) - job_s(light), "s"),
        "build_job_s.heavy": (job_s(heavy), "s"),
        "plan_s": (seconds(plans), "s"),
        "exchanges": (sum(s.get("exchanges", 0) for s in plans) / n, "count"),
        "python_eval_nodes": (sum(s.get("python_eval_nodes", 0) for s in plans) / n, "count"),
        "exec_s": (seconds(execs), "s"),
        "stages": (total(every, "stages"), "count"),
        "tasks": (total(every, "tasks"), "count"),
        "executor_run_s": (total(every, "executor_run_s"), "s"),
        "executor_cpu_s": (cpu, "s"),
        "cpu_util": (cpu / (traced_pass * CORES) if traced_pass else 0.0, "ratio"),
        "shuffle_read_bytes": (total(every, "shuffle_read_bytes"), "bytes"),
        "shuffle_write_bytes": (total(every, "shuffle_write_bytes"), "bytes"),
        "spill_bytes": (total(every, "spill_bytes"), "bytes"),
        "gc_s": (total(every, "gc_s"), "s"),
        "scratch_peak_mb": (mem["scratch_mb"], "MB"),
        "jvm_rss_peak_mb": (mem["jvm_mb"], "MB"),
        "pyworker_rss_peak_mb": (mem["workers_mb"], "MB"),
        "stream_build_driver_s": (seconds(stream) - job_s(stream), "s"),
        "stream_microbatch_jobs": (len(jobs(stream)) / n, "count"),
        "stream_build_job_s": (job_s(stream), "s"),
        "pyds_query_s": (seconds(pyds), "s"),
        "pyds_jobs": (len(jobs(pyds)) / n, "count"),
        "traced_pass_s": (traced_pass, "s"),
        "trace_overhead_s": (traced_pass - statistics.median(res["steady"]), "s"),
    }
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare", action="store_true",
                    help="only generate the seed's inputs and oracle hashes")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        log(f"the program package {PACKAGE}/ is not next to perfbench/; nothing to measure")
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    work = os.path.join(ROOT, ".perfbench_work")
    if args.prepare:
        print(json.dumps(prepare_inputs(args.workload, args.seed, work)))
        return 0
    dirs = prepare_env(work)
    # generation and the DuckDB oracle run in a child process, so the
    # measured process starts the same whether the seed's inputs were
    # cached or not
    t0 = time.perf_counter()
    child = subprocess.run([sys.executable, os.path.abspath(__file__), "--prepare",
                            "--workload", args.workload, "--seed", str(args.seed),
                            "--seconds", "0"], check=True, stdout=subprocess.PIPE, text=True)
    info = json.loads(child.stdout.strip().splitlines()[-1])
    info["gen_s"] = time.perf_counter() - t0
    log(f"inputs ready in {info['gen_s']:.1f} s")

    from spans import MemorySampler, Tracer

    import workloads as wl

    tracer = Tracer()
    tracer.active = bool(args.trace)
    t_setup = time.perf_counter()
    spark = start_session(tracer, args.workload)
    setup_s = time.perf_counter() - t_setup
    tracer.active = False
    from pyspark import SparkContext

    sampler = MemorySampler(
        SparkContext._gateway.proc.pid,
        [dirs["shuffle"], dirs["scratch"], dirs["out"]] if args.trace else None)
    sampler.start()

    if args.workload == "movies_etl":
        runner = wl.MoviesPasses(spark, tracer, info, dirs["out"], recount_wiki=bool(args.trace))
        exp = info["expected"]
        input_rows = exp["wiki_records"] + exp["kaggle_rows"] + exp["ratings"]
        source_bytes = sum(os.path.getsize(p) for p in info["paths"].values())
    else:
        runner = wl.QueryPasses(spark, tracer, wl.CATALOG, info["dir"], info["oracle"], args.seed)
        input_rows = 0
        source_bytes = sum(os.path.getsize(os.path.join(info["dir"], f))
                           for f in os.listdir(info["dir"]))

    try:
        res = run_passes(runner, tracer, spark, args.seconds, bool(args.trace))
        t_check = time.perf_counter()
        correct = res["failed"] == 0 and runner.final_check()
        log(f"outputs checked in {time.perf_counter() - t_check:.1f} s")
    finally:
        mem = sampler.stop()
        t_stop = time.perf_counter()
        stop_session(spark, sampler)
        log(f"session stopped in {time.perf_counter() - t_stop:.1f} s")

    if args.trace:
        metrics = per_layer(tracer, res, mem, source_bytes)
    else:
        metrics = end_to_end(res, MEASURED, setup_s)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "gen_s": info["gen_s"], "first_pass_s": res["first"],
        "first_pass_ops_s": res["first_ops"],
        "peak_mem_mb": mem["total_mb"], "setup_s": setup_s,
        "steady_pass_s": res["steady"], "traced_pass_s": res["traced"],
        "jvm_gc_s": {"to_end_of_cold_pass": res["cold_gc_s"], "steady": res["steady_gc_s"]},
        "op_latencies_s": res["lat"],
        # movies_etl throughput, to set against the reference's 3,949
        # rows/s; it restates pass_s, so it is not a gated metric
        "rows_per_s": input_rows / metrics["pass_s"][0] if input_rows and not args.trace else None,
        "metrics": {k: v[0] for k, v in metrics.items()},
    }
    results = os.path.join(work, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{args.workload}_s{args.seed}_t{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(detail, fh, indent=1)
    if args.trace:
        tracer.write(stem + "_spans.json")
    shutil.rmtree(dirs["run"], ignore_errors=True)
    log(f"{len(res['steady'])} untraced steady passes: "
        f"{', '.join(f'{t:.2f}' for t in res['steady'])} s; "
        f"details in {os.path.relpath(stem, ROOT)}.json")
    print(json.dumps({
        "correct": bool(correct),
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
