"""Benchmark runner: one workload, one seed, one run.

    python3 perfbench/run.py --workload sentence_bulk --seed 1 --seconds 5 --trace 0

Run from the repository root. It starts a local Spark session on every
core, materialises the workload's seeded input (set-up, repeated and
timed), then repeats the workload's operation in a closed loop with one
caller for ``--seconds`` and checks every output. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it holds
details (op walls, sample counts, check problems).

The end-to-end times are normalised to the host's speed: a fixed
reference job that uses only pyspark, pandas and numpy is timed after
the set-up and after each operation. Set-up time is scaled by
``REF_NOMINAL_S`` over the reference wall after it, and each
operation's wall by ``REF_NOMINAL_S`` over the mean reference wall
either side of it. The raw
figures are in the details line.

A traced run measures the same loop three times in one process: in an
untraced session, then in a session that writes a Spark event log and
records spans, then untraced again. The per-layer metrics come from the
traced session; its slowdown against the two untraced ones around it is
``trace.overhead_frac``. Spans are written to
``.bench_build/perfbench/traces/``.

All files go under ``.bench_build/perfbench/`` in the repository; the
run's scratch directory is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3

END_TO_END = {
    "setup_s": "s",
    "input_rows_per_s": "1/s",
    "py_worker_rss_mb": "MB",
}

PER_LAYER = {
    "mentions.wall_s": "s", "mentions.rows_out": "count",
    "candidates.self_s": "s", "candidates.rows_out": "count",
    "candidates.shuffle_write_bytes": "bytes", "candidates.task_skew": "ratio",
    "encode.self_s": "s", "tokenize.rows_per_s": "1/s",
    "score.self_s": "s", "kernel.cnn_rows_per_s": "1/s",
    "kernel.bag_att_rows_per_s": "1/s",
    "triples.self_s": "s", "triples.rows_out": "count",
    "triples.shuffle_write_bytes": "bytes",
    "bags.att_wall_s": "s", "bags.one_wall_s": "s", "bags.rows_out": "count",
    "bags.shuffle_write_bytes": "bytes", "bags.spill_bytes": "bytes",
    "bags.task_skew": "ratio",
    "lineage.bucket_p50_s": "s", "lineage.bucket_max_s": "s",
    "lineage.write_s": "s", "lineage.bookkeeping_s": "s",
    "lineage.resume_scan_s": "s", "lineage.jobs_per_bucket": "count",
    "lineage.files_written": "count", "lineage.bytes_written": "bytes",
    "ann.self_join_s": "s", "ann.embedding_dedup_s": "s",
    "dedup.simhash_s": "s", "dedup.ngram_jaccard_s": "s",
    "ann.pairs_out": "count", "dedup.pairs_out": "count",
    "ann.shuffle_write_bytes": "bytes",
    "spark.jobs": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.scheduler_wait_s": "s",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.core_busy_frac": "frac",
    "trace.overhead_frac": "frac",
}

# span names under an operation span; their jobs belong to the operation
OP_GROUPS = ("op", "encode", "sentence", "att", "one", "simhash", "ngram_jaccard",
             "ann_self_join", "embedding_dedup")
LAND_GROUPS = ("land", "write_bucket", "completed_buckets")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def _warm(batches):
    from opennre_spark.functions.weights import default_model

    default_model()
    yield from batches


class Session:
    """One local Spark session with its scratch directories inside the
    repository, warmed so every Python worker has the model loaded."""

    def __init__(self, work: str, event_log: str | None = None):
        from opennre_spark.session import get_spark

        from perfbench.tracing import event_log_conf

        n = cores()
        conf = {
            "spark.driver.memory": "3g",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update(event_log_conf(event_log))
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cores=n, shuffle_partitions=2 * n, extra=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        # one task per core: every concurrent task gets a worker of its own
        self.spark.range(0, n, numPartitions=n).mapInPandas(_warm, "id long").count()
        self.startup_s = time.perf_counter() - t0
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid


def shutdown_jvm():
    """Stop the gateway JVM this process started and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def closed_loop(wl, seconds: float, jvm_pid: int, tracer=None, min_ops: int = 1,
                ref=None, ref_s: float | None = None) -> dict:
    """Repeat the workload's operation until ``seconds`` have passed and
    at least ``min_ops`` ran, checking each output.

    With ``ref`` (a ``HostRef``), the reference job runs after each
    operation; ``ref_s`` is its wall just before the first. Each
    successful operation's wall is then also kept normalised by the mean
    reference wall either side of it, in ``norm_walls``."""
    from perfbench.probes import REF_NOMINAL_S, RssSampler

    res = {"attempted": 0, "failed": 0, "rows": 0, "walls": [], "norm_walls": [],
           "ref_s": [], "problems": [], "check_s": 0.0}
    sampler = RssSampler(jvm_pid)
    sampler.start()
    t_end = time.perf_counter() + seconds
    try:
        while True:
            res["attempted"] += 1
            try:
                t0 = time.perf_counter()
                if tracer is None:
                    out, rows = wl.op()
                else:
                    with tracer.span("op"):
                        out, rows = wl.op(tracer)
                wall = time.perf_counter() - t0
                problems = wl.check(out)
                res["check_s"] += time.perf_counter() - t0 - wall
            except Exception:  # an operation that raises counts as failed
                problems = [traceback.format_exc(limit=3)]
            if problems:
                res["failed"] += 1
                res["problems"].extend(problems[:5])
                print(f"[perfbench] op failed: {problems[:5]}", file=sys.stderr)
            else:
                wl.last_output = out
                res["rows"] += rows
                res["walls"].append(wall)
            if ref is not None:
                after = ref.measure()
                if not problems:
                    res["norm_walls"].append(wall * REF_NOMINAL_S / ((ref_s + after) / 2))
                res["ref_s"].append(after)
                ref_s = after
            if time.perf_counter() >= t_end and res["attempted"] >= min_ops:
                break
    finally:
        res["rss_peak"] = sampler.stop()
    return res


def rows_per_s(res: dict, key: str = "walls") -> float:
    return res["rows"] / sum(res[key]) if res[key] else 0.0


def end_to_end(res: dict, setup_s: float) -> dict:
    """Times are normalised to the reference host speed (see HostRef)."""
    return {
        "setup_s": setup_s,
        "input_rows_per_s": rows_per_s(res, "norm_walls"),
        "py_worker_rss_mb": res["rss_peak"] / 2**20,
    }


def stage_selfs(stages, log) -> dict:
    """{stage: {wall, self, rows, shuffle}} from the timed prefixes in
    order: self time and shuffle bytes are the prefix's minus the
    previous prefix's."""
    out, prev_wall, prev_shuffle = {}, 0.0, 0
    for name, wall, rows in stages:
        shuffle = log.totals("prefix:" + name)["shuffle_write"]
        out[name] = {"wall": wall, "self": wall - prev_wall, "rows": rows,
                     "shuffle": shuffle - prev_shuffle}
        prev_wall, prev_shuffle = wall, shuffle
    return out


def tracing_overhead(before: dict, traced: dict, after: dict) -> float:
    """The traced session's median op wall against the mean of the
    untraced sessions before and after it, minus 1: the JVM keeps
    warming across sessions, and bracketing cancels most of that drift."""
    if not (before["walls"] and traced["walls"] and after["walls"]):
        return 0.0  # a session had no successful op; the run is failed
    untraced = (before["walls"][-1] + statistics.median(after["walls"])) / 2
    return statistics.median(traced["walls"]) / untraced - 1.0


def per_layer(wl, res: dict, out, tracer, log, layer_data: dict, probe: dict,
              overhead: float) -> dict:
    """Every per-layer metric; layers the workload bypasses read 0.
    ``res`` and ``out`` are the traced loop's results and last output."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    n_ops = max(len(res["walls"]), 1)

    def shuffle(groups):
        return log.totals(groups)["shuffle_write"]

    def med(name):
        d = tracer.durations(name)
        return statistics.median(d) if d else 0.0

    if "stages" in layer_data:
        st = stage_selfs(layer_data["stages"], log)
        m.update({
            "mentions.wall_s": st["mentions"]["wall"],
            "mentions.rows_out": st["mentions"]["rows"],
            "candidates.self_s": st["candidates"]["self"],
            "candidates.rows_out": st["candidates"]["rows"],
            "candidates.shuffle_write_bytes": st["candidates"]["shuffle"],
            "candidates.task_skew": log.stage_skew("prefix:candidates"),
            # the fused sentence route has no encode stage of its own
            "encode.self_s": st["encode"]["self"] if "encode" in st else 0.0,
            "score.self_s": st["score"]["self"],
            "triples.self_s": st["triples"]["self"],
            "triples.rows_out": st["triples"]["rows"],
            "triples.shuffle_write_bytes": st["triples"]["shuffle"],
        })
    if "land" in layer_data:
        land = layer_data["land"]
        buckets = tracer.durations("bucket")
        write = tracer.total("write_bucket")
        m.update({
            "lineage.bucket_p50_s": statistics.median(buckets),
            "lineage.bucket_max_s": max(buckets),
            "lineage.write_s": write,
            "lineage.bookkeeping_s": sum(buckets) - write,
            "lineage.resume_scan_s": tracer.total("completed_buckets"),
            "lineage.jobs_per_bucket":
                log.totals(LAND_GROUPS)["jobs"] / land["buckets"],
            "lineage.files_written": land["files"],
            "lineage.bytes_written": land["bytes"],
        })
    if wl.name == "bags_shared":
        bag = log.totals(("att", "one"))
        m.update({
            "bags.att_wall_s": med("att"),
            "bags.one_wall_s": med("one"),
            "bags.rows_out": len(out["att"]) + len(out["one"]),
            "bags.shuffle_write_bytes": bag["shuffle_write"] / n_ops,
            "bags.spill_bytes": bag["spill"] / n_ops,
            "bags.task_skew": log.stage_skew("att"),
        })
    if wl.name == "near_dup_ann":
        m.update({
            "ann.self_join_s": med("ann_self_join"),
            "ann.embedding_dedup_s": med("embedding_dedup"),
            "dedup.simhash_s": med("simhash"),
            "dedup.ngram_jaccard_s": med("ngram_jaccard"),
            "ann.pairs_out": len(out["ann"]),
            "dedup.pairs_out": len(out["sim"]) + len(out["jac"]),
            "ann.shuffle_write_bytes": shuffle("ann_self_join") / n_ops,
        })
    m.update(probe)
    t = log.totals(OP_GROUPS)
    wall = sum(res["walls"])
    m.update({
        "spark.jobs": t["jobs"] / n_ops,
        "spark.tasks": t["tasks"] / n_ops,
        "spark.executor_run_s": t["run_s"] / n_ops,
        "spark.executor_cpu_s": t["cpu_s"] / n_ops,
        "spark.gc_s": t["gc_s"] / n_ops,
        "spark.scheduler_wait_s": t["wait_s"] / n_ops,
        "spark.shuffle_write_bytes": t["shuffle_write"] / n_ops,
        "spark.spill_bytes": t["spill"] / n_ops,
        "spark.core_busy_frac": t["run_s"] / (wall * cores()) if wall else 0.0,
        "trace.overhead_frac": overhead,
    })
    return m


def result_line(attempted: int, failed: int, metrics: dict, units: dict) -> dict:
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}


def run(args, work: str) -> tuple[dict, dict]:
    from perfbench.probes import REF_NOMINAL_S, HostRef
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    detail = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "cores": cores()}
    sess = Session(work)
    wl = WORKLOADS[args.workload](sess.spark, work, args.seed)
    # untraced runs time the host-speed reference job after the set-up
    # and after each operation
    ref = None if args.trace else HostRef(sess.spark, cores())
    setup = []
    for _ in range(1 if args.trace else SETUP_REPS):
        t0 = time.perf_counter()
        wl.materialise()
        setup.append(time.perf_counter() - t0)
    detail.update(startup_s=sess.startup_s, materialise_s=setup)
    t0 = time.perf_counter()
    wl.prepare_checks()
    detail["prepare_checks_s"] = time.perf_counter() - t0
    ref_after = ref.measure() if ref else None
    # a traced run compares this session's last operation, which is warm
    res = closed_loop(wl, args.seconds, sess.jvm_pid, min_ops=2 if args.trace else 1,
                      ref=ref, ref_s=ref_after)
    sess.spark.stop()
    detail.update(op_walls=res["walls"], check_s=res["check_s"], problems=res["problems"][:10])
    if not args.trace:
        raw_setup_s = sess.startup_s + statistics.median(setup)
        setup_s = raw_setup_s * REF_NOMINAL_S / ref_after
        detail.update(ref_s=[ref_after] + res["ref_s"], raw_setup_s=raw_setup_s,
                      raw_input_rows_per_s=rows_per_s(res))
        metrics = end_to_end(res, setup_s)
        return result_line(res["attempted"], res["failed"], metrics, END_TO_END), detail

    from perfbench import tracing
    from perfbench.probes import kernel_rates

    log_dir = os.path.join(work, "eventlog")
    sess = Session(work, event_log=log_dir)
    wl.attach(sess.spark)
    tracer = tracing.Tracer(f"{args.workload}-s{args.seed}", sess.spark)
    tres = closed_loop(wl, args.seconds, sess.jvm_pid, tracer, min_ops=2)
    traced_out = wl.last_output
    layer_data = wl.layers(tracer)
    instances = wl.probe_instances()
    probe = kernel_rates(instances) if instances else {}
    sess.spark.stop()
    log = tracing.EventLog.from_dir(log_dir)
    sess = Session(work)
    wl.attach(sess.spark)
    ares = closed_loop(wl, args.seconds, sess.jvm_pid)
    sess.spark.stop()
    overhead = tracing_overhead(res, tres, ares)
    metrics = per_layer(wl, tres, traced_out, tracer, log, layer_data, probe, overhead)
    span_file = os.path.join(ROOT, ".bench_build", "perfbench", "traces",
                             f"{args.workload}-s{args.seed}.jsonl")
    tracer.write(span_file)
    extra_problems = layer_data.get("land", {}).get("problems", [])
    loops = (res, tres, ares)
    attempted = sum(r["attempted"] for r in loops) + ("land" in layer_data)
    failed = sum(r["failed"] for r in loops) + bool(extra_problems)
    detail.update(traced_op_walls=tres["walls"], after_op_walls=ares["walls"], spans=span_file,
                  failed_tasks=log.totals(OP_GROUPS)["failed_tasks"],
                  problems=(res["problems"] + tres["problems"] + ares["problems"]
                            + extra_problems)[:10])
    return result_line(attempted, failed, metrics, PER_LAYER), detail


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "opennre_spark")):
        print("perfbench: run from a checkout of the repository "
              "(opennre_spark/ not found next to perfbench/)", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_build", "perfbench",
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # every scratch file of Spark, the JVM and Python stays in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the spark-submit launcher is a JVM of its own
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # one BLAS thread, as in the Python workers, before numpy loads: the
    # in-process kernel rates are per core
    for v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(v, "1")
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    try:
        result, detail = run(args, work)
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
