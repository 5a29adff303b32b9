"""pgsync_spark benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload cdc_search --seed 1 --seconds 5 --trace 0

Run from the repository root. Builds the workload's inputs from the
seed, starts one local Spark session sized to this host, runs the
workload closed-loop for ``--seconds``, checks the outputs, and prints
one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the ``end_to_end`` list of
BENCHMARK.json; with ``--trace 1`` the ``per_layer`` list. A detail
line (sizes, host, samples, tail percentile, check results) is printed
just before it. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.workloads import (  # noqa: E402 — needs ROOT on the path
    CURATION_FULL,
    WORKLOADS,
    install_library_spans,
)

PHASES = [
    "events_ckpt", "resolve_build", "bronze_resolve_wave", "ids_count",
    "affected_ckpt", "recompute_tree", "stores_overlay", "doc_consumers",
]


def host_sizing() -> tuple[int, int]:
    """(cpus, driver heap GiB): every CPU this process may use, and a
    heap of a quarter of host RAM, 1-4 GiB."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        kib = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return cpus, max(1, min(4, kib // (4 << 20)))


def _rss_mb(status_path: str) -> float:
    with open(status_path) as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def retained_heap_mb(spark) -> float:
    """Driver JVM heap still in use after a full GC: what the serving
    state (cached store blocks, index parts) and Spark itself hold.
    Python's garbage goes first, so its dead frames pin nothing."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # the first GC lets Spark's ContextCleaner drop the blocks of
    # unreferenced RDDs, shuffles and broadcasts; the second counts
    # what is left
    for _ in range(2):
        jvm.System.gc()
        time.sleep(0.5)
    return heap.getHeapMemoryUsage().getUsed() / 2**20


def tail(samples: list[float]) -> dict:
    """Highest percentile that still has at least ten samples beyond it."""
    n = len(samples)
    if n < 11:
        return {"percentile": None, "value": None, "samples": n}
    return {
        "percentile": round(100.0 * (n - 10) / n, 1),
        "value": sorted(samples)[n - 11],
        "samples": n,
    }


def layer_metrics(
    totals: dict,
    setup: dict,
    prepared: dict,
    n_setups: int,
    n_ops: int,
    samples: list[float],
) -> dict:
    """Per-layer metrics: loop totals per operation (or per call of a
    span), set-up totals per set-up, one-off preparation totals as
    they are."""

    def per_op(key: str) -> float:
        return totals.get(key, 0.0) / n_ops

    def per_setup(key: str) -> float:
        return setup.get(key, 0.0) / n_setups

    def per_load(key: str) -> float:
        """Initial-load spans: per operation on bulk_sync, where the load
        is the operation; per set-up elsewhere."""
        return per_op(key) if key in totals else per_setup(key)

    def per_call(span: str, suffix: str) -> float:
        calls = totals.get(f"{span}_calls", 0.0)
        return totals.get(f"{span}_{suffix}", 0.0) / calls if calls else 0.0

    out = {
        "incremental.full_sync_s": per_load("incremental.full_sync_s"),
        "index_sync.seed_s": prepared.get("index_sync.seed_s", 0.0),
        "plans.compile_s": per_op("plans.compile_s"),
        "plans.compile_calls": per_op("plans.compile_calls"),
        "plans.py4j_round_trips": per_op("plans.compile_py4j"),
    }
    for p in PHASES:
        out[f"incremental.phase.{p}_s"] = per_op(f"incremental.phase.{p}_s")
    batch_s = totals.get("incremental.process_batch_s", 0.0)
    phase_sum = sum(totals.get(f"incremental.phase.{p}_s", 0.0) for p in PHASES)
    events = totals.get("incremental.events", 0.0)
    suppressed = totals.get("incremental.suppressed_updates", 0.0)
    out["incremental.phase_cover"] = phase_sum / batch_s if batch_s else 0.0
    out["incremental.docs_per_event"] = (
        totals.get("incremental.recomputed_docs", 0.0) / events if events else 0.0
    )
    out["incremental.suppressed_share"] = (
        suppressed / (events + suppressed) if events + suppressed else 0.0
    )
    out.update({
        "cdc.materializer_apply_s": per_op("cdc.materializer_apply_s"),
        "cdc.compactions": per_op("cdc.compact_calls"),
        "overlay.compactions": per_op("overlay.compact_calls"),
        "overlay.compact_s": per_op("overlay.compact_s"),
        "index_sync.apply_s": per_op("index_sync.apply_s"),
        "index_sync.compactions": per_op("bm25.compact_calls") + per_op("vector.compact_calls"),
    })
    for idx in ("bm25", "vector"):
        out[f"{idx}.apply_cdc_s"] = per_op(f"{idx}.apply_cdc_s")
        out[f"{idx}.compact_s"] = per_op(f"{idx}.compact_s")
        out[f"{idx}.topk_s"] = per_call(f"{idx}.topk", "s")
        out[f"{idx}.topk_jobs"] = per_call(f"{idx}.topk", "jobs")
    for q in CURATION_FULL:
        out[f"queries.{q}.construct_s"] = per_call(f"queries.{q}.construct", "s")
        out[f"queries.{q}.execute_s"] = per_call(f"queries.{q}.execute", "s")
        out[f"queries.{q}.py4j_round_trips"] = per_call(f"queries.{q}.construct", "py4j")
    sink = totals if "sinks.docs" in totals else setup
    docs = sink.get("sinks.docs", 0.0)
    out["sinks.write_jsonl_s"] = per_load("sinks.write_jsonl_s")
    out["sinks.bytes_per_doc"] = sink.get("sinks.bytes", 0.0) / docs if docs else 0.0
    for k in (
        "jobs", "stages", "tasks", "failed_tasks", "shuffle_write_bytes",
        "spill_bytes", "executor_run_s", "executor_cpu_s", "gc_s",
    ):
        out[f"spark.{k}"] = per_op(f"spark.{k}")
    out["driver.py4j_round_trips"] = per_op("driver.py4j_round_trips")
    out["trace.op_p50_s"] = statistics.median(samples)
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to end
    (its Python workers exit with it)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — make sure it is gone
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    if not os.path.isfile(os.path.join(ROOT, "pgsync_spark", "__init__.py")):
        print(f"perfbench: no pgsync_spark package under {ROOT}", file=sys.stderr)
        return 2

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cls = WORKLOADS[args.workload]
    cpus, heap_gb = host_sizing()
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "TMPDIR": tmp,
        # Python workers (the plugin Arrow crossing) import the package
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    })
    data_dir = os.path.join(tmp, "data")
    spark = None
    marks = [("start", time.perf_counter())]
    try:
        from perfbench.gen import generate_tables

        with ThreadPoolExecutor(1) as pool:
            # inputs are generated while the JVM starts
            gen = pool.submit(generate_tables, data_dir, cls.SF, args.seed)
            from pgsync_spark import get_spark
            from perfbench.trace import Tracer

            spark = get_spark(
                app_name="perfbench",
                extra_conf={
                    "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                },
            )
            rows = gen.result()
        marks.append(("spark_and_inputs", time.perf_counter()))
        tracer = Tracer(spark, enabled=bool(args.trace))
        tracer.install()
        install_library_spans(tracer)
        wl = cls(spark, tracer, data_dir, tmp, args.seed)

        setups = []
        for _ in range(cls.SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.setup()
            setups.append(time.perf_counter() - t0)
        marks.append(("setup", time.perf_counter()))
        setup_totals = tracer.reset()
        wl.prepare()
        marks.append(("prepare", time.perf_counter()))
        prepare_totals = tracer.reset()
        samples: list[float] = []
        items = 0
        failed_ops = 0
        errors: list[str] = []
        start = time.perf_counter()
        while True:
            t0 = time.perf_counter()
            try:
                with tracer.operation("op"):
                    items += wl.op()
            except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
                failed_ops += 1
                errors.append(traceback.format_exc(limit=3))
                break
            samples.append(time.perf_counter() - t0)
            elapsed = time.perf_counter() - start
            if wl.exhausted() or elapsed >= args.seconds:
                break
        wall = time.perf_counter() - start
        marks.append(("loop", time.perf_counter()))
        loop_totals = tracer.reset()
        heap_mb = retained_heap_mb(spark)

        try:
            checks, failed_checks = wl.check()
        except Exception:  # noqa: BLE001
            checks, failed_checks = 1, 1
            errors.append(traceback.format_exc(limit=3))
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss = _rss_mb(f"/proc/{jvm_pid}/status") + (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        )
        marks.append(("check", time.perf_counter()))
        wl.close()
        tracer.uninstall()

        attempted = len(samples) + failed_ops + checks
        failed = failed_ops + failed_checks
        if not samples:
            samples = [float("nan")]
        if args.trace:
            computed = layer_metrics(
                loop_totals,
                setup_totals,
                prepare_totals,
                cls.SETUP_REPEATS,
                len(samples),
                samples,
            )
        else:
            computed = {
                "op_p50_s": statistics.median(samples),
                "items_per_s": items / wall,
                # the mean, cold set-up included: the JIT work the
                # first set-up leaves undone lands on the next ones, so
                # their sum is steadier than any one of them
                "setup_s": statistics.fmean(setups),
                "retained_heap_mb": heap_mb,
            }
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "cpus": cpus,
            "driver_heap_gb": heap_gb,
            "peak_rss_mb": rss,
            "sf": cls.SF,
            "rows": rows,
            "closed_loop": {"clients": 1, "ops": len(samples), "wall_s": wall,
                            cls.items_name: items,
                            "inputs_ran_out": wl.exhausted()},
            "op_samples_s": samples,
            "op_tail": tail(samples),
            "timings": {
                k: {"p50": statistics.median(v), "tail": tail(v), "samples_s": v}
                for k, v in wl.timings.items()
            },
            "setup_samples_s": setups,
            "error_rate": failed / attempted,
            "runner_s": {b[0]: round(b[1] - a[1], 3) for a, b in zip(marks, marks[1:])},
            "notes": wl.notes,
            "errors": errors,
        }
        if args.trace:
            detail["self_s"] = tracer.self_times()
        print(json.dumps(detail, default=str))
        metrics = {m["name"]: {"value": computed[m["name"]], "unit": m["unit"]} for m in wanted}
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:  # another run still uses it
            pass


if __name__ == "__main__":
    sys.exit(main())
