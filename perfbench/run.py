"""Benchmark of the engine's ingest path, pruned reads and query mix.

Run from the repository root:

    python3 perfbench/run.py --workload ingest|query_mix \\
        --seed N --seconds S --trace 0|1

The workloads and why each was chosen are described in ``wl_ingest``
and ``wl_query_mix`` (which includes the pruned lookups of
``lookups``). Inputs are generated from ``--seed``.
Every run checks its outputs; an operation whose output is wrong
counts as failed.

With ``--trace 0`` the last line of stdout is the result with the
end-to-end metrics:

- ``setup_s``: set-up time. ingest: the median of two builds of the
  grown table. query_mix: fixture generation, the lookup table's
  build, Spark session start and one warm-up pass.
- ``peak_rss_mb``: peak resident memory of the benchmark process (the
  engine's Python side and Spark's Python driver; query-mix inputs and
  oracle answers are made in a child process, and the Spark JVM is a
  per-layer metric).
- ``op_ms_p50``: median latency of the workload's operation. ingest:
  a moniker, from its scheduled send time until the tail reader first
  returns its files (freshness). query_mix: one pass over the whole
  mix, the sum of its 15 executions' wall times (DataFrame construction
  plus ``collect()``). The executions differ 20-fold in cost and a run
  times each once, so the median execution jumps from row to row (551
  to 785 ms over five seeds) while the pass time held within 6%; the
  per-row times are per-layer metrics.

With ``--trace 1`` the engine's layer entry points
are wrapped, operations alternate between traced and untraced, and the
result carries the per-layer metrics, including the tracing overhead
(traced against untraced operations of the same run). Spans are written
to ``.perfbench_out/`` when the run ends. The line before the result
records the machine and library versions.

All scratch files live under ``.perfbench_work/`` and are removed at
exit; the Spark JVM is stopped and waited for.
"""

from __future__ import annotations

import argparse
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "op_ms_p50": "ms",
}

PER_LAYER = {
    "writer.file_ms_p50": "ms",
    "writer.moniker_ms_p50": "ms",
    "writer.bytes_per_file": "bytes",
    "gen.late_ms_p99": "ms",
    "ingest.freshness_ms_p50": "ms",
    "ingest.freshness_ms_p99": "ms",
    "ingest.files_per_s": "1/s",
    "bookkeeper.commit_ms_p50": "ms",
    "bookkeeper.list_ms_p50": "ms",
    "bookkeeper.read_ms_p50": "ms",
    "bookkeeper.delete_ms_p50": "ms",
    "bookkeeper.self_ms_p50": "ms",
    "bookkeeper.batch_files_p50": "count",
    "bookkeeper.backlog_files_max": "count",
    "reaper.run_ms_p50": "ms",
    "reaper.snapshots_expired": "count",
    "reaper.files_deleted": "count",
    "table.append_entries_ms_p50": "ms",
    "table.incremental_entries_ms_p50": "ms",
    "table.expire_snapshots_ms_p50": "ms",
    "table.plan_files_ms_p50": "ms",
    "table.plan_survivor_ratio": "ratio",
    "table.scan_self_ms_p50": "ms",
    "format.load_metadata_per_commit": "count",
    "format.load_metadata_ms_p50": "ms",
    "format.manifests_read_per_commit": "count",
    "format.entries_written_per_added_entry": "ratio",
    "format.commit_attempts_per_commit": "count",
    "format.metadata_bytes": "bytes",
    "format.manifests_per_snapshot": "count",
    "format.manifests_read_per_plan": "count",
    "lookup.table_scan_ms_p50": "ms",
    "lookup.connector_ms_p50": "ms",
    "queries.build_ms_p50": "ms",
    "spark.analysis_ms_p50": "ms",
    "spark.optimization_ms_p50": "ms",
    "spark.planning_ms_p50": "ms",
    "spark.exec_ms_p50": "ms",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.shuffle_bytes_per_op": "bytes",
    "spark.spill_bytes_per_op": "bytes",
    "spark.jvm_peak_rss_mb": "MB",
    **{f"queries.{row}.ms_p50": "ms" for row in (
        "d1_tpch_q1", "c3_multiway_join", "e1_row_number_topk",
        "b2_boolean_predicates", "d3_count_distinct", "f2_topk",
        "h3_top_tokens", "h37_pipeline_composition",
        "h6b_minhash_lsh_near_dup", "h8_ann_bruteforce_topk",
        "h8b_ann_lsh_topk", "h8c_ann_ivf_topk", "i3_tumbling_window_stream",
    )},
    "trace.overhead_pct": "%",
    "trace.unaccounted_ops": "count",
}

WORKLOADS = ("ingest", "query_mix")


class SparkHandle:
    """Starts the session on first use; ``stop`` ends the JVM and waits."""

    def __init__(self) -> None:
        self.spark = None

    def jvm_peak_rss_mb(self) -> float:
        """Peak resident memory of the Spark JVM; 0 when none started."""
        if self.spark is None:
            return 0.0
        from pyspark import SparkContext

        return common.peak_rss_mb(SparkContext._gateway.proc.pid)

    def __call__(self):
        if self.spark is None:
            from java_iceberg_table_spark.session import get_spark

            self.spark = get_spark(app_name="perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        self.spark = None


def _run_workload(args, work: str, tracer, spark: SparkHandle) -> tuple[dict, dict]:
    """Returns (result, per-layer metrics or {})."""
    tiny = args.size == "tiny"
    if args.workload == "ingest":
        from perfbench import wl_ingest as wl

        size = wl.TINY if tiny else wl.IngestSize()
        res = wl.run(work, args.seed, args.seconds, tracer, size, args.inject)
        return res, (wl.layer_metrics(res, tracer) if tracer else {})
    from perfbench import lookups
    from perfbench import wl_query_mix as wl

    rows, lookup_size = (wl.ROWS[:3], lookups.TINY) if tiny else (wl.ROWS, lookups.LookupSize())
    res = wl.run(work, args.seed, args.seconds, tracer, spark, rows, lookup_size, args.inject)
    return res, (wl.layer_metrics(res, tracer) if tracer else {})


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: a seconds-long run for the self-tests")
    ap.add_argument("--inject", choices=("drop-moniker", "perturb-result"),
                    help="inject a fault the checks must report as a failed op")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(common.ROOT, "java_iceberg_table_spark", "__init__.py")):
        print("perfbench: the engine package java_iceberg_table_spark is not in this "
              "checkout; nothing to measure", file=sys.stderr)
        return 2

    work = common.make_work_dir()
    spark = SparkHandle()
    tracer = None
    try:
        common.prepare_environment(work)
        common.emit({"env": {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": common.nproc(),
            "mem_total_gb": round(common.mem_total_bytes() / (1 << 30), 1),
            "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"], **common.versions(),
        }})
        if args.trace:
            from perfbench.tracing import Tracer, install_engine_wrappers

            tracer = Tracer()
            install_engine_wrappers(tracer)
        res, layers = _run_workload(args, work, tracer, spark)
        if args.trace:
            layers["spark.jvm_peak_rss_mb"] = spark.jvm_peak_rss_mb()
        spark.stop()
        if args.trace:
            metrics = {name: {"value": float(layers.get(name, 0.0)), "unit": unit}
                       for name, unit in PER_LAYER.items()}
            os.makedirs(common.OUT_DIR, exist_ok=True)
            tracer.dump(os.path.join(common.OUT_DIR, f"spans-{args.workload}-seed{args.seed}.jsonl"))
        else:
            values = {
                "setup_s": res["setup_s"],
                "peak_rss_mb": common.peak_rss_mb(),
                "op_ms_p50": common.pct(res["op_ms"], 50),
            }
            metrics = {name: {"value": float(values[name]), "unit": unit}
                       for name, unit in END_TO_END.items()}
        if res.get("reason"):
            print(f"perfbench: check failed: {res['reason']}", file=sys.stderr)
        common.emit({
            "correct": bool(res["correct"]),
            "attempted": int(res["attempted"]),
            "failed": int(res["failed"]),
            "metrics": metrics,
        })
        return 0
    except Exception as e:
        traceback.print_exc()
        common.emit({"error": f"{args.workload} could not run: {type(e).__name__}: {e}"})
        return 1
    finally:
        if tracer is not None:
            tracer.uninstall()
        spark.stop()
        common.remove_work_dir(work)


if __name__ == "__main__":
    sys.exit(main())
