"""Workload ``query_mix``: the read side, closed loop, one client.

Why this workload: DataFrame construction through py4j, Catalyst,
scheduling and the operators dominate, and nothing writes. One pass
runs, in an order drawn from the seed:

- the 13 per-call headline query rows, including the h6b/h8b/h8c rows
  carried as open items, over the sf0.1-shaped fixtures ``fixturegen``
  writes from the seed (prepared rows are left out: they need a pooled
  fresh-Dataset protocol);
- one pruned point lookup through ``Table.scan`` and one through the
  ``engine_table`` connector, over a grown events table (``lookups``),
  where manifest planning and per-file read set-up dominate. They show
  the read-side cost of whatever manifest layout a commit-side change
  picks.

The session is ``session.get_spark()`` with its defaults, and no row
changes a setting, so a gain from another setting has to land in
``session.py``, where users get it. Every operation returns at most a
few thousand rows, so each materializes with ``collect()``. Each query
row is checked, untimed, against its DuckDB oracle with
``oracle.compare``; each lookup against the rows set-up wrote. The
fixtures and the oracle answers are made in a child process
(``prepare``), so the measured process's peak memory is the engine's
and Spark's driver side, not the generator's or DuckDB's.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import time

import pandas as pd

from . import lookups
from .common import median
from .sparkprobe import Probe, spark_layer, unaccounted
from .tracing import Tracer

ROWS = [
    "d1_tpch_q1",
    "c3_multiway_join",
    "e1_row_number_topk",
    "b2_boolean_predicates",
    "d3_count_distinct",
    "f2_topk",
    "h3_top_tokens",
    "h37_pipeline_composition",
    "h6b_minhash_lsh_near_dup",
    "h8_ann_bruteforce_topk",
    "h8b_ann_lsh_topk",
    "h8c_ann_ivf_topk",
    "i3_tumbling_window_stream",
]


def to_pandas(rows, schema):
    """Collected rows to pandas exactly as ``DataFrame.toPandas`` does
    without Arrow, so the oracle comparison needs no second execution."""
    from pyspark.sql.pandas.types import _create_converter_to_pandas

    cols = [f.name for f in schema.fields]
    if not rows:
        return pd.DataFrame(columns=cols)
    pdf = pd.DataFrame.from_records(rows, index=range(len(rows)), columns=cols)
    return pd.concat(
        [
            _create_converter_to_pandas(
                f.dataType, f.nullable, timezone="UTC", struct_in_pandas="row",
                error_on_duplicated_field_names=False, timestamp_utc_localized=False,
            )(ser)
            for (_, ser), f in zip(pdf.items(), schema.fields)
        ],
        axis="columns",
    )


def _prepare(work: str, seed: int, rows: list[str]) -> tuple[str, dict, float]:
    """Fixtures and oracle answers from a child process: (fixture
    directory, oracle frame per row, fixture generation seconds)."""
    subprocess.run([sys.executable, "-m", "perfbench.prepare", work, str(seed), *rows],
                   check=True, timeout=600)
    with open(os.path.join(work, "prepared.json")) as f:
        fixtures_s = json.load(f)["fixtures_s"]
    oracles = {name: pd.read_pickle(os.path.join(work, "oracles", f"{name}.pkl")) for name in rows}
    return os.path.join(work, "sf0.1"), oracles, fixtures_s


def run(work: str, seed: int, seconds: float, tracer: Tracer | None, spark_factory,
        rows: list[str] = ROWS, lookup_size: lookups.LookupSize = lookups.LookupSize(),
        inject: str | None = None) -> dict:
    from java_iceberg_table_spark.oracle import compare
    from java_iceberg_table_spark.queries import load_all
    from java_iceberg_table_spark.sources.engine_datasource import register_engine_datasource

    sf_dir, oracles, fixtures_s = _prepare(work, seed, rows)
    registry = load_all()
    lk = lookups.Lookups(work, seed, lookup_size)
    t0 = time.perf_counter()
    spark = spark_factory()
    register_engine_datasource(spark)
    probe = Probe(spark)
    ops = list(rows) + list(lookups.OPS)

    def builder(name: str, block):
        if name in lookups.OPS:
            return lk.builder(spark, name, block)
        return lambda: registry[name].fn(spark, sf_dir)

    block = lk.next_block()
    for name in ops:  # warm-up pass: JIT, Python workers, per-session caches
        probe.run(builder(name, block), False)
    setup_s = fixtures_s + lk.setup_s + time.perf_counter() - t0

    # Whole passes, until the window has passed, so every run times each
    # operation equally often (one pass takes about 12 s on 4 cores). A
    # traced run traces every other operation and runs at least two
    # passes, flipping which half is traced, so each operation runs both
    # ways for a paired overhead estimate; engine spans are recorded
    # only for traced operations.
    rng = random.Random(seed)
    execs: list[dict] = []
    failed = 0
    first_problem = None
    min_passes = 2 if tracer is not None else 1
    window_start = time.perf_counter()
    passes = 0
    while True:
        order = list(ops)
        rng.shuffle(order)
        for name in order:
            block = lk.next_block()
            traced = tracer is not None and (ops.index(name) + passes) % 2 == 1
            if tracer is not None:
                tracer.recording = traced
            df, got, op = probe.run(builder(name, block), traced)
            if tracer is not None:
                tracer.recording = False
            if name in lookups.OPS:
                problem = lk.check(got, block)
                if inject == "perturb-result" and not execs:
                    problem = "injected: lookup result perturbed"
            else:
                pdf = to_pandas(got, df.schema)
                if inject == "perturb-result" and not execs:
                    pdf = pdf.iloc[1:] if len(pdf) > 1 else pdf.iloc[0:0]
                problems = compare(pdf, oracles[name])
                problem = f"{name}: {problems[0]}" if problems else None
            if problem:
                failed += 1
                first_problem = first_problem or problem
            execs.append({"row": name, "traced": traced, "op": op, "pass": passes})
        passes += 1
        if passes >= min_passes and time.perf_counter() - window_start >= seconds:
            break
    end_state = lk.end_state()
    lk.close()
    return {
        "attempted": len(execs),
        "failed": failed,
        "correct": failed == 0,
        "reason": first_problem,
        "setup_s": setup_s,
        "op_ms": [sum(x["op"].wall_ms for x in execs if x["pass"] == p) for p in range(passes)],
        "execs": execs,
        "end_state": end_state,
    }


def layer_metrics(res: dict, tracer: Tracer) -> dict:
    execs = res["execs"]
    traced = [x for x in execs if x["traced"]]
    by_row = {
        f"queries.{name}.ms_p50": median(
            [x["op"].wall_ms for x in execs if x["row"] == name and not x["traced"]]
        )
        for name in ROWS
    }
    # every operation ran traced in one pass and untraced in the other
    pairs = []
    for name in ROWS + list(lookups.OPS):
        t = [x["op"].wall_ms for x in traced if x["row"] == name]
        u = [x["op"].wall_ms for x in execs if x["row"] == name and not x["traced"]]
        if t and u:
            pairs.append((median(t), median(u)))
    return {
        **spark_layer([x["op"] for x in traced]),
        **by_row,
        **lookups.layer_metrics(execs, res["end_state"], tracer),
        "trace.overhead_pct": median([(t / u - 1.0) * 100.0 for t, u in pairs]),
        "trace.unaccounted_ops": (sum(unaccounted(x["op"]) for x in traced)
                                  + lookups.unaccounted_scans(tracer)),
    }
