"""Pruned point lookups over a grown events table, the read side of
the ingest path; two of the ``query_mix`` operations.

The table has the ingest workload's shape (24 hourly partitions, files
from the same writer, 7 KB manifest entries) but is grown by one
commit per hour, so the default manifest merge leaves it with several
manifests, and it holds 384 files. Its 2.8 MB of manifests stay under
the engine's 4 MB threshold for distributed planning, so both read
paths plan by reading every manifest on the driver. Above the
threshold a lookup through both paths costs 4-5 s on 4 cores at any
table size (2,400 files: 4.8 s; 2x10^4 files: 9 s).

A lookup picks, from the seed, one hour partition and one
``message_id`` block, which prunes to one template's four linked files
(1% of the table), and aggregates count and sum(message_id). The
``table_scan`` operation reads through ``Table.scan``, the
``connector`` operation through ``spark.read.format("engine_table")``;
each answer must equal what set-up wrote.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass

from . import grown
from .common import median
from .tracing import Tracer, descendants, self_ms

OPS = ("lookup.table_scan", "lookup.connector")


@dataclass
class LookupSize:
    hours: int = 24
    templates: int = 4
    links: int = 4
    commits: int = 24


TINY = LookupSize(hours=4, templates=2, links=3, commits=4)


def filters(block: grown.Block) -> list:
    lo, hi = grown.hour_bounds(block.hour)
    return [
        ("timeperiod_loadedBy", ">=", lo),
        ("timeperiod_loadedBy", "<", hi),
        ("message_id", ">=", block.lo),
        ("message_id", "<=", block.hi),
    ]


def _agg(df):
    from pyspark.sql import functions as F

    return df.agg(F.count(F.lit(1)).alias("n"), F.sum("message_id").alias("s"))


class Lookups:
    """The grown table plus a seeded sequence of lookup blocks."""

    def __init__(self, work: str, seed: int, size: LookupSize) -> None:
        t0 = time.perf_counter()
        self.g = grown.grow(os.path.join(work, "lookup", "t"), seed,
                            size.hours, size.templates, size.links, size.commits)
        self.setup_s = time.perf_counter() - t0
        self.table = self.g.table
        self._rng = random.Random(seed)

    def next_block(self) -> grown.Block:
        return self._rng.choice(self.g.blocks)

    def builder(self, spark, op: str, block: grown.Block):
        """A zero-argument function building the op's DataFrame."""
        flt = filters(block)
        if op == "lookup.table_scan":
            return lambda: _agg(self.table.scan(spark, flt))

        def connector():
            from pyspark.sql import functions as F

            df = spark.read.format("engine_table").option("root", self.g.root).load()
            ops = {">=": lambda c, v: c >= v, "<": lambda c, v: c < v,
                   "<=": lambda c, v: c <= v}
            for col, o, val in flt:
                df = df.filter(ops[o](F.col(col), F.lit(val)))
            return _agg(df)

        return connector

    @staticmethod
    def check(rows, block: grown.Block) -> str | None:
        got = (rows[0]["n"], rows[0]["s"])
        want = (block.rows, block.id_sum)
        if got != want:
            return (f"lookup hour={block.hour} ids={block.lo}..{block.hi}: "
                    f"got (count, sum)={got}, set-up wrote {want}")
        return None

    def end_state(self) -> dict:
        snap = self.table.metadata.current_snapshot()
        return {"files": self.g.files, "manifests_per_snapshot": len(snap.manifests)}

    def close(self) -> None:
        shutil.rmtree(os.path.dirname(self.g.root), ignore_errors=True)


def unaccounted_scans(tracer: Tracer) -> int:
    """``Table.scan`` calls whose parts, each timed on its own
    (``plan_files``, the read of the planned files, the residual
    filters, metadata loads), miss the call's wall time by more than
    10%. On 4 cores they miss about a quarter of it: the py4j calls
    that build the residual filters' column expressions, which no
    wrapper covers."""
    kids = tracer.children()
    return sum(
        int(abs(s.ms - sum(c.ms for c in kids.get(s.sid, []))) > 0.10 * s.ms)
        for s in tracer.named("table.scan")
    )


def layer_metrics(execs: list[dict], end_state: dict, tracer: Tracer) -> dict:
    """Planning and read set-up of ``Table.scan`` from the spans of the
    traced table_scan lookups; per-path latency from untraced ones."""
    kids = tracer.children()
    plans = tracer.named("table.plan_files")
    manifests_read = []
    for p in plans:
        desc = descendants(p, kids)
        manifests_read.append(
            sum(1 for d in desc if d.name == "format.read_manifest")
            # the distributed planner reads manifests through Spark
            + sum(d.attrs.get("manifests", 0) for d in desc if d.name == "table.manifest_entries_df")
        )

    def plain(row):
        return [x["op"].wall_ms for x in execs if x["row"] == row and not x["traced"]]

    return {
        "table.plan_files_ms_p50": median([p.ms for p in plans]),
        "table.plan_survivor_ratio": median(
            [p.attrs.get("survivors", 0) / end_state["files"] for p in plans]
        ),
        "table.scan_self_ms_p50": median([self_ms(s, kids) for s in tracer.named("table.scan")]),
        "format.manifests_read_per_plan": median(manifests_read),
        "format.manifests_per_snapshot": end_state["manifests_per_snapshot"],
        "format.load_metadata_ms_p50": median([s.ms for s in tracer.named("format.load_metadata")]),
        "lookup.table_scan_ms_p50": median(plain("lookup.table_scan")),
        "lookup.connector_ms_p50": median(plain("lookup.connector")),
    }
