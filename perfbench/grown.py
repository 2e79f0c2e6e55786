"""The grown events table both metadata workloads start from.

The table has the reference's events schema, 24 hourly ``truncate``
partitions and ``hours x templates x links`` files of 100 rows. Per
hour, one ``Writer`` writes ``templates`` data files (message ids in
consecutive blocks of 100). Each template file is then hard-linked
``links - 1`` more times under new names in the same partition
directory, and every link gets its own manifest entry (the template's
footer stats under the link's path). The table is committed through
``Table.append_entries`` in ``commits`` equal commits, so it starts
with the same number of manifests, of about the size, that the
default manifest merge settles a table of this size into.

Hard links keep the set-up to seconds: the metadata plane (manifest
entries, their size, partition and message-id stats) is exactly what
distinct files would give, and a pruned read opens real files whose
rows are known. A point lookup for (hour, template block) matches
exactly the ``links`` files of that template.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import pyarrow.parquet as pq

HOUR_US = 3_600_000_000
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
ROWS_PER_FILE = 100


def events_schema():
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    return StructType(
        [
            StructField("message_id", LongType(), False),
            StructField("data", StringType(), True),
            StructField("timestamp", TimestampType(), True),
            StructField("timeperiod_loadedBy", LongType(), True),
            StructField("message_body", BinaryType(), True),
        ]
    )


@dataclass(frozen=True)
class Block:
    """The rows one (hour, template) lookup must return."""

    hour: int
    lo: int  # message_id bounds of the template file
    hi: int
    files: int
    rows: int
    id_sum: int


@dataclass
class GrownTable:
    root: str
    files: int
    blocks: list[Block]

    @property
    def table(self):
        from java_iceberg_table_spark.table import load_table

        return load_table(self.root)


def grow(
    root: str,
    seed: int,
    hours: int = 24,
    templates: int = 20,
    links: int = 42,
    commits: int = 4,
) -> GrownTable:
    from java_iceberg_table_spark.ingest.writer import Writer
    from java_iceberg_table_spark.table import create_table, truncate

    if hours % commits:
        raise ValueError("hours must split evenly into commits")
    tbl = create_table(
        root, events_schema(), partition=truncate("timeperiod_loadedBy", HOUR_US)
    )
    blocks: list[Block] = []
    pending: list[dict] = []
    offset_us = (seed % 3_000) * 1_000_000  # inside the hour, from the seed
    for h in range(hours):
        writer = Writer(tbl, writer_id=1000 + h, seed=seed * 7919 + h)
        for e in writer.create_data_files(templates, ROWS_PER_FILE, T0_US + h * HOUR_US + offset_us):
            src = os.path.join(root, e["path"])
            ids = pq.read_table(src, columns=["message_id"]).column(0).to_pylist()
            pending.append(e)
            stem = e["path"][: -len(".parquet")]
            for j in range(1, links):
                rel = f"{stem}-l{j}.parquet"
                os.link(src, os.path.join(root, rel))
                pending.append({**e, "path": rel})
            stats = e["columns"]["message_id"]
            blocks.append(
                Block(h, stats["min"], stats["max"], links, links * len(ids), links * sum(ids))
            )
        if (h + 1) % (hours // commits) == 0:
            tbl.append_entries(pending)
            pending = []
    return GrownTable(root, hours * templates * links, blocks)


def hour_bounds(hour: int) -> tuple[int, int]:
    start = T0_US + hour * HOUR_US
    return start, start + HOUR_US
