"""Distributed scan planning + GC reachability (the 100x-file-count
scale path): the executor planner must return the same entries as
the driver-side Python loop, and the distributed expire/clean sweep
must delete exactly the unreachable files.

Entries are synthesized straight into manifests (planning and GC are
metadata-only — no parquet data needs to exist to verify parity).
"""

from __future__ import annotations

import datetime
import os
import tempfile

import pytest
from pyspark.sql.types import LongType, StructField, StructType

from java_iceberg_table_spark.table import create_table, truncate
from java_iceberg_table_spark.table import format as fmt

SCHEMA = StructType(
    [StructField("tp", LongType(), False), StructField("v", LongType(), True)]
)
WIDTH = 1000


def _assert_parity(tbl, spark, filters) -> list[dict]:
    """Both planners return the same entry dicts (values and types);
    returns the driver loop's."""
    py = tbl.plan_files(filters)
    dist = tbl.plan_files(filters, spark=spark, distributed_threshold_bytes=0)
    assert sorted(py, key=lambda e: e["path"]) == sorted(dist, key=lambda e: e["path"])
    return py


def _mk_entries(n: int, start: int = 0) -> list[dict]:
    """n synthetic manifest entries, one per 'file', partitions striped
    over 50 buckets, v-stats covering a distinct range per entry."""
    out = []
    for i in range(start, start + n):
        bucket = (i % 50) * WIDTH
        out.append(
            {
                "path": f"data/f{i:06d}.parquet",
                "rows": 10,
                "bytes": 1000,
                "partition": bucket,
                "columns": {
                    "tp": {"min": bucket, "max": bucket + WIDTH - 1, "nulls": 0},
                    "v": {"min": i * 10, "max": i * 10 + 9, "nulls": 0},
                },
            }
        )
    return out


@pytest.fixture(scope="module")
def big_table():
    """A table whose current snapshot references 12_000 entries across
    several manifests (no data files — planning is metadata-only)."""
    root = tempfile.mkdtemp(prefix="dist_plan_") + "/t"
    tbl = create_table(root, SCHEMA, partition=truncate("tp", WIDTH))
    for batch in range(4):
        tbl.append_entries(_mk_entries(3000, start=batch * 3000))
    yield tbl
    import shutil

    shutil.rmtree(os.path.dirname(root), ignore_errors=True)


FILTER_CASES = [
    (),  # no filters: full entry list
    [("tp", "<", 5 * WIDTH)],  # partition pruning
    [("tp", ">=", 45 * WIDTH)],
    [("tp", "=", 7 * WIDTH + 3)],
    [("v", "<", 500)],  # stats-only pruning
    [("v", ">", 119_000)],
    [("v", "=", 60_005)],
    [("tp", "<", 10 * WIDTH), ("v", ">=", 100_000)],  # both
    [("tp", "<", 0)],  # prunes everything
]


@pytest.mark.parametrize("filters", FILTER_CASES)
def test_distributed_plan_parity(big_table, spark, filters):
    _assert_parity(big_table, spark, filters)


def test_distributed_plan_used_above_threshold(big_table, spark, monkeypatch):
    """The auto path must actually go distributed for this manifest
    volume (and the pruned result stays correct)."""
    called = {}
    orig = type(big_table)._plan_files_distributed

    def spy(self, *a, **kw):
        called["yes"] = True
        return orig(self, *a, **kw)

    monkeypatch.setattr(type(big_table), "_plan_files_distributed", spy)
    entries = big_table.plan_files(
        [("tp", "<", WIDTH)], spark=spark, distributed_threshold_bytes=1024
    )
    assert called.get("yes")
    assert entries and all(e["partition"] == 0 for e in entries)


def test_distributed_expire_sweep_parity(spark):
    """expire_snapshots with the distributed reachability sweep deletes
    exactly the files unreachable from kept snapshots."""
    import shutil

    roots = []
    results = []
    for dist in (False, True):
        root = tempfile.mkdtemp(prefix="dist_expire_") + "/t"
        roots.append(os.path.dirname(root))
        tbl = create_table(root, SCHEMA, partition=truncate("tp", WIDTH))
        # snapshot 1: files 0..99 (some will stay referenced by snap 2's
        # entries too); snapshot 2 adds 100..199
        e1 = _mk_entries(100, start=0)
        e2 = _mk_entries(100, start=100)
        for entries in (e1, e2):
            for e in entries:
                full = os.path.join(root, e["path"])
                os.makedirs(os.path.dirname(full), exist_ok=True)
                with open(full, "w") as f:
                    f.write("x")
            tbl.append_entries(entries)
        # a delete rewrites metadata so snap 1's files become dead once
        # snap 1 expires: drop partitions < 10*WIDTH from the live view
        tbl.delete_where("tp", "<", 10 * WIDTH)
        stats = tbl.expire_snapshots(
            older_than_ms=fmt.now_ms() + 10_000,
            retain_last=1,
            spark=spark if dist else None,
            distributed_threshold_bytes=0 if dist else None,
        )
        survivors = sorted(
            os.path.relpath(os.path.join(dp, f), root)
            for dp, _, fns in os.walk(os.path.join(root, "data"))
            for f in fns
        )
        results.append((stats, survivors))
    try:
        (s_py, surv_py), (s_dist, surv_dist) = results
        assert s_py == s_dist
        assert surv_py == surv_dist
        assert s_py["deleted_files"] > 0
        # every surviving file is referenced by the current snapshot
    finally:
        for r in roots:
            shutil.rmtree(r, ignore_errors=True)


def test_distributed_clean_parity(spark):
    """clean() with distributed reachability removes the same orphans
    as the driver loop and never touches live files."""
    import shutil

    results = []
    roots = []
    for dist in (False, True):
        root = tempfile.mkdtemp(prefix="dist_clean_") + "/t"
        roots.append(os.path.dirname(root))
        tbl = create_table(root, SCHEMA, partition=truncate("tp", WIDTH))
        entries = _mk_entries(200, start=0)
        for e in entries:
            full = os.path.join(root, e["path"])
            os.makedirs(os.path.dirname(full), exist_ok=True)
            with open(full, "w") as f:
                f.write("x")
        tbl.append_entries(entries)
        # orphans: files referenced by no manifest
        for i in range(40):
            with open(os.path.join(root, "data", f"orphan{i}.parquet"), "w") as f:
                f.write("y")
        stats = tbl.clean(
            older_than_ms=0,
            now_ms=fmt.now_ms() + 10_000,  # files written this test are "old"
            spark=spark if dist else None,
            distributed_threshold_bytes=0 if dist else None,
        )
        survivors = sorted(
            f
            for dp, _, fns in os.walk(os.path.join(root, "data"))
            for f in fns
        )
        results.append((stats, survivors))
    try:
        (s_py, surv_py), (s_dist, surv_dist) = results
        assert s_py == s_dist
        assert surv_py == surv_dist
        assert s_py["deleted_files"] == 40
        assert all(not f.startswith("orphan") for f in surv_py)
        assert len(surv_py) == 200
    finally:
        for r in roots:
            shutil.rmtree(r, ignore_errors=True)


def test_distributed_plan_carries_lineage_and_token_bloom(spark):
    """The distributed planner's entries carry first_row_id /
    row_ids_inline / token_bloom — scan_with_lineage routes through it
    once manifests cross the size threshold, and dropping the fields
    made every _row_id silently NULL exactly at the scale lineage
    targets."""
    import shutil

    root = tempfile.mkdtemp(prefix="dist_lineage_") + "/t"
    try:
        tbl = create_table(root, SCHEMA, partition=truncate("tp", WIDTH))
        entries = _mk_entries(20)
        for i, e in enumerate(entries):
            e["first_row_id"] = 1000 + i * 10
            if i % 3 == 0:
                e["row_ids_inline"] = True
            if i % 4 == 0:
                e["token_bloom"] = {
                    "column": "text",
                    "bits": 1024,
                    "k": 7,
                    "words": [3, 0] + [0] * 14,
                }
        tbl.append_entries(entries)
        py = _assert_parity(tbl, spark, ())
        assert sum("token_bloom" in e for e in py) == 5
    finally:
        shutil.rmtree(os.path.dirname(root), ignore_errors=True)


def _mk_composite_entries(n: int, start: int = 0) -> list[dict]:
    """Synthetic COMPOSITE-spec entries: partition_fields =
    (truncate(tp, 1000) bucket, uid hash bucket of 8), stats aligned
    with both fields."""
    import zlib

    out = []
    for i in range(start, start + n):
        tpb = (i % 50) * WIDTH
        uid = f"u{i % 23}"
        ub = zlib.crc32(uid.encode()) % 8
        out.append(
            {
                "path": f"data/c{i:06d}.parquet",
                "rows": 10,
                "bytes": 1000,
                "partition_fields": [tpb, ub],
                "columns": {
                    "tp": {"min": tpb, "max": tpb + WIDTH - 1, "nulls": 0},
                    "uid": {"min": uid, "max": uid, "nulls": 0},
                    "v": {"min": i * 10, "max": i * 10 + 9, "nulls": 0},
                },
            }
        )
    return out


@pytest.fixture(scope="module")
def big_composite_table():
    """12_000 composite-spec entries (metadata only): the 100-TB gate
    for per-field tuple pruning through the DISTRIBUTED planner."""
    from pyspark.sql.types import StringType

    from java_iceberg_table_spark.table import bucket, composite

    schema = StructType(
        [
            StructField("tp", LongType(), False),
            StructField("uid", StringType(), True),
            StructField("v", LongType(), True),
        ]
    )
    root = tempfile.mkdtemp(prefix="dist_plan_comp_") + "/t"
    tbl = create_table(
        root, schema,
        partition=composite(truncate("tp", WIDTH), bucket("uid", 8)),
    )
    for batch in range(4):
        tbl.append_entries(_mk_composite_entries(3000, start=batch * 3000))
    yield tbl
    import shutil

    shutil.rmtree(os.path.dirname(root), ignore_errors=True)


COMPOSITE_FILTER_CASES = [
    (),
    [("tp", "<", 5 * WIDTH)],             # temporal-field pruning
    [("uid", "=", "u7")],                 # hash-field equality pruning
    [("tp", "<", 5 * WIDTH), ("uid", "=", "u7")],  # intersection
    [("v", "=", 60_005)],                 # stats-only
    [("tp", "<", 0)],                     # prunes everything
]


@pytest.mark.parametrize("filters", COMPOSITE_FILTER_CASES)
def test_distributed_composite_plan_parity(
    big_composite_table, spark, filters
):
    _assert_parity(big_composite_table, spark, filters)


def test_distributed_composite_pruned_fractions(big_composite_table, spark):
    """The INTERSECTION property at scale: each field alone prunes its
    share, together they prune the product — distributed path."""
    total = 12_000
    day = big_composite_table.plan_files(
        [("tp", "<", 5 * WIDTH)], spark=spark, distributed_threshold_bytes=0
    )
    assert len(day) == total // 10  # 5 of 50 stripes
    uid = big_composite_table.plan_files(
        [("uid", "=", "u7")], spark=spark, distributed_threshold_bytes=0
    )
    # one of 23 uids; stats equality (min==max==uid) prunes exactly
    assert 0 < len(uid) <= total // 8 + total // 23
    both = big_composite_table.plan_files(
        [("tp", "<", 5 * WIDTH), ("uid", "=", "u7")],
        spark=spark,
        distributed_threshold_bytes=0,
    )
    assert 0 < len(both) < min(len(day), len(uid))
    assert {e["path"] for e in both} == (
        {e["path"] for e in day} & {e["path"] for e in uid}
    )


# ---- round 14: set/prefix leaves (IN, prefix LIKE) parity ----

SET_LEAF_CASES = [
    [("v", "in", (5, 60_005, 119_999))],
    [("tp", "in", (7 * WIDTH + 3, 20 * WIDTH))],
    [("tp", "<", 10 * WIDTH), ("v", "in", (5, 115_000))],
    [("v", "in", (-1, -2))],  # prunes everything
]


@pytest.mark.parametrize("filters", SET_LEAF_CASES)
def test_distributed_plan_parity_in_leaf(big_table, spark, filters):
    """The round-14 IN leaf decomposes to per-value equality on BOTH
    planning paths — the distributed planner must prune exactly like
    the driver loop."""
    _assert_parity(big_table, spark, filters)


DAY0 = datetime.date(2024, 1, 1)


@pytest.fixture(scope="module")
def str_table():
    """2_000 entries with STRING stats on s (30 distinct prefixes; odd
    files' upper bound sits at the 16-char truncation length), DATE
    stats on d (40 days) and numeric-looking STRING stats on n."""
    root = tempfile.mkdtemp(prefix="dist_plan_s_") + "/t"
    from pyspark.sql.types import DateType, StringType

    schema = StructType(
        [
            StructField("tp", LongType(), False),
            StructField("s", StringType(), True),
            StructField("d", DateType(), True),
            StructField("n", StringType(), True),
        ]
    )
    tbl = create_table(root, schema, partition=truncate("tp", WIDTH))
    entries = []
    for i in range(2000):
        bucket = (i % 50) * WIDTH
        pfx = f"p{i % 30:02d}"
        day = (DAY0 + datetime.timedelta(days=i % 40)).isoformat()
        entries.append(
            {
                "path": f"data/s{i:06d}.parquet",
                "rows": 10,
                "bytes": 1000,
                "partition": bucket,
                "columns": {
                    "tp": {
                        "min": bucket, "max": bucket + WIDTH - 1, "nulls": 0
                    },
                    "s": {
                        "min": pfx + "_a",
                        "max": pfx + "_" + "z" * (12 if i // 30 % 2 else 1),
                        "nulls": 0,
                    },
                    "d": {"min": day, "max": day, "nulls": 0},
                    "n": {"min": f"{i % 100:05d}", "max": f"{i % 100:05d}", "nulls": 0},
                },
            }
        )
    tbl.append_entries(entries)
    yield tbl
    import shutil

    shutil.rmtree(os.path.dirname(root), ignore_errors=True)


LIKE_CASES = [
    [("s", "like_prefix", "p07")],       # 1/30 of entries
    [("s", "like_prefix", "p07_m")],     # inside one prefix's range
    [("s", "like_prefix", "zzz")],       # prunes everything
    [("s", "like_prefix", "p")],         # keeps everything
    [("tp", "<", 5 * WIDTH), ("s", "like_prefix", "p11")],
    [("s", "in", ("p03_m", "zzz"))],     # string IN
    [("d", "=", DAY0 + datetime.timedelta(days=4))],  # DATE value
    [("d", "<", DAY0 + datetime.timedelta(days=2))],
    [("n", "=", "00007")],               # numeric-looking strings
    [("n", "<", "00003")],
    [("s", "=", "p07_" + "z" * 12)],     # bound at the truncation length
    [("s", ">", "p07_" + "z" * 14)],
]

# survivors on the driver loop, for the cases whose count pins pruning
LIKE_KEPT = {0: 67, 6: 50, 7: 150, 8: 20, 9: 60, 10: 33}


@pytest.mark.parametrize("filters", LIKE_CASES)
def test_distributed_plan_parity_like_prefix(str_table, spark, filters):
    py = _assert_parity(str_table, spark, filters)
    kept = LIKE_KEPT.get(LIKE_CASES.index(filters))
    assert kept is None or len(py) == kept


def test_dnf_union_planning_goes_distributed(big_table, spark, monkeypatch):
    """delete_rows/update_where plan candidates per OR-branch through
    plan_files — past the threshold each branch's conjunction runs as
    the distributed manifest scan. Verified at the planning layer
    (synthetic entries have no data files to rewrite): the union of
    two branches' distributed plans equals the driver-loop union."""
    branches = [
        [("tp", "<", 2 * WIDTH)],
        [("tp", ">=", 48 * WIDTH), ("v", "<", 115_000)],
    ]
    def union(threshold):
        out = set()
        for br in branches:
            out.update(
                e["path"]
                for e in big_table.plan_files(
                    br, spark=spark, distributed_threshold_bytes=threshold
                )
            )
        return out

    py = union(1 << 60)   # forces the driver loop
    dist = union(0)       # forces the distributed scan
    assert py == dist
    total = len(big_table.plan_files())
    assert 0 < len(py) < total  # the union is a strict subset
