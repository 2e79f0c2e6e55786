"""Durability/atomicity regressions (round-2 ADVICE items).

Each test pins a crash-window or precision hazard in the commit
machinery:
- expire_snapshots must not destroy files a concurrent ref commit
  still pins (commit-then-delete ordering);
- bookkeeper replay after a crash between commit and moniker delete
  must not double-append;
- added_files must survive parent-snapshot expiry (added-manifest);
- streaming batch ids must ride in the data commit itself;
- the Arrow write path's partition bucketing must be integer-exact
  past 2^53.
"""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from java_iceberg_table_spark.ingest.bookkeeper import Bookkeeper
from java_iceberg_table_spark.ingest.writer import Writer
from java_iceberg_table_spark.table import create_table, load_table, truncate
from java_iceberg_table_spark.table import format as fmt
from java_iceberg_table_spark.table.table import RetentionGapError

SIMPLE_SCHEMA = StructType(
    [
        StructField("k", LongType(), False),
        StructField("v", StringType(), True),
        StructField("ts", LongType(), True),
    ]
)


@pytest.fixture()
def troot(tmp_path):
    return str(tmp_path / "tbl")


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), F.lit("x").alias("v"), F.col("id").alias("ts")
    )


def test_expire_survives_concurrent_tag_conflict(spark, troot, lose_next_cas):
    """A create_tag that wins the CAS race mid-expire must keep its
    pinned snapshot's files: deletion happens only after the commit
    that actually observed the tag."""
    tbl = create_table(troot, SIMPLE_SCHEMA, partition=truncate("ts", 100))
    tbl.append(_df(spark, 0, 100))
    first = tbl.metadata.current_snapshot().snapshot_id
    first_files = {e["path"] for e in tbl.plan_files()}
    tbl.append(_df(spark, 100, 200))

    # rival commit lands first: tag pins the snapshot the in-flight
    # expire computed as expired
    lost = lose_next_cas(lambda root: tbl.create_tag("pin-old", snapshot_id=first))
    stats = tbl.expire_snapshots(older_than_ms=10**20, retain_last=1)

    assert lost
    # the retry re-read metadata, saw the pin, expired nothing
    assert stats["expired_snapshots"] == 0
    assert stats["deleted_files"] == 0
    md = tbl.metadata
    assert any(s.snapshot_id == first for s in md.snapshots)
    for rel in first_files:
        assert os.path.exists(os.path.join(troot, rel)), rel
    # the tagged snapshot still scans completely
    assert tbl.scan(spark, snapshot_id=first).count() == 100


def test_bookkeeper_replay_does_not_double_append(spark, troot):
    """Crash between durable commit and moniker deletion: the replayed
    batch must add zero files/rows (dedupe by path)."""
    tbl = create_table(troot, SIMPLE_SCHEMA, partition=truncate("ts", 100))
    w = Writer(tbl, writer_id=0, seed=7)
    w.run_iteration(n_files=3, rows_per_file=10, timeperiod_us=0)
    pending = os.path.join(troot, "_pending")
    monikers = {
        p: open(os.path.join(pending, p)).read() for p in os.listdir(pending)
    }
    bk = Bookkeeper(tbl)
    m1 = bk.run_once()
    assert m1["files"] == 3
    n_files = len(tbl.current_files())
    n_rows = tbl.scan(spark).count()
    # simulate the crash: monikers resurface after the commit
    for name, content in monikers.items():
        with open(os.path.join(pending, name), "w") as f:
            f.write(content)
    m2 = bk.run_once()
    assert m2["files"] == 0  # replayed entries don't inflate throughput
    assert bk.total_files_appended == 3
    assert len(tbl.current_files()) == n_files
    assert tbl.scan(spark).count() == n_rows
    assert os.listdir(pending) == []  # replayed monikers still consumed


def _count_manifest_reads(monkeypatch) -> list[str]:
    reads: list[str] = []
    real = fmt.read_manifest

    def counting(root, rel):
        reads.append(rel)
        return real(root, rel)

    monkeypatch.setattr(fmt, "read_manifest", counting)
    return reads


def test_bookkeeper_replay_after_merge_reads_no_manifest(troot, monkeypatch):
    """The dedupe path sets of a merge commit's shards are cached when
    its CAS wins: replaying the merged batch (monikers resurfacing
    after the commit) appends nothing and reads no manifest."""
    tbl = create_table(
        troot,
        SIMPLE_SCHEMA,
        partition=truncate("ts", 100),
        properties={"commit.manifest.min-count-to-merge": "2"},
    )
    w = Writer(tbl, writer_id=0, seed=7)
    bk = Bookkeeper(tbl)
    pending = os.path.join(troot, "_pending")
    for _ in range(2):
        w.run_iteration(n_files=2, rows_per_file=10, timeperiod_us=0)
        assert bk.run_once()["files"] == 2
    w.run_iteration(n_files=2, rows_per_file=10, timeperiod_us=0)
    monikers = {
        p: open(os.path.join(pending, p)).read() for p in os.listdir(pending)
    }
    assert bk.run_once()["files"] == 2
    snap = tbl.metadata.current_snapshot()
    # the third commit merged: its own manifest is folded into a shard
    assert snap.summary["added-manifest"] not in snap.manifests
    assert set(tbl._path_sets) == set(snap.manifests)
    reads = _count_manifest_reads(monkeypatch)
    for name, content in monikers.items():
        with open(os.path.join(pending, name), "w") as f:
            f.write(content)
    m = bk.run_once()
    assert (m["files"], m["monikers"]) == (0, 1)
    assert reads == []
    assert tbl.metadata.current_snapshot().snapshot_id == snap.snapshot_id
    assert os.listdir(pending) == []
    assert len(tbl.current_files()) == 6


def test_dedupe_reads_manifests_another_instance_wrote(troot, monkeypatch):
    """A commit by a second Table instance in between is a cache miss:
    its manifest is read, so its files still dedupe."""
    tbl = create_table(troot, SIMPLE_SCHEMA, partition=truncate("ts", 100))
    other = load_table(troot)
    w = Writer(tbl, writer_id=0, seed=7)
    a, b, c = (w.create_data_files(2, 10, 0) for _ in range(3))
    tbl.append_entries(a, dedupe_paths=True)
    other.append_entries(b, dedupe_paths=True)
    b_manifest = other.metadata.current_snapshot().summary["added-manifest"]
    reads = _count_manifest_reads(monkeypatch)
    assert tbl.append_entries(b, dedupe_paths=True) is None
    assert reads == [b_manifest]
    snap = tbl.append_entries(b + c, dedupe_paths=True)
    assert snap.summary["added-files"] == 2
    assert reads == [b_manifest]
    assert sorted(e["path"] for e in tbl.current_files()) == sorted(
        e["path"] for e in a + b + c
    )


def _entries(lo: int, hi: int) -> list[dict]:
    return [
        {"path": f"data/f{i}.parquet", "rows": 1, "bytes": 1, "partition": None,
         "columns": {}}
        for i in range(lo, hi)
    ]


def _merge_table(troot, min_count: int, max_entries: int):
    return create_table(
        troot,
        SIMPLE_SCHEMA,
        properties={
            "commit.manifest.min-count-to-merge": str(min_count),
            "commit.manifest.max-entries": str(max_entries),
        },
    )


def test_bounded_merge_never_reads_a_full_shard(troot, monkeypatch):
    """Full shards (>= max-entries) are carried by reference: a merge
    reads only the small manifests, also through a fresh instance
    whose counts come from metadata, and a sustained loop never reads
    more than (min-count + 1) x max-entries entries in one commit
    while every path lands exactly once."""
    import random

    min_count, max_entries = 4, 5
    tbl = _merge_table(troot, min_count, max_entries)
    for i in range(0, 30, 2):
        tbl.append_entries(_entries(i, i + 2), dedupe_paths=True)
    head = tbl.metadata.current_snapshot()
    full = {
        m for m in head.manifests
        if len(fmt.read_manifest(troot, m)) >= max_entries
    }
    assert len(full) >= 2

    real_read = fmt.read_manifest
    reads = _count_manifest_reads(monkeypatch)
    fresh = load_table(troot)
    # the head holds no small manifest: the (min-count + 1)th small
    # one triggers the merge
    n = 30
    for _ in range(min_count + 1):
        snap = fresh.append_entries(_entries(n, n + 2))
        n += 2
    assert reads and not full & set(reads)
    assert "merged-manifests" in snap.summary
    assert full <= set(snap.manifests)

    rng = random.Random(5)
    appended, merges = n, 0
    for _ in range(60):
        k = rng.randint(1, 7)
        # a replayed path rides along: dedupe drops it
        replay = rng.randrange(appended)
        batch = _entries(appended, appended + k) + _entries(replay, replay + 1)
        before = len(reads)
        snap = tbl.append_entries(batch, dedupe_paths=True)
        appended += k
        merges += "merged-manifests" in snap.summary
        read = sum(len(real_read(troot, m)) for m in reads[before:])
        assert read <= (min_count + 1) * max_entries, read
    assert merges > 5
    got = [e["path"] for e in tbl.current_files()]
    assert sorted(got) == sorted(e["path"] for e in _entries(0, appended))


def test_merge_of_uncounted_manifests(troot, monkeypatch):
    """Metadata written without entry counts (an older writer) still
    merges correctly: each uncounted manifest is read once, as a small
    one, and the merged snapshot carries a count for every manifest."""
    tbl = _merge_table(troot, min_count=4, max_entries=5)
    for i in range(0, 14, 2):
        tbl.append_entries(_entries(i, i + 2))
    v = fmt.current_version(troot)
    path = os.path.join(troot, "metadata", f"v{v}.json")
    md = fmt.read_json(path)
    for s in md["snapshots"]:
        s.pop("manifest_entries", None)
    with open(path, "w") as f:
        json.dump(md, f)
    legacy = load_table(troot).metadata.current_snapshot().manifests
    assert len(legacy) <= 4

    reads = _count_manifest_reads(monkeypatch)
    snap = load_table(troot).append_entries(_entries(14, 16))
    assert snap.summary["merged-manifests"] == len(legacy) + 1
    assert sorted(reads) == sorted(legacy + [snap.summary["added-manifest"]])
    head = load_table(troot).metadata.current_snapshot()
    assert head.manifest_entries == [
        len(fmt.read_manifest(troot, m)) for m in head.manifests
    ]
    got = [e["path"] for e in load_table(troot).current_files()]
    assert sorted(got) == sorted(e["path"] for e in _entries(0, 16))


def test_merge_summary_counts_merged_entries(troot):
    """A merging append reports what it merged in its own summary; a
    non-merging append carries neither key."""
    tbl = _merge_table(troot, min_count=2, max_entries=5)
    for lo, hi in ((0, 6), (6, 8), (8, 10)):
        snap = tbl.append_entries(_entries(lo, hi))
        assert "merged-manifests" not in snap.summary
        assert "merged-entries" not in snap.summary
    parent = snap
    snap = tbl.append_entries(_entries(10, 11))
    small = [
        m for m in parent.manifests + [snap.summary["added-manifest"]]
        if len(fmt.read_manifest(troot, m)) < 5
    ]
    assert snap.summary["merged-manifests"] == len(small) == 3
    assert snap.summary["merged-entries"] == sum(
        len(fmt.read_manifest(troot, m)) for m in small
    ) == 5
    assert parent.manifests[0] in snap.manifests  # the full one, carried


def test_dedupe_cache_shared_by_concurrent_committers(troot):
    """Threads committing overlapping batches through ONE Table share
    its path-set cache: every path still lands exactly once."""
    import random
    import sys
    import threading

    tbl = create_table(
        troot, SIMPLE_SCHEMA, properties={"commit.manifest.min-count-to-merge": "3"}
    )
    paths = [f"data/f{i}.parquet" for i in range(60)]

    def commit(seed: int) -> None:
        rng = random.Random(seed)
        for _ in range(6):
            batch = rng.sample(paths, 8)
            tbl.append_entries(
                [{"path": p, "rows": 1, "bytes": 1, "partition": None, "columns": {}}
                 for p in batch],
                dedupe_paths=True,
            )

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=commit, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    got = [e["path"] for e in tbl.current_files()]
    assert len(got) == len(set(got))


def test_added_files_survives_parent_expiry(spark, troot):
    """added-manifest tracking: incremental reads keep working after
    the parent snapshot is expired (previously KeyError)."""
    tbl = create_table(troot, SIMPLE_SCHEMA, partition=truncate("ts", 100))
    tbl.append(_df(spark, 0, 100))
    tbl.append(_df(spark, 100, 200))
    child = tbl.metadata.current_snapshot()
    expected = {e["path"] for e in tbl.added_files(child)}
    stats = tbl.expire_snapshots(older_than_ms=10**20, retain_last=1)
    assert stats["expired_snapshots"] == 1
    got = {e["path"] for e in tbl.added_files(tbl.metadata.current_snapshot())}
    assert got == expected
    # pre-upgrade snapshots (no added-manifest) with an expired parent
    # raise the graceful retention error instead of KeyError-crashing
    legacy = fmt.Snapshot(
        snapshot_id=999,
        parent_id=12345,  # never existed -> same as expired
        timestamp_ms=0,
        operation="append",
        manifests=list(child.manifests),
    )
    with pytest.raises(RetentionGapError):
        tbl.added_files(legacy)


def test_streaming_batch_id_stamped_atomically(spark, troot):
    """extra_summary rides in the append commit: one version bump,
    batch id + added-files in the same snapshot summary."""
    tbl = create_table(troot, SIMPLE_SCHEMA)
    v0 = tbl.metadata.version
    snap = tbl.append(_df(spark, 0, 50), extra_summary={"streaming-batch-id": 7})
    md = tbl.metadata
    assert md.version == v0 + 1  # no second stamping commit
    committed = next(s for s in md.snapshots if s.snapshot_id == snap.snapshot_id)
    assert committed.summary["streaming-batch-id"] == 7
    assert committed.summary["added-files"] >= 1


def test_arrow_bucketing_integer_exact_past_2p53(tmp_path):
    """_write_task_files must label buckets with exact integer
    arithmetic: nanosecond-scale values (> 2^53) mislabel under a
    float64 detour, which would make plan_files prune live files."""
    import pyarrow as pa

    from java_iceberg_table_spark.sources.engine_datasource import _write_task_files
    from java_iceberg_table_spark.table.transforms import TruncateTransform

    width = 300_000_000
    spec = {"transform": "truncate", "source_column": "ts", "width": width}
    t = TruncateTransform.from_json(spec)
    vals = [2**62 + 123, 2**62 + 123 + width, -7, 0, 2**53 + 1]
    schema = StructType(
        [StructField("k", LongType(), False), StructField("ts", LongType(), True)]
    )
    batch = pa.record_batch(
        {"k": pa.array(range(len(vals)), pa.int64()), "ts": pa.array(vals, pa.int64())}
    )
    root = str(tmp_path)
    os.makedirs(os.path.join(root, "data"), exist_ok=True)
    entries = _write_task_files(iter([batch]), root, schema, spec)
    got = sorted(e["partition"] for e in entries)
    assert got == sorted({t.apply_py(v) for v in vals})


def test_clean_collects_orphans_keeps_live(spark, troot):
    """clean(): files unreachable from any snapshot (crashed writer /
    lost CAS leftovers) are deleted past the grace window; every live
    file and manifest survives and the table still scans."""
    tbl = create_table(troot, SIMPLE_SCHEMA, partition=truncate("ts", 100))
    tbl.append(_df(spark, 0, 100))
    tbl.append(_df(spark, 100, 200))
    n_rows = tbl.scan(spark).count()
    # plant orphans: a stray data file and an unreferenced manifest
    orphan_data = os.path.join(troot, "data", "b-dead", "part-0.parquet")
    os.makedirs(os.path.dirname(orphan_data), exist_ok=True)
    with open(orphan_data, "w") as f:
        f.write("not really parquet")
    orphan_manifest = fmt.write_manifest(troot, [])
    live_manifests = {
        m for s in tbl.metadata.snapshots for m in s.manifests
    } | {
        s.summary["added-manifest"]
        for s in tbl.metadata.snapshots
        if "added-manifest" in s.summary
    }
    stats = tbl.clean(older_than_ms=0)
    assert stats["deleted_files"] == 1
    assert stats["deleted_manifests"] >= 1
    assert not os.path.exists(orphan_data)
    assert not os.path.exists(os.path.join(troot, orphan_manifest))
    for m in live_manifests:
        assert os.path.exists(os.path.join(troot, m)), m
    assert tbl.scan(spark).count() == n_rows
    # grace window: a fresh orphan with default window is untouched
    with open(orphan_data, "w") as f:
        f.write("again")
    assert tbl.clean()["deleted_files"] == 0
    assert os.path.exists(orphan_data)


def _leak_append(spark, troot):
    tbl = create_table(troot, SIMPLE_SCHEMA)
    tbl.append(_df(spark, 0, 10))
    entry = tbl.current_files()[0]
    return tbl, lambda: tbl.append_entries([dict(entry)], dedupe_paths=False)


def _leak_merging_append(spark, troot):
    tbl = create_table(
        troot,
        SIMPLE_SCHEMA,
        properties={"commit.manifest.min-count-to-merge": "2"},
    )
    tbl.append(_df(spark, 0, 10))
    tbl.append(_df(spark, 10, 20))
    entry = tbl.current_files()[0]
    # a third manifest passes the threshold: the attempt also writes
    # merged shards
    return tbl, lambda: tbl.append_entries([dict(entry)], dedupe_paths=False)


def _leak_bounded_merge(spark, troot):
    tbl = _merge_table(troot, min_count=2, max_entries=5)
    for lo, hi in ((0, 6), (6, 8), (8, 10)):
        tbl.append_entries(_entries(lo, hi))
    # the attempt's manifest is the third small one: it merges the
    # small manifests and carries the full one by reference
    return tbl, lambda: tbl.append_entries(_entries(10, 12))


def _leak_delete_where(spark, troot):
    tbl = create_table(troot, SIMPLE_SCHEMA, partition=truncate("ts", 100))
    # one manifest spanning partitions 0 and 100: the retention delete
    # rewrites it, keeping partition 100
    tbl.append(_df(spark, 0, 200))
    return tbl, lambda: tbl.delete_where("ts", "<", 100)


@pytest.mark.parametrize(
    "setup",
    [_leak_append, _leak_merging_append, _leak_bounded_merge, _leak_delete_where],
    ids=["append", "merging_append", "bounded_merge", "delete_where"],
)
def test_lost_cas_attempt_manifest_reclaimed(spark, troot, lose_next_cas, setup):
    """A commit attempt that loses the CAS race must leave no manifest
    it wrote behind (fmt.commit unlinks them; clean() is the
    backstop)."""
    tbl, commit = setup(spark, troot)
    # force one CAS loss: a concurrent commit lands between the
    # attempt's read and its publish
    lost = lose_next_cas()
    assert commit() is not None
    assert lost
    # every manifest on disk must be reachable (no lost-CAS leftovers)
    live = fmt.manifest_refs(tbl.metadata.snapshots)
    on_disk = {
        os.path.relpath(p, troot)
        for p in glob.glob(os.path.join(troot, "manifests", "*.json"))
    }
    assert on_disk <= live, on_disk - live
    # and cleanup unlinked nothing the head still lists
    head = tbl.metadata.current_snapshot()
    missing = fmt.manifest_refs([head]) - on_disk
    assert not missing, missing
