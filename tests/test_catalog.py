"""Multi-table catalog: atomic cross-table transactions, consistent
pinned reads, crash-window behavior, forward-only pin movement."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from java_iceberg_table_spark.table import Catalog
from java_iceberg_table_spark.table.catalog import CatalogTransaction

SCHEMA = StructType(
    [StructField("k", LongType(), False), StructField("v", StringType(), True)]
)


@pytest.fixture()
def cat(tmp_path):
    return Catalog.create(str(tmp_path / "cat"))


def rows(spark, lo, n, tag="x"):
    return spark.range(lo, lo + n).select(
        F.col("id").alias("k"), F.lit(tag).alias("v")
    )


def test_transaction_moves_rows_atomically(spark, cat):
    """The canonical move: delete from quarantine + append to main in
    ONE transaction. A catalog state captured mid-transaction (after
    the table commits, before the catalog commit) must show the OLD
    view of both tables; the post-commit state shows the new view of
    both. Totals are conserved in every consistent view."""
    cat.create_table("main", SCHEMA)
    cat.create_table("quarantine", SCHEMA)
    cat.transaction().append("quarantine", rows(spark, 0, 100, "q")).commit(spark)
    cat.transaction().append("main", rows(spark, 1000, 50, "m")).commit(spark)

    st0 = cat.state()
    assert cat.read(spark, "main", state=st0).count() == 50
    assert cat.read(spark, "quarantine", state=st0).count() == 100

    # stage the move's TABLE commits without the catalog commit —
    # exactly the crash window
    txn = cat.transaction()
    promoted = rows(spark, 0, 100, "q").filter(F.col("k") < 40)
    txn.append("main", promoted)
    txn.delete_eq("quarantine", promoted.select("k"), ["k"])
    ops, txn._ops = txn._ops, []  # hold back the catalog publish
    mid_touched = {}
    from java_iceberg_table_spark.table import Table

    for kind, name, payload in ops:
        tbl = Table(cat._table_root(name))
        if kind == "append":
            snap = tbl.append(payload)
        else:
            snap = tbl.delete_eq_mor(spark, payload[0], payload[1])
        mid_touched[name] = snap.snapshot_id
    # direct table heads already moved…
    assert Table(cat._table_root("main")).scan(spark).count() == 90
    # …but every catalog view is still the OLD consistent pair
    st_mid = cat.state()
    assert cat.read(spark, "main", state=st_mid).count() == 50
    assert cat.read(spark, "quarantine", state=st_mid).count() == 100
    # total across the consistent view is conserved at every instant
    assert (
        cat.read(spark, "main", state=st_mid).count()
        + cat.read(spark, "quarantine", state=st_mid).count()
        == 150
    )
    # the recovery/completion: publish the pins
    cat._commit_pins(mid_touched)
    st1 = cat.state()
    assert cat.read(spark, "main", state=st1).count() == 90
    assert cat.read(spark, "quarantine", state=st1).count() == 60
    assert (
        cat.read(spark, "main", state=st1).count()
        + cat.read(spark, "quarantine", state=st1).count()
        == 150
    )
    # old state still readable (snapshot isolation, time travel)
    assert cat.read(spark, "main", state=st0).count() == 50


def test_pins_move_forward_only(spark, cat):
    """A slow transaction's catalog publish must not retract a faster
    one: pins resolve to the lineage-later snapshot."""
    cat.create_table("t", SCHEMA)
    s1 = cat.transaction().append("t", rows(spark, 0, 10)).commit(spark)
    tbl = cat.table("t")
    snap2 = tbl.append(rows(spark, 100, 5))  # faster txn's table commit
    cat._commit_pins({"t": snap2.snapshot_id})
    # a straggler trying to publish the OLD snapshot id again
    cat._commit_pins({"t": s1.pins["t"]})
    assert cat.read(spark, "t").count() == 15  # later pin kept


def test_concurrent_transactions_both_publish(spark, cat):
    cat.create_table("a", SCHEMA)
    cat.create_table("b", SCHEMA)
    errs = []

    def run(name, lo):
        try:
            cat.transaction().append(name, rows(spark, lo, 20)).commit(spark)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ts = [
        threading.Thread(target=run, args=("a", 0)),
        threading.Thread(target=run, args=("b", 100)),
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    st = cat.state()
    assert cat.read(spark, "a", state=st).count() == 20
    assert cat.read(spark, "b", state=st).count() == 20


def test_register_views_sql_face(spark, cat):
    """spark.sql across registered views reads one pinned catalog
    state; a transaction committing underneath does not move the SQL
    world until views are re-registered."""
    cat.create_table("facts", SCHEMA)
    cat.create_table("dims", SCHEMA)
    cat.transaction().append("facts", rows(spark, 0, 30, "f")).append(
        "dims", rows(spark, 0, 10, "d")
    ).commit(spark)
    cat.register_views(spark, prefix="cat_")
    joined = spark.sql(
        "SELECT COUNT(*) c FROM cat_facts f JOIN cat_dims d ON f.k = d.k"
    )
    assert joined.first()["c"] == 10
    cat.transaction().append("dims", rows(spark, 10, 10, "d")).commit(spark)
    # old views still pinned…
    assert joined.first()["c"] == 10
    # …until re-registered
    cat.register_views(spark, prefix="cat_")
    assert spark.sql(
        "SELECT COUNT(*) c FROM cat_facts f JOIN cat_dims d ON f.k = d.k"
    ).first()["c"] == 20


def test_catalog_guards(spark, cat):
    cat.create_table("t", SCHEMA)
    with pytest.raises(ValueError, match="already exists"):
        cat.create_table("t", SCHEMA)
    with pytest.raises(KeyError):
        cat.read(spark, "nope")
    with pytest.raises(ValueError, match="empty transaction"):
        cat.transaction().commit(spark)
    txn = cat.transaction().append("t", rows(spark, 0, 1))
    txn.commit(spark)
    with pytest.raises(RuntimeError, match="already committed"):
        txn.commit(spark)
    assert cat.list_tables() == ["t"]


def test_catalog_fanout_sink_exactly_once(spark, cat, tmp_path):
    """One stream, two tables, atomic per-batch publish: route events
    into ok/flagged tables; every catalog state conserves the split
    invariant; a simulated crash (one table applied, no publish) is
    repaired by the sink's replay path without double-appending."""
    import shutil as _sh

    from java_iceberg_table_spark.streaming.jobs import catalog_fanout_sink
    from java_iceberg_table_spark.table import Table

    ev_schema = "k long, flag long"
    cat.create_table("ok", spark.createDataFrame([], ev_schema).schema)
    cat.create_table("flagged", spark.createDataFrame([], ev_schema).schema)
    src = str(tmp_path / "src")
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 5 == 0).cast("long").alias("flag")
    )
    df.repartition(4).write.parquet(src)
    routes = [
        ("ok", lambda d: d.filter(F.col("flag") == 0)),
        ("flagged", lambda d: d.filter(F.col("flag") == 1)),
    ]
    sink = catalog_fanout_sink(cat.root, routes, stream_id="s1")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    st = cat.state()
    ok_n = cat.read(spark, "ok", state=st).count()
    fl_n = cat.read(spark, "flagged", state=st).count()
    assert ok_n == 80 and fl_n == 20
    # replay of an already-applied batch is a no-op (at-least-once)
    batch_df = spark.read.parquet(src)
    sink(batch_df, 0)
    assert cat.read(spark, "ok").count() == 80
    # crash simulation: batch 99 half-applied (one table committed,
    # no publish) -> re-driving the batch repairs instead of doubling
    extra = spark.createDataFrame([(1000, 0), (1001, 1)], ev_schema)
    Table(cat._table_root("ok")).append(
        extra.filter(F.col("flag") == 0),
        extra_summary={"fo-batch-id": 99, "fo-stream-id": "s1"},
    )
    # catalog view unmoved (publish never happened)
    assert cat.read(spark, "ok").count() == 80
    sink(extra, 99)
    st2 = cat.state()
    assert cat.read(spark, "ok", state=st2).count() == 81
    assert cat.read(spark, "flagged", state=st2).count() == 21
    # the half-applied commit was rolled back, not stacked: direct
    # table content equals the catalog view
    assert Table(cat._table_root("ok")).scan(spark).count() == 81


def test_catalog_maintain_protects_pins(spark, cat):
    """Maintenance through the catalog may never reap the pinned
    snapshot: after the table head moves past the pin, an aggressive
    expire (retain_last=1) still leaves the catalog's consistent view
    readable; after the next publish, maintenance reclaims the old
    generation."""
    import time as _time

    from java_iceberg_table_spark.table import Table

    cat.create_table("t", SCHEMA)
    cat.transaction().append("t", rows(spark, 0, 30)).commit(spark)
    st_pin = cat.state()
    # head moves past the pin WITHOUT a catalog publish
    tbl = Table(cat._table_root("t"))
    tbl.append(rows(spark, 100, 10))
    tbl.append(rows(spark, 200, 10))
    cat.maintain(
        spark,
        expire_older_than_ms=int(_time.time() * 1000) + 10_000,
        retain_last=1,
    )
    # the pinned snapshot survived the aggressive expiry
    assert cat.read(spark, "t", state=st_pin).count() == 30
    assert cat.read(spark, "t").count() == 30  # current pin = same
    # publish the new head; maintain again: old pin may now age out
    cat._commit_pins({"t": tbl.metadata.current_snapshot().snapshot_id})
    cat.maintain(
        spark,
        expire_older_than_ms=int(_time.time() * 1000) + 10_000,
        retain_last=1,
    )
    assert cat.read(spark, "t").count() == 50


def test_drop_table_and_purge(spark, cat, tmp_path):
    import os

    cat.create_table("keep", SCHEMA)
    cat.create_table("gone", SCHEMA)
    cat.transaction().append("gone", rows(spark, 0, 5)).commit(spark)
    root_gone = cat._table_root("gone")
    cat.drop_table("gone")  # no purge: directory stays
    assert cat.list_tables() == ["keep"]
    assert os.path.isdir(root_gone)
    with pytest.raises(KeyError):
        cat.read(spark, "gone")
    # re-register by recreating is refused only while present
    cat.create_table("gone2", SCHEMA)
    cat.drop_table("gone2", purge=True)
    assert not os.path.isdir(cat._table_root("gone2"))


def test_expire_versions(spark, cat):
    import os

    cat.create_table("t", SCHEMA)
    for i in range(10):
        cat.transaction().append("t", rows(spark, i * 10, 3)).commit(spark)
    v = cat.state().version
    removed = cat.expire_versions(keep_last=3)
    assert removed > 0
    assert cat.state().version == v  # current untouched
    files = [p for p in os.listdir(cat.root + "/catalog") if p.endswith(".json")]
    assert len(files) == 3
    assert cat.read(spark, "t").count() == 30


def test_stale_hint_survives_expire_versions(cat):
    """A late hint write naming an old version must not wedge the
    catalog once retention deletes that version: the head resolves
    past the missing hint and later commits still land."""
    import os

    for i in range(5):
        cat.create_view(f"v{i}", "SELECT 1 AS x")
    head = cat.state().version
    with open(os.path.join(cat.root, "catalog", "version-hint.text"), "w") as f:
        f.write("2")
    cat.expire_versions(keep_last=2)
    assert 2 not in cat.versions()
    assert cat.state().version == head
    assert cat.create_view("late", "SELECT 2 AS x").version == head + 1
    assert cat.state().version == head + 1


@pytest.mark.parametrize("seed", [11, 47])
def test_catalog_randomized_consistency(spark, cat, seed):
    """Randomized interleaving of transactions (moves, appends,
    deletes), direct table writes, pin publishes, and maintenance —
    after every step, EVERY retained catalog state must satisfy: (a)
    pins resolve to readable snapshots, (b) the cross-table total
    under a state equals the total that state's transaction history
    implies (conservation for moves), (c) pins never move backward."""
    import random

    from java_iceberg_table_spark.table import Table

    rng = random.Random(seed)
    cat.create_table("a", SCHEMA)
    cat.create_table("b", SCHEMA)
    next_k = 0
    # model: expected cross-table total at each published catalog version
    published_totals: dict[int, int] = {cat.state().version: 0}
    model_total = 0
    seen_versions: list[int] = [cat.state().version]

    def fresh(n):
        nonlocal next_k
        df = rows(spark, next_k, n)
        next_k += n
        return df

    for step in range(12):
        op = rng.choice(["txn_append", "txn_move", "txn_delete", "maintain"])
        if op == "txn_append":
            n = rng.randint(1, 20)
            name = rng.choice(["a", "b"])
            cat.transaction().append(name, fresh(n)).commit(spark)
            model_total += n
        elif op == "txn_move":
            src, dst = rng.sample(["a", "b"], 2)
            st = cat.state()
            have = cat.read(spark, src, state=st)
            cnt = have.count()
            if cnt == 0:
                continue
            moved = have.limit(rng.randint(1, min(cnt, 10)))
            n_moved = moved.count()
            keys = moved.select("k")
            (
                cat.transaction()
                .append(dst, moved)
                .delete_eq(src, keys, ["k"])
                .commit(spark)
            )
            # conservation: moves never change the total
        elif op == "txn_delete":
            st = cat.state()
            name = rng.choice(["a", "b"])
            have = cat.read(spark, name, state=st)
            cnt = have.count()
            if cnt == 0:
                continue
            victims = have.limit(rng.randint(1, min(cnt, 5))).select("k")
            n_del = victims.count()
            cat.transaction().delete_eq(name, victims, ["k"]).commit(spark)
            model_total -= n_del
        else:
            cat.maintain(spark, small_file_threshold=2, delete_file_threshold=1)
        st = cat.state()
        published_totals[st.version] = model_total
        seen_versions.append(st.version)
        # invariant: CURRENT consistent view equals the model total
        got = (
            cat.read(spark, "a", state=st).count()
            + cat.read(spark, "b", state=st).count()
        )
        assert got == model_total, f"seed={seed} step={step} op={op}"
        # pins readable and forward-only
        for name in ("a", "b"):
            pin = st.pins[name]
            if pin is not None:
                tbl = Table(cat._table_root(name))
                assert any(
                    s.snapshot_id == pin for s in tbl.metadata.snapshots
                ), f"pin {pin} unreadable (seed={seed} step={step})"
    # a few retained HISTORICAL states still answer with their totals
    import json
    import os

    from java_iceberg_table_spark.table.catalog import (
        CatalogState,
        _cat_version_path,
    )

    for v in seen_versions[-4:]:
        path = _cat_version_path(cat.root, v)
        if not os.path.exists(path):
            continue
        with open(path) as f:
            st_old = CatalogState.from_json(json.load(f))
        try:
            got = (
                cat.read(spark, "a", state=st_old).count()
                + cat.read(spark, "b", state=st_old).count()
            )
        except Exception:
            continue  # snapshot expired by maintenance: state aged out
        assert got == published_totals[v], f"seed={seed} v={v}"


def test_catalog_version_time_travel(spark, cat):
    """state_at(v) + read(state=...) reproduces the catalog's whole
    cross-table world as of version v; versions() lists the retained
    axis; expire_versions ages old states out (FileNotFoundError),
    while the current state still reads."""
    cat.create_table("a", SCHEMA)
    cat.create_table("b", SCHEMA)
    v0 = cat.state().version
    cat.transaction().append("a", rows(spark, 0, 10, "r1")).commit(spark)
    v1 = cat.state().version
    cat.transaction().append("a", rows(spark, 10, 5, "r2")).append(
        "b", rows(spark, 100, 7, "r2")
    ).commit(spark)
    v2 = cat.state().version
    assert v0 < v1 < v2
    st1 = cat.state_at(v1)
    assert cat.read(spark, "a", state=st1).count() == 10
    assert cat.read(spark, "b", state=st1).count() == 0
    st2 = cat.state_at(v2)
    assert cat.read(spark, "a", state=st2).count() == 15
    assert cat.read(spark, "b", state=st2).count() == 7
    assert set(cat.versions()) >= {v1, v2}
    # age out everything but the newest version
    cat.expire_versions(keep_last=1)
    with pytest.raises(FileNotFoundError):
        cat.state_at(v1)
    assert cat.read(spark, "a").count() == 15  # current state unaffected


def test_fanout_sink_publishes_on_full_replay(spark, cat, tmp_path):
    """Round-8 regression (ADVICE r7): a crash BETWEEN the last table
    commit and the catalog publish leaves every table carrying the
    batch but the catalog blind to it; the replay path must publish
    the pins instead of returning early — else the final batch of a
    stream stays catalog-invisible forever."""
    from java_iceberg_table_spark.streaming.jobs import catalog_fanout_sink
    from java_iceberg_table_spark.table import Table

    ev_schema = "k long, flag long"
    cat.create_table("ok2", spark.createDataFrame([], ev_schema).schema)
    cat.create_table("fl2", spark.createDataFrame([], ev_schema).schema)
    routes = [
        ("ok2", lambda d: d.filter(F.col("flag") == 0)),
        ("fl2", lambda d: d.filter(F.col("flag") == 1)),
    ]
    sink = catalog_fanout_sink(cat.root, routes, stream_id="s2")
    batch = spark.createDataFrame([(1, 0), (2, 1), (3, 0)], ev_schema)
    # simulate the crash window: BOTH tables committed the batch, the
    # publish never ran
    for name, flt in routes:
        Table(cat._table_root(name)).append(
            flt(batch),
            extra_summary={"fo-batch-id": 7, "fo-stream-id": "s2"},
        )
    assert cat.read(spark, "ok2").count() == 0  # catalog blind
    sink(batch, 7)  # replay: all tables applied -> must still publish
    st = cat.state()
    assert cat.read(spark, "ok2", state=st).count() == 2
    assert cat.read(spark, "fl2", state=st).count() == 1
    # and it stays idempotent: a second replay changes nothing
    sink(batch, 7)
    assert cat.read(spark, "ok2").count() == 2


def test_fanout_sink_survives_rollback_then_crash(spark, cat, tmp_path):
    """Round-8 regression (ADVICE r7): if a prior repair attempt's
    rollback committed but the re-append didn't, the head already sits
    at the batch's parent; a retry must not call rollback_to again
    (which raises 'already at the requested snapshot' and wedges the
    stream forever)."""
    from java_iceberg_table_spark.streaming.jobs import catalog_fanout_sink
    from java_iceberg_table_spark.table import Table

    ev_schema = "k long, flag long"
    cat.create_table("ok3", spark.createDataFrame([], ev_schema).schema)
    routes = [("ok3", lambda d: d)]
    sink = catalog_fanout_sink(cat.root, routes, stream_id="s3")
    base = spark.createDataFrame([(10, 0)], ev_schema)
    sink(base, 0)
    assert cat.read(spark, "ok3").count() == 1
    # half-applied batch 1, then a repair attempt that rolled back and
    # crashed before re-appending: head is back at the parent but the
    # batch-1 snapshot still sits in the log
    t = Table(cat._table_root("ok3"))
    snap = t.append(
        spark.createDataFrame([(11, 0), (12, 0)], ev_schema),
        extra_summary={"fo-batch-id": 1, "fo-stream-id": "s3"},
    )
    t.rollback_to(snap.parent_id)
    sink(spark.createDataFrame([(11, 0), (12, 0)], ev_schema), 1)
    st = cat.state()
    assert cat.read(spark, "ok3", state=st).count() == 3
    assert Table(cat._table_root("ok3")).scan(spark).count() == 3


def test_catalog_views_versioned(spark, cat):
    """Iceberg-view-spec shape: views are versioned catalog objects;
    read_view(state=...) evaluates the definition AND the table pins
    of that state, so a view answer is reproducible per version."""
    cat.create_table("t", SCHEMA)
    cat.transaction().append("t", rows(spark, 0, 10, "a")).commit(spark)
    st1 = cat.create_view(
        "v_sum", "SELECT COUNT(*) AS n, SUM(k) AS s FROM t"
    )
    assert cat.list_views() == ["v_sum"]
    r = cat.read_view(spark, "v_sum").collect()[0]
    assert (r["n"], r["s"]) == (10, 45)
    # views compose: a later view over an earlier one
    cat.create_view("v_double", "SELECT n * 2 AS n2 FROM v_sum")
    assert cat.read_view(spark, "v_double").collect()[0]["n2"] == 20
    # new data + new publish: the LIVE view moves, the pinned one doesn't
    cat.transaction().append("t", rows(spark, 100, 5, "b")).commit(spark)
    assert cat.read_view(spark, "v_sum").collect()[0]["n"] == 15
    assert cat.read_view(spark, "v_sum", state=st1).collect()[0]["n"] == 10
    # replace changes the definition in one commit; history survives
    cat.create_view("v_sum", "SELECT COUNT(*) AS n, MIN(k) AS s FROM t",
                    replace=True)
    r2 = cat.read_view(spark, "v_sum").collect()[0]
    assert (r2["n"], r2["s"]) == (15, 0)
    old = cat.state_at(st1.version)
    assert cat.read_view(spark, "v_sum", state=old).collect()[0]["s"] == 45
    # guards
    with pytest.raises(ValueError):
        cat.create_view("v_sum", "SELECT 1 AS one")  # exists, no replace
    with pytest.raises(ValueError):
        cat.create_view("t", "SELECT 1 AS one")  # name is a table
    with pytest.raises(ValueError):
        cat.create_view("v_bad", "DELETE FROM t WHERE k = 1")  # not a SELECT
    cat.drop_view("v_double")
    assert cat.list_views() == ["v_sum"]
    with pytest.raises(KeyError):
        cat.read_view(spark, "v_double")


def test_view_commits_race_pin_publishes(spark, cat):
    """Views and pins share the catalog CAS: concurrent create_view
    calls and pin publishes must all land (retry loops), with no lost
    update in either map."""
    cat.create_table("t", SCHEMA)
    t = cat.table("t")
    t.append(rows(spark, 0, 10))
    snap = t.metadata.current_snapshot_id
    errs = []

    def mk_view(i):
        try:
            cat.create_view(f"v{i}", f"SELECT COUNT(*) + {i} AS n FROM t")
        except Exception as ex:  # pragma: no cover
            errs.append(ex)

    def publish(i):
        try:
            cat._commit_pins({"t": snap})
        except Exception as ex:  # pragma: no cover
            errs.append(ex)

    threads = [
        threading.Thread(target=mk_view, args=(i,)) for i in range(6)
    ] + [threading.Thread(target=publish, args=(i,)) for i in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    st = cat.state()
    assert sorted(st.views) == [f"v{i}" for i in range(6)]
    assert st.pins["t"] == snap
    # and every view evaluates against the final state
    assert cat.read_view(spark, "v3").collect()[0]["n"] == 13


def test_views_visible_through_plain_sql(spark, cat):
    """register_views materializes catalog views too: plain spark.sql
    can join a view with a table; prefixed registration skips views
    (their SQL references unprefixed names)."""
    cat.create_table("t", SCHEMA)
    cat.transaction().append("t", rows(spark, 0, 8, "a")).commit(spark)
    cat.create_view("v_top", "SELECT k FROM t WHERE k >= 6")
    cat.register_views(spark)
    got = spark.sql(
        "SELECT COUNT(*) AS n FROM t JOIN v_top USING (k)"
    ).collect()[0]["n"]
    assert got == 2
    cat.register_views(spark, prefix="p_")  # must not raise on views
    assert spark.table("p_t").count() == 8


def test_fanout_sink_random_crash_schedules(spark, cat, tmp_path):
    """Adversarial replay schedules for the round-8 fanout logic: for
    each batch a seeded scenario — clean apply / half-applied crash /
    publish-skipped crash / external rollback — always followed by a
    full replay (at-least-once). Exactly-once must hold: final table
    contents equal the union of each batch applied once, and the
    catalog view equals the table heads."""
    import random

    from java_iceberg_table_spark.streaming.jobs import catalog_fanout_sink
    from java_iceberg_table_spark.table import Table

    ev_schema = "k long, flag long"
    cat.create_table("even", spark.createDataFrame([], ev_schema).schema)
    cat.create_table("odd", spark.createDataFrame([], ev_schema).schema)
    routes = [
        ("even", lambda d: d.filter(F.col("flag") == 0)),
        ("odd", lambda d: d.filter(F.col("flag") == 1)),
    ]
    sink = catalog_fanout_sink(cat.root, routes, stream_id="chaos")
    rng = random.Random(1234)
    expected_even, expected_odd = set(), set()
    for b in range(12):
        rows_b = [(b * 100 + i, (b * 100 + i) % 2) for i in range(6)]
        expected_even |= {k for k, f in rows_b if f == 0}
        expected_odd |= {k for k, f in rows_b if f == 1}
        batch = spark.createDataFrame(rows_b, ev_schema)
        scenario = rng.choice(["clean", "half", "no_publish", "rollback"])
        if scenario == "half":
            # one table committed by a crashed attempt, no publish
            name, flt = routes[rng.randrange(2)]
            Table(cat._table_root(name)).append(
                flt(batch),
                extra_summary={"fo-batch-id": b, "fo-stream-id": "chaos"},
            )
        elif scenario == "no_publish":
            for name, flt in routes:
                Table(cat._table_root(name)).append(
                    flt(batch),
                    extra_summary={"fo-batch-id": b, "fo-stream-id": "chaos"},
                )
        elif scenario == "rollback":
            # crashed attempt applied then got rolled back externally
            name, flt = routes[rng.randrange(2)]
            t = Table(cat._table_root(name))
            snap = t.append(
                flt(batch),
                extra_summary={"fo-batch-id": b, "fo-stream-id": "chaos"},
            )
            if snap.parent_id is not None:
                t.rollback_to(snap.parent_id)
            # (a first-ever snapshot can't roll back to 'empty';
            # the un-rolled-back form is the 'half' scenario)
        sink(batch, b)   # the replay that must repair everything
        if rng.random() < 0.4:
            sink(batch, b)  # occasional double replay
    st = cat.state()
    got_even = {r["k"] for r in cat.read(spark, "even", state=st).collect()}
    got_odd = {r["k"] for r in cat.read(spark, "odd", state=st).collect()}
    assert got_even == expected_even
    assert got_odd == expected_odd
    # catalog view == table heads (nothing half-landed anywhere)
    assert Table(cat._table_root("even")).scan(spark).count() == len(expected_even)
    assert Table(cat._table_root("odd")).scan(spark).count() == len(expected_odd)
