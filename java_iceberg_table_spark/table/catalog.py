"""Multi-table catalog with atomic cross-table transactions.

The engine's tables commit independently (one CAS per table root —
format.py). That gives single-table atomicity, but a pipeline step
that moves rows BETWEEN tables (dedup ledger + corpus, fact +
aggregate, quarantine + main) needs a reader to see either both
sides of the move or neither. Iceberg alone cannot say that; the
lakehouse answer (Nessie, modern REST catalogs) is a CATALOG-level
commit: a versioned mapping ``table name -> pinned snapshot id``
published with the same link-CAS used for table metadata.

Contract:
- ``Catalog.read(spark, name)`` scans the snapshot pinned by the
  CURRENT catalog version — a set of reads against one catalog
  version is a consistent cross-table view (snapshot isolation at
  the catalog level).
- ``catalog.transaction()`` buffers appends / equality deletes
  across any number of tables; ``commit()`` applies them as ordinary
  table commits (each atomic on its table) and then publishes ONE
  catalog version moving every touched pin. Readers through the
  catalog flip from the old consistent view to the new one
  atomically.
- A crash between the table commits and the catalog commit leaves
  catalog readers on the old view (nothing torn); the already-
  committed table snapshots sit unpinned on the table lineage until
  the transaction is re-driven or snapshot expiry reclaims them.
- Readers that bypass the catalog (``Table.scan`` on the raw root)
  see per-table heads, including mid-transaction states — the same
  caveat Nessie documents: cross-table consistency is a property of
  reading THROUGH the catalog.

Concurrent transactions serialize per table through the table CAS
and per catalog through the catalog CAS; on a catalog retry a pin
only ever moves FORWARD along its table's lineage (``_later_of``),
so a slow transaction can never retract a faster one's commit.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from . import format as fmt
from .table import Table, create_table


@dataclass
class CatalogState:
    version: int
    # table name -> pinned snapshot id (absent = pinned to empty:
    # the table existed at this version but had no committed data)
    pins: dict[str, int | None] = field(default_factory=dict)
    # view name -> {"sql": <SELECT text>, "created_version": int}
    # (Iceberg view spec shape: views are versioned catalog objects;
    # a view's definition history IS the catalog version log, so
    # state_at(v) reads the definition current at v)
    views: dict[str, dict] = field(default_factory=dict)

    def to_json(self) -> dict:
        out = {"version": self.version, "pins": self.pins}
        if self.views:
            out["views"] = self.views
        return out

    @staticmethod
    def from_json(d: dict) -> "CatalogState":
        return CatalogState(
            version=int(d["version"]),
            pins={k: v for k, v in dict(d.get("pins", {})).items()},
            views={k: dict(v) for k, v in dict(d.get("views", {})).items()},
        )


def _cat_dir(root: str) -> str:
    return os.path.join(root, "catalog")


def _cat_version_path(root: str, version: int) -> str:
    return fmt.log_path(_cat_dir(root), version)


def _cat_state(root: str) -> CatalogState:
    v = fmt.log_version(_cat_dir(root))
    return CatalogState.from_json(fmt.read_json(_cat_version_path(root, v)))


def _cat_commit(root: str, build) -> CatalogState:
    """One catalog commit: the table metadata's link-CAS publish and
    optimistic-retry loop (format.retry_commit) over the catalog's
    version log. ``build(current)`` returns the next state."""
    cdir = _cat_dir(root)
    return fmt.retry_commit(
        lambda: _cat_state(root),
        build,
        lambda st: fmt.log_publish(cdir, st.version, st.to_json()),
    )


def _from_join_identifiers(statement: str) -> set[str]:
    """Lower-cased relation names a SELECT statement READS: the
    identifiers following FROM / JOIN (plus comma-join continuations),
    with string literals stripped first so a name mentioned inside
    '...' never counts. Deliberately a read-SET approximation, not a
    parser — used to decide which maintained views the /*+ REALTIME */
    hint must (eagerly, strictly) register: overmatching here turns a
    harmless mention of a stale view into a spurious refusal, so only
    plausibly-read names qualify. A subquery after FROM contributes
    nothing at its paren (its inner FROM matches on its own)."""
    return set(_relation_read_counts(statement))


def _mask_literals(statement: str) -> str:
    """Blank the INSIDE of every single-quoted literal with spaces,
    keeping the quotes and the overall length — so detection regexes
    never match text inside a literal, while every match SPAN stays
    valid as an index into the ORIGINAL statement (the caller extracts
    the real literal text from the original via the span)."""
    import re as _re

    return _re.sub(
        r"'(?:[^']|'')*'",
        lambda m: "'" + " " * (len(m.group(0)) - 2) + "'",
        statement,
    )


def _relation_read_counts(statement: str) -> dict[str, int]:
    """Lower-cased relation name -> number of FROM/JOIN references
    (string literals stripped first). The multiset form of
    ``_from_join_identifiers``: VERSION AS OF uses the COUNT to refuse
    statements that reference the pinned table more than once (a
    self-join/self-union would silently pin every reference)."""
    import re as _re

    s = _re.sub(r"'(?:[^']|'')*'", "''", statement)
    out: dict[str, int] = {}
    # each comma-separated element is "relation [AS] [alias]" — the
    # FIRST token is the relation. The alias slot must NOT swallow a
    # clause keyword: "FROM t JOIN u" with an unguarded alias eats
    # JOIN as t's alias and never sees u — a missed read, the one
    # failure mode this helper must not have.
    kw = (
        r"JOIN|ON|WHERE|GROUP|ORDER|LEFT|RIGHT|INNER|FULL|CROSS|"
        r"UNION|INTERSECT|EXCEPT|LIMIT|HAVING|FOR|VERSION|USING|"
        r"NATURAL|SEMI|ANTI|LATERAL|WINDOW|QUALIFY|AS"
    )
    elem = (
        rf"[A-Za-z_]\w*(?:\s+(?:AS\s+)?(?!(?:{kw})\b)[A-Za-z_]\w*)?"
    )
    for m in _re.finditer(
        rf"\b(?:FROM|JOIN)\s+({elem}(?:\s*,\s*{elem})*)", s, _re.I
    ):
        for part in m.group(1).split(","):
            name = part.split()[0].lower()
            out[name] = out.get(name, 0) + 1
    return out


def _render_partition_ddl(t) -> str:
    """Partition spec -> the DDL field list SHOW CREATE TABLE emits
    (and the CREATE grammar accepts): 'days(ts), bucket(4, uid)'.
    Shared by SHOW CREATE TABLE and DESCRIBE EXTENDED so the two
    introspection faces agree."""
    from .transforms import (
        BucketTransform,
        CompositeTransform,
        TemporalTransform,
        TruncateTransform,
    )

    def one(f) -> str:
        if isinstance(f, TruncateTransform):
            return f"truncate({f.width}, {f.source_column})"
        if isinstance(f, BucketTransform):
            return f"bucket({f.n}, {f.source_column})"
        if isinstance(f, TemporalTransform):
            return f"{f.granularity}s({f.source_column})"
        return f.source_column  # identity

    if isinstance(t, CompositeTransform):
        return ", ".join(one(f) for f in t.fields)
    return one(t)


def _introspect_totals(spark, tbl, snap) -> tuple[int, int, int]:
    """(files, rows, bytes) of one snapshot for DESCRIBE EXTENDED.
    Past the distributed-plan threshold the totals come from a
    distributed JSON manifest scan (Table._manifest_entries_df, the
    files inspection table's read) — at 100 TB with millions of files
    a driver loop over every entry is the wrong side of the
    metadata-scale contract; below it the driver loop is cheaper than
    a Spark job."""
    from pyspark.sql import functions as F

    from .table import DIST_PLAN_MIN_MANIFEST_BYTES

    if snap is None:
        return 0, 0, 0
    if tbl._manifest_bytes(snap.manifests) >= DIST_PLAN_MIN_MANIFEST_BYTES:
        r = (
            tbl._manifest_entries_df(spark, snap.manifests)
            .agg(
                F.count(F.lit(1)).alias("f"),
                F.sum("rows").alias("r"),
                F.sum("bytes").alias("b"),
            )
            .collect()[0]
        )
        return int(r["f"]), int(r["r"] or 0), int(r["b"] or 0)
    entries = tbl.files_of(snap)
    return (
        len(entries),
        sum(int(e.get("rows", 0) or 0) for e in entries),
        sum(int(e.get("bytes", 0) or 0) for e in entries),
    )


def _show_partitions_rows(spark, tbl, snap) -> list[tuple]:
    """SHOW PARTITIONS rows (partition-string, files, rows, bytes),
    sorted by the rendered key. Distributed groupBy over the manifest
    scan past the plan threshold (the aggregated result is
    partition-count-scale, safe to collect); driver loop below it.
    Renderings match exactly: scalars via str(), composite tuples
    field0/field1/..., spec-evolution NULLs as 'None'."""
    from pyspark.sql import functions as F

    from .table import (
        DIST_PLAN_MIN_MANIFEST_BYTES,
        _entry_partition_key,
    )

    if snap is None:
        return []
    if tbl._manifest_bytes(snap.manifests) >= DIST_PLAN_MIN_MANIFEST_BYTES:
        key = F.coalesce(
            F.col("partition").cast("string"),
            F.array_join(F.col("partition_fields").cast("array<string>"), "/"),
            F.lit("None"),
        )
        out = (
            tbl._manifest_entries_df(spark, snap.manifests)
            .groupBy(key.alias("p"))
            .agg(
                F.count(F.lit(1)).alias("f"),
                F.sum("rows").alias("r"),
                F.sum("bytes").alias("b"),
            )
            .collect()
        )
        return sorted(
            (
                (row["p"], int(row["f"]), int(row["r"] or 0), int(row["b"] or 0))
                for row in out
            ),
            key=lambda x: x[0],
        )
    agg: dict = {}
    for e in tbl.files_of(snap):
        p = _entry_partition_key(e)
        if isinstance(p, tuple):
            p = "/".join(str(v) for v in p)
        else:
            p = str(p)
        f, r, b = agg.get(p, (0, 0, 0))
        agg[p] = (
            f + 1,
            r + int(e.get("rows", 0) or 0),
            b + int(e.get("bytes", 0) or 0),
        )
    return [(p, f, r, b) for p, (f, r, b) in sorted(agg.items())]


def _as_of_millis(lit: str) -> int:
    """TIMESTAMP AS OF literal -> epoch milliseconds. A bare integer
    IS epoch-ms; a quoted string parses as an ISO-8601 instant
    (naive = UTC, matching the engine's snapshot timestamps)."""
    from .sql_dml import UnsupportedSQL

    if lit.isdigit():
        return int(lit)
    from datetime import datetime, timezone

    s = lit[1:-1].replace("''", "'").strip()
    try:
        dt = datetime.fromisoformat(s)
    except ValueError as e:
        raise UnsupportedSQL(
            f"TIMESTAMP AS OF literal {s!r} is neither epoch-millis "
            "nor an ISO-8601 instant"
        ) from e
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return int(dt.timestamp() * 1000)


def _later_of(tbl: Table, a: int | None, b: int | None) -> int | None:
    """The commit-order-later of two snapshot ids of one table. Used
    so a catalog retry only ever moves a pin FORWARD — setting a pin
    back to an earlier snapshot would retract a concurrent
    transaction's published rows.

    Compared by SEQUENCE number (every commit type bumps it), not by
    walking parent_id: snapshot expiry drops intermediate log entries
    without rewriting parents, so an ancestry walk dangles exactly
    when maintenance has run — the common case. A pin whose snapshot
    left the log entirely yields to the surviving one."""
    if a is None:
        return b
    if b is None:
        return a
    by_id = {s.snapshot_id: s for s in tbl.metadata.snapshots}
    sa, sb = by_id.get(a), by_id.get(b)
    if sa is None:
        return b
    if sb is None:
        return a
    return b if (sb.sequence, sb.timestamp_ms) >= (sa.sequence, sa.timestamp_ms) else a


class Catalog:
    def __init__(self, root: str):
        self.root = root

    # ---------- lifecycle ----------

    @staticmethod
    def create(root: str) -> "Catalog":
        os.makedirs(_cat_dir(root), exist_ok=True)
        st = CatalogState(version=1, pins={})
        fmt.log_publish(_cat_dir(root), st.version, st.to_json())
        return Catalog(root)

    def _table_root(self, name: str) -> str:
        if "/" in name or name.startswith("."):
            raise ValueError(f"bad table name {name!r}")
        return os.path.join(self.root, "tables", name)

    def create_table(self, name: str, schema, **kw) -> Table:
        """Create a table and register it in the catalog (one catalog
        commit; the new table is pinned empty)."""
        if name in self.state().pins:
            raise ValueError(f"table {name!r} already exists")
        tbl = create_table(self._table_root(name), schema, **kw)
        self._commit_pins({name: None})
        return tbl

    def table(self, name: str) -> Table:
        """Direct (head-level, uncoordinated) table access."""
        if name not in self.state().pins:
            raise KeyError(f"no such table {name!r}")
        return Table(self._table_root(name))

    def drop_table(self, name: str, purge: bool = False) -> None:
        """Unregister a table (one catalog commit). With ``purge`` the
        table directory is deleted too; without it the data stays on
        disk for re-registration or external cleanup (Iceberg's
        DROP TABLE vs DROP TABLE PURGE split)."""

        def build(cur: CatalogState) -> CatalogState:
            if name not in cur.pins:
                raise KeyError(f"no such table {name!r}")
            pins = {k: v for k, v in cur.pins.items() if k != name}
            return CatalogState(version=cur.version + 1, pins=pins, views=cur.views)

        _cat_commit(self.root, build)
        if purge:
            import shutil

            shutil.rmtree(self._table_root(name), ignore_errors=True)

    def list_tables(self) -> list[str]:
        return sorted(self.state().pins)

    def state(self) -> CatalogState:
        return _cat_state(self.root)

    def state_at(self, version: int) -> CatalogState:
        """The catalog's state as of ``version`` — CATALOG-level time
        travel: pass the result to ``read(state=...)`` /
        ``register_views(state=...)`` for a cross-table-consistent view
        of the whole catalog as it stood at that publish. Raises
        FileNotFoundError once ``expire_versions`` has aged the version
        out (and a table read under an expired state may further fail
        when table-level snapshot expiry reaped its pin — the same
        layered retention contract as table time travel)."""
        path = _cat_version_path(self.root, int(version))
        with open(path) as f:
            return CatalogState.from_json(json.load(f))

    def versions(self) -> list[int]:
        """Retained catalog versions, ascending (the time-travel axis)."""
        out = []
        for p in os.listdir(_cat_dir(self.root)):
            if p.startswith("v") and p.endswith(".json"):
                try:
                    out.append(int(p[1:-5]))
                except ValueError:
                    pass
        return sorted(out)

    # ---------- consistent reads ----------

    def read(
        self, spark: SparkSession, name: str, filters=(), state: CatalogState | None = None
    ) -> DataFrame:
        """Scan ``name`` at its pinned snapshot. Pass one ``state``
        (from ``catalog.state()``) to several read() calls for a
        cross-table-consistent view — pins inside one state were
        published by one atomic catalog commit."""
        st = state or self.state()
        if name not in st.pins:
            raise KeyError(f"no such table {name!r}")
        pin = st.pins[name]
        tbl = Table(self._table_root(name))
        if pin is None:
            return spark.createDataFrame([], tbl.schema())
        return tbl.scan(spark, filters, snapshot_id=pin)

    def expire_versions(self, keep_last: int = 20) -> int:
        """Drop old catalog version files, keeping the newest
        ``keep_last`` (the current version always survives). Old
        catalog STATES age out like table time travel; the snapshots
        they pinned remain governed by each table's own expiry (plus
        the __catalog_pin tag for the current state). Returns the
        number of versions removed."""
        cur = fmt.log_version(_cat_dir(self.root))
        cutoff = cur - max(1, int(keep_last)) + 1
        removed = 0
        cdir = _cat_dir(self.root)
        for p in os.listdir(cdir):
            if not (p.startswith("v") and p.endswith(".json")):
                continue
            try:
                v = int(p[1:-5])
            except ValueError:
                continue
            if v < cutoff:
                try:
                    os.remove(os.path.join(cdir, p))
                    removed += 1
                except OSError:
                    pass
        return removed

    def maintain(self, spark: SparkSession, **kw) -> dict:
        """Run each table's maintenance pass with the catalog's pins
        protected: the pinned snapshot gets a ``__catalog_pin`` tag
        (tags are snapshot-expiry GC roots) before maintenance runs,
        so a table operator's expire/compact can never reap the
        snapshot catalog readers are currently pinned to — even when
        the table head has moved past it (a transaction's table
        commits landing before its publish, or direct writers). Older
        catalog states age out exactly like table time travel does."""
        st = self.state()
        results = {}
        for name, pin in st.pins.items():
            tbl = Table(self._table_root(name))
            if pin is not None:
                if "__catalog_pin" in tbl.metadata.refs:
                    tbl.drop_ref("__catalog_pin")
                tbl.create_tag("__catalog_pin", pin)
            results[name] = tbl.maintain(spark, **kw)
        return results

    def register_views(
        self,
        spark: SparkSession,
        state: CatalogState | None = None,
        prefix: str = "",
    ) -> CatalogState:
        """Register every catalog table as a temp view pinned to ONE
        catalog state, so plain ``spark.sql`` joins across them read a
        cross-table-consistent snapshot — the SQL face of the
        transactional catalog. Catalog VIEWS materialize too (their
        definitions reference unprefixed names, so they are skipped
        when a ``prefix`` is given). Returns the state used;
        re-register to move the SQL view of the world forward."""
        st = state or self.state()
        for name in st.pins:
            self.read(spark, name, state=st).createOrReplaceTempView(
                f"{prefix}{name}"
            )
        if st.views and not prefix:
            self._materialize_views(spark, st)
        return st

    def _materialize_views(self, spark: SparkSession, st: CatalogState) -> None:
        """Materialize view definitions to a dependency fixpoint:
        creation order resolves the common case (a view references
        only earlier views); the retry pass covers definitions
        replaced AFTER a dependent was created. A genuinely
        unresolvable definition (dropped table, cycle via replace)
        raises with the names."""
        pending = sorted(
            st.views.items(), key=lambda kv: kv[1].get("created_version", 0)
        )
        last_err = None
        for _ in range(len(pending)):
            rest = []
            for vname, spec in pending:
                try:
                    spark.sql(spec["sql"]).createOrReplaceTempView(vname)
                except Exception as ex:  # unresolved dependency: retry
                    last_err = ex
                    rest.append((vname, spec))
            pending = rest
            if not pending:
                break
        if pending:
            raise ValueError(
                f"unresolvable view definitions {[v for v, _ in pending]}"
            ) from last_err

    # ---------- views (Iceberg view spec shape) ----------

    def create_view(
        self, name: str, sql: str, replace: bool = False
    ) -> CatalogState:
        """Register a named SQL view as a VERSIONED catalog object
        (Iceberg view spec): the definition commits as one catalog
        version, so ``state_at(v)`` reads the definition current at v
        and ``read_view(state=...)`` evaluates it against that state's
        PINS — a view result is reproducible for any catalog version.
        The SQL may reference catalog tables and previously created
        views (no cycles; resolution is create-order)."""
        head = sql.strip().split(None, 1)[0].upper() if sql.strip() else ""
        if head not in ("SELECT", "WITH"):
            raise ValueError("view SQL must be a SELECT/WITH statement")

        def build(cur: CatalogState) -> CatalogState:
            if name in cur.pins:
                raise ValueError(f"{name!r} is a table")
            if name in cur.views and not replace:
                raise ValueError(
                    f"view {name!r} already exists (pass replace=True)"
                )
            views = dict(cur.views)
            views[name] = {"sql": sql, "created_version": cur.version + 1}
            return CatalogState(version=cur.version + 1, pins=cur.pins, views=views)

        return _cat_commit(self.root, build)

    def drop_view(self, name: str) -> None:
        def build(cur: CatalogState) -> CatalogState:
            if name not in cur.views:
                raise KeyError(f"no such view {name!r}")
            views = {k: v for k, v in cur.views.items() if k != name}
            return CatalogState(version=cur.version + 1, pins=cur.pins, views=views)

        _cat_commit(self.root, build)

    def list_views(self) -> list[str]:
        return sorted(self.state().views)

    def read_view(
        self,
        spark: SparkSession,
        name: str,
        state: CatalogState | None = None,
    ) -> DataFrame:
        """Evaluate a catalog view against ONE catalog state: tables
        resolve to that state's pinned snapshots and other views to
        that state's definitions, so the result is the
        cross-table-consistent answer as of that version — catalog
        time travel works for views exactly as for tables."""
        st = state or self.state()
        if name not in st.views:
            raise KeyError(f"no such view {name!r}")
        self.register_views(spark, state=st)  # tables + view fixpoint
        return spark.table(name)

    def sql(self, spark: SparkSession, statement: str):
        """One entry point for the whole SQL surface.

        DML statements (DELETE / UPDATE / MERGE INTO, the grammar in
        ``sql_dml``) route onto this catalog's tables, then publish
        the touched tables' new snapshots in ONE catalog version so
        catalog readers see the change — the write-side complement of
        ``register_views``. Returns the operation's stats dict.

        SELECT / WITH statements pass through to ``register_views`` +
        ``spark.sql`` with PINNED-STATE semantics: every referenced
        table resolves to one atomic catalog state's pinned snapshot
        (and catalog views materialize against the same state), so a
        multi-table read is cross-table consistent even while writers
        advance table heads concurrently. Returns the result
        DataFrame (lazily planned — pins are resolved NOW, execution
        happens at the caller's action). Pass ``state=`` via
        ``register_views`` directly for time-traveled reads.
        ``SELECT /*+ REALTIME */ ...`` reads maintained views named in
        the statement through ``read_realtime`` (strict: refuses
        instead of silently recomputing — see the hint comment
        below)."""
        from .sql_dml import _strip, run_dml

        head_tok = _strip(statement).lstrip("(").split(None, 1)
        head = head_tok[0].upper() if head_tok else ""
        # EXPLAIN rides the read pass-through: the plan is computed
        # against the same pinned-state views the SELECT would run on
        if head in ("SELECT", "WITH", "EXPLAIN"):
            import re as _re

            # /*+ CATALOG_VERSION(n) */ (round 11): register every
            # view pinned to the catalog state AS OF publish n — SQL
            # time travel at CATALOG granularity, so a multi-table
            # read is cross-table consistent at that past publish
            # (the SQL face of state_at/register_views(state=...) and
            # of the connector's catalog_version option, a4q).
            # Per-table [FOR] VERSION AS OF exists (round 12) but ONLY
            # for statements that read ONE catalog relation: mixing
            # per-table vintages forfeits the cross-table guarantee
            # this catalog exists to give, so multi-table statements
            # refuse with a pointer at CATALOG_VERSION.
            tt = _re.search(
                r"/\*\+\s*CATALOG_VERSION\s*\(\s*(\d+)\s*\)\s*\*/",
                statement,
                _re.I,
            )
            rt_hint = _re.search(
                r"/\*\+\s*REALTIME"
                r"(?:\s*\(\s*(ALLOW_RECOMPUTE)\s*\))?\s*\*/",
                statement,
                _re.I,
            )
            if tt and rt_hint:
                from .sql_dml import UnsupportedSQL

                raise UnsupportedSQL(
                    "CATALOG_VERSION and REALTIME hints contradict: one "
                    "pins the past, the other reads ahead of the pins — "
                    "pick one"
                )
            # FROM t [FOR] VERSION|TIMESTAMP AS OF <lit> (round 12):
            # per-TABLE time travel (Iceberg's spellings — VERSION
            # takes a SNAPSHOT id onto Table.scan(snapshot_id=),
            # TIMESTAMP takes epoch-millis or an ISO instant onto
            # scan(as_of_ms=); the SQL face of the a3z/a3n API reads).
            # Single-table statements only: the clause pins ONE
            # relation's history, so any statement whose read set
            # holds another catalog relation refuses — the
            # cross-table-consistent form is CATALOG_VERSION.
            _lit = r"'(?:[^']|'')*'|\d+"
            # detect on the literal-MASKED text (length-preserving, so
            # spans index the original): a query whose WHERE compares a
            # column to the string 'VERSION AS OF 5' is a plain read,
            # not a time-travel statement (round-12 ADVICE fix)
            masked = _mask_literals(statement)
            vats = list(
                _re.finditer(
                    rf"\b(?:FOR\s+)?(VERSION|TIMESTAMP)\s+AS\s+OF\s+({_lit})",
                    masked,
                    _re.I,
                )
            )
            if vats:
                from .sql_dml import UnsupportedSQL

                if tt is not None or rt_hint is not None:
                    raise UnsupportedSQL(
                        "VERSION/TIMESTAMP AS OF cannot combine with "
                        "the CATALOG_VERSION or REALTIME hints: each "
                        "pins a different notion of 'when' — pick one"
                    )
                if len(vats) > 1:
                    raise UnsupportedSQL(
                        "one VERSION/TIMESTAMP AS OF clause per "
                        "statement: the single-table contract leaves "
                        "nothing for a second clause to pin"
                    )
                fm = _re.search(
                    rf"\bFROM\s+([A-Za-z_]\w*)\s+"
                    rf"(?:FOR\s+)?(VERSION|TIMESTAMP)\s+AS\s+OF\s+({_lit})",
                    masked,
                    _re.I,
                )
                if fm is None:
                    raise UnsupportedSQL(
                        "VERSION/TIMESTAMP AS OF attaches to a FROM "
                        "<table> reference: SELECT ... FROM t [FOR] "
                        "VERSION AS OF <snapshot-id> | TIMESTAMP AS OF "
                        "<epoch-ms | 'ISO instant'> ..."
                    )
                # groups 1-2 are identifier/keyword text (mask-stable);
                # the literal comes from the ORIGINAL via the span —
                # the mask blanked its content
                tname, kind = fm.group(1), fm.group(2).upper()
                lit = statement[fm.start(3): fm.end(3)]
                stripped = (
                    statement[: fm.end(1)] + " " + statement[fm.end() :]
                )
                st = self.state()
                views_l = {v.lower() for v in st.views}
                if tname.lower() in views_l:
                    raise UnsupportedSQL(
                        f"{kind} AS OF targets a TABLE's snapshot "
                        f"history; {tname!r} is a view — views "
                        "time-travel via /*+ CATALOG_VERSION(n) */"
                    )
                cat_names = {
                    n.lower() for n in self.list_tables()
                } | views_l
                counts = _relation_read_counts(stripped)
                reads = {r for r in counts if r in cat_names}
                if reads != {tname.lower()}:
                    raise UnsupportedSQL(
                        f"{kind} AS OF serves single-table statements "
                        f"only (this one reads {sorted(reads)}): mixing "
                        "per-table vintages forfeits cross-table "
                        "consistency — use /*+ CATALOG_VERSION(n) */ "
                        "for a consistent multi-table time travel"
                    )
                if counts.get(tname.lower(), 0) > 1:
                    # a self-join/self-union would pin EVERY reference
                    # of the table to the past snapshot, not just the
                    # one the clause is attached to — refuse rather
                    # than silently widen the pin (round-12 ADVICE)
                    raise UnsupportedSQL(
                        f"{kind} AS OF pins every reference of "
                        f"{tname!r}, but this statement references it "
                        f"{counts[tname.lower()]} times — a self-join/"
                        "union mixing vintages of one table is "
                        "ambiguous; read the pinned snapshot into a "
                        "temp view via the API, or use "
                        "/*+ CATALOG_VERSION(n) */"
                    )
                if kind == "VERSION":
                    # Iceberg parity: VERSION AS OF takes a snapshot id
                    # or a quoted branch/tag name (scan(ref=) reads the
                    # ref's pinned head; unknown refs KeyError loudly)
                    if lit.isdigit():
                        kw = {"snapshot_id": int(lit)}
                    else:
                        kw = {"ref": lit[1:-1].replace("''", "'")}
                else:
                    kw = {"as_of_ms": _as_of_millis(lit)}
                self.register_views(spark)
                # loud KeyError for an unknown/expired snapshot id or
                # an instant before the table's first commit
                self.table(tname).scan(
                    spark, **kw
                ).createOrReplaceTempView(tname)
                return spark.sql(stripped)
            if tt:
                statement = statement.replace(tt.group(0), " ", 1)
                self.register_views(spark, state=self.state_at(int(tt.group(1))))
                return spark.sql(statement)
            self.register_views(spark)
            # /*+ REALTIME */ (round 11; TimescaleDB's real-time
            # continuous-aggregate UX): maintained views the statement
            # actually READS re-register as their read_realtime frame —
            # materialized rows merged with the source's CDC tail
            # since the cursor, the exact current answer at
            # O(view)+O(tail). STRICT contract through SQL: a read
            # that would fall back to an O(source) recompute (expired
            # cursor, rolled lineage, half-applied fold) refuses
            # loudly instead of silently paying the cost cliff — run
            # REFRESH first or read without the hint. Read-set
            # matching is by FROM/JOIN identifier (string literals
            # stripped first), NOT \b<name>\b over the whole text:
            # strict refusals raise EAGERLY here, so a broken view
            # merely MENTIONED (in a literal, as a column name, or
            # never read) must not fail a query that would be served
            # fine (round-12 ADVICE fix).
            # /*+ REALTIME(ALLOW_RECOMPUTE) */ (round 12): the bare
            # hint's strict contract exists because a "realtime" read
            # silently becoming an O(source) recompute is a cost cliff
            # a SQL caller cannot see — but the API form always had an
            # exact-fallback mode, and a SQL user whose GC outran
            # refresh deserves the same choice. The argument names the
            # cliff IN the statement, so accepting it is explicit:
            # with it, expired-cursor / rolled-lineage / half-applied
            # states serve the exact full recompute instead of
            # refusing.
            if rt_hint:
                from .maintained import list_maintained, read_realtime

                strict = rt_hint.group(1) is None
                statement = statement.replace(rt_hint.group(0), " ", 1)
                reads = _from_join_identifiers(statement)
                for vname in list_maintained(self):
                    if vname.lower() in reads:
                        read_realtime(
                            self, spark, vname, strict=strict
                        ).createOrReplaceTempView(vname)
            return spark.sql(statement)
        if head in ("SHOW", "DESCRIBE", "DESC"):
            return self._introspect(spark, _strip(statement))

        touched: dict[str, Table] = {}

        def resolve(name: str) -> Table:
            t = self.table(name)
            touched[name] = t
            return t

        res = run_dml(spark, statement, resolve, catalog=self)
        pins = {
            name: Table(t.root).metadata.current_snapshot_id
            for name, t in touched.items()
        }
        if pins:
            self._commit_pins(pins)
        return res

    def _introspect(self, spark: SparkSession, sql: str):
        """SHOW TABLES | SHOW VIEWS | SHOW MATERIALIZED VIEWS |
        SHOW PARTITIONS t | SHOW SNAPSHOTS t | SHOW TBLPROPERTIES t |
        SHOW CREATE TABLE t | DESCRIBE [TABLE|EXTENDED] t — catalog
        introspection as DataFrames (metadata-only, driver-side
        listings of catalog state)."""
        import re as _re

        from .sql_dml import UnsupportedSQL

        sql = sql.rstrip(";").strip()  # same trailing-';' tolerance as DML
        if _re.match(r"^SHOW\s+TABLES$", sql, _re.I):
            return spark.createDataFrame(
                [(n,) for n in self.list_tables()] or [], "table_name string"
            )
        if _re.match(r"^SHOW\s+VIEWS$", sql, _re.I):
            return spark.createDataFrame(
                [(n,) for n in sorted(self.list_views())] or [],
                "view_name string",
            )
        if _re.match(r"^SHOW\s+MATERIALIZED\s+VIEWS$", sql, _re.I):
            from .maintained import list_maintained

            views = list_maintained(self)
            return spark.createDataFrame(
                [
                    (n, p["mv.kind"], p["mv.source"], p["mv.key"])
                    for n, p in sorted(views.items())
                ]
                or [],
                "view_name string, kind string, source string, key string",
            )
        m = _re.match(r"^SHOW\s+PARTITIONS\s+([A-Za-z_]\w*)$", sql, _re.I)
        if m:
            # SHOW PARTITIONS (round 12): partition value -> (files,
            # rows, bytes) straight from the manifest entries of the
            # PINNED snapshot — the same state a catalog SELECT reads;
            # metadata-only, no data file opened. MOR note: rows/bytes
            # are the entries' physical counts (pending equality
            # deletes are not subtracted — they are delete FILES, not
            # rewritten data), same as Iceberg's partitions table.
            name = m.group(1)
            tbl = self.table(name)
            if tbl.transform is None:
                raise UnsupportedSQL(
                    f"table {name!r} is unpartitioned — SHOW PARTITIONS "
                    "lists a partition transform's layout"
                )
            pin = self.state().pins.get(name)
            snap = (
                tbl.metadata.current_snapshot()
                if pin is None
                else tbl.snapshot_by_id(pin)
            )
            rows = _show_partitions_rows(spark, tbl, snap)
            return spark.createDataFrame(
                rows or [],
                "partition string, files bigint, rows bigint, bytes bigint",
            )
        m = _re.match(r"^SHOW\s+SNAPSHOTS\s+([A-Za-z_]\w*)$", sql, _re.I)
        if m:
            # SHOW SNAPSHOTS (round 12): the commit log as a DataFrame
            # (metadata-only, head state like ALTER reads) — the SQL
            # face of Table.history()/the connector's snapshots table
            # (a3x). is_current marks the head; rolled-past and
            # branch-staged snapshots still list until expiry, exactly
            # what the metadata log holds.
            name = m.group(1)
            tbl = self.table(name)
            cur = tbl.metadata.current_snapshot_id
            return spark.createDataFrame(
                [
                    (
                        s.snapshot_id,
                        s.parent_id,
                        s.timestamp_ms,
                        s.operation,
                        s.snapshot_id == cur,
                    )
                    for s in tbl.metadata.snapshots
                ]
                or [],
                "snapshot_id long, parent_id long, timestamp_ms long, "
                "operation string, is_current boolean",
            )
        m = _re.match(r"^SHOW\s+REFS\s+([A-Za-z_]\w*)$", sql, _re.I)
        if m:
            # SHOW REFS (round 13): the table's branches/tags — the
            # introspection face of the branch/tag DDL (metadata-only,
            # head state). snapshot_id is the ref's pinned head;
            # is_head marks refs currently AT the table head. Round 14
            # adds the retention face: age_ms (how long the ref has
            # existed) and max_ref_age_ms (the policy that VACUUM /
            # expire_snapshots applies — per-ref RETAIN first, else
            # the table default for branches; NULL = never expires).
            name = m.group(1)
            tbl = self.table(name)
            md = tbl.metadata
            cur = md.current_snapshot_id
            from . import format as _fmt

            now = _fmt.now_ms()
            by_id = {s.snapshot_id: s for s in md.snapshots}
            default_age = md.properties.get("history.expire.max-ref-age-ms")
            tags_in = (
                md.properties.get(
                    "history.expire.ref-age-applies-to-tags", "false"
                ).lower()
                == "true"
            )

            def _limit(v: dict):
                if "max_ref_age_ms" in v:
                    return int(v["max_ref_age_ms"])
                if default_age is not None and (
                    v["type"] == "branch" or tags_in
                ):
                    return int(default_age)
                return None

            def _created(v: dict) -> int:
                c = v.get("created_ms")
                if c is not None:
                    return int(c)
                s = by_id.get(v["snapshot_id"])
                return s.timestamp_ms if s is not None else 0

            return spark.createDataFrame(
                [
                    (
                        k, v["type"], v["snapshot_id"],
                        v["snapshot_id"] == cur,
                        now - _created(v), _limit(v),
                    )
                    for k, v in sorted(tbl.metadata.refs.items())
                ]
                or [],
                "name string, type string, snapshot_id long, "
                "is_head boolean, age_ms long, max_ref_age_ms long",
            )
        m = _re.match(r"^SHOW\s+CREATE\s+TABLE\s+([A-Za-z_]\w*)$", sql, _re.I)
        if m:
            # Round-trippable DDL (round 11): the emitted statement is
            # IN the grammar — CREATE TABLE (cols) [PARTITIONED BY]
            # [TBLPROPERTIES] — so copy-paste recreates the table.
            # Schema resolves against the PINNED snapshot like
            # DESCRIBE/SELECT; partition spec and properties are
            # metadata-log state (head), like ALTER reads them.
            from .table import DEFAULT_PROPERTIES

            name = m.group(1)
            tbl = self.table(name)
            pin = self.state().pins.get(name)
            schema = (
                tbl.schema() if pin is None else tbl.schema_of_snapshot(pin)
            )
            # simpleString() verbatim — NOT .upper(): uppercasing a
            # nested type's simpleString renames its FIELDS
            # (struct<a:bigint> -> STRUCT<A:BIGINT>), silently breaking
            # the round-trip. Lowercase type names are valid Spark DDL.
            # (Found by the hypothesis round-trip property, round 11.)
            # Initial-default columns emit a DEFAULT clause the CREATE
            # TABLE grammar accepts (round 12) — a recreated table
            # keeps write-side default fill for column-list INSERTs
            # (read-side vintage fill is moot on a fresh empty table).
            # Known round-trip scope limit: simpleString cannot carry
            # NESTED-struct field nullability; top-level NOT NULL and
            # defaults round-trip exactly.
            def _render_default(v) -> str:
                if isinstance(v, bool):
                    return "TRUE" if v else "FALSE"
                if isinstance(v, str):
                    return "'" + v.replace("'", "''") + "'"
                return repr(v)

            cols = ",\n  ".join(
                f"{f.name} {f.dataType.simpleString()}"
                + ("" if f.nullable else " NOT NULL")
                + (
                    f" DEFAULT {_render_default(f.metadata['initial_default'])}"
                    if "initial_default" in (f.metadata or {})
                    else ""
                )
                for f in schema.fields
            )
            ddl = f"CREATE TABLE {name} (\n  {cols}\n)"
            t = tbl.transform
            if t is not None:
                ddl += f"\nPARTITIONED BY ({_render_partition_ddl(t)})"
            props = {
                k: v
                for k, v in sorted(tbl.metadata.properties.items())
                if DEFAULT_PROPERTIES.get(k) != v and not k.startswith("mv.")
            }
            if props:
                pairs = ", ".join(f"'{k}' = '{v}'" for k, v in props.items())
                ddl += f"\nTBLPROPERTIES ({pairs})"
            return spark.createDataFrame([(ddl,)], "create_statement string")
        m = _re.match(
            r"^SHOW\s+TBLPROPERTIES\s+([A-Za-z_]\w*)$", sql, _re.I
        )
        if m:
            # SHOW TBLPROPERTIES (round 12): the table's non-default
            # properties (head metadata-log state, like ALTER reads);
            # mv.* internals included — they ARE user-visible contract
            # for maintained views (kind/source/key).
            from .table import DEFAULT_PROPERTIES

            tbl = self.table(m.group(1))
            rows = [
                (k, v)
                for k, v in sorted(tbl.metadata.properties.items())
                if DEFAULT_PROPERTIES.get(k) != v
            ]
            return spark.createDataFrame(
                rows or [], "key string, value string"
            )
        m = _re.match(
            r"^DESC(?:RIBE)?\s+EXTENDED\s+([A-Za-z_]\w*)$", sql, _re.I
        )
        if m:
            # DESCRIBE EXTENDED (round 12): the schema rows DESCRIBE
            # emits, followed by #-prefixed detail rows (Spark's own
            # layout) — partition transform, snapshot count + current
            # id, live file/row/byte totals from the manifests of the
            # PINNED snapshot (metadata-only, no data file opened).
            name = m.group(1)
            tbl = self.table(name)
            pin = self.state().pins.get(name)
            schema = (
                tbl.schema() if pin is None else tbl.schema_of_snapshot(pin)
            )
            rows = [
                (f.name, f.dataType.simpleString(), str(f.nullable).lower())
                for f in schema.fields
            ]
            snap = (
                tbl.metadata.current_snapshot()
                if pin is None
                else tbl.snapshot_by_id(pin)
            )
            n_files, n_rows, n_bytes = _introspect_totals(spark, tbl, snap)
            t = tbl.transform
            rows += [
                ("# Detailed Table Information", "", ""),
                (
                    "partition",
                    _render_partition_ddl(t) if t is not None else "none",
                    "",
                ),
                ("snapshots", str(len(tbl.metadata.snapshots)), ""),
                (
                    "current_snapshot_id",
                    str(snap.snapshot_id if snap is not None else None),
                    "",
                ),
                ("files", str(n_files), ""),
                ("rows", str(n_rows), ""),
                ("bytes", str(n_bytes), ""),
            ]
            return spark.createDataFrame(
                rows, "col_name string, data_type string, comment string"
            )
        m = _re.match(
            r"^DESC(?:RIBE)?\s+(?:TABLE\s+)?([A-Za-z_]\w*)$", sql, _re.I
        )
        if m:
            # resolve against the PINNED snapshot's schema — the same
            # state a catalog SELECT on this connection reads — not the
            # table head: after an unpublished direct-writer schema
            # change, DESCRIBE must not report columns the SELECT
            # pass-through cannot see (round-11 review finding). A
            # pin of None (registered-empty table) falls back to the
            # head schema, matching what Catalog.read returns there.
            name = m.group(1)
            tbl = self.table(name)  # loud KeyError for unknown names
            pin = self.state().pins.get(name)
            schema = (
                tbl.schema() if pin is None else tbl.schema_of_snapshot(pin)
            )
            return spark.createDataFrame(
                [
                    (f.name, f.dataType.simpleString(), f.nullable)
                    for f in schema.fields
                ],
                "col_name string, data_type string, nullable boolean",
            )
        raise UnsupportedSQL(
            f"introspection statement not recognized: {sql[:60]!r} "
            "(SHOW TABLES | SHOW VIEWS | SHOW MATERIALIZED VIEWS | "
            "SHOW PARTITIONS t | SHOW SNAPSHOTS t | SHOW TBLPROPERTIES "
            "t | SHOW CREATE TABLE t | DESCRIBE [TABLE|EXTENDED] t)"
        )

    def sql_script(self, spark: SparkSession, script: str) -> list[dict]:
        """Execute a semicolon-separated SCRIPT of DML statements
        (DELETE / UPDATE / MERGE INTO — the ``sql_dml`` grammar)
        sequentially against this catalog's tables, publishing ALL
        touched pins in ONE catalog version at the end. Visibility is
        publish-atomic: later statements see earlier statements'
        effects through the TABLES, while catalog readers see either
        the pre-script pins or the whole script's outcome — never a
        prefix. (This is atomic VISIBILITY, not table-level rollback:
        a failing statement aborts the publish, leaving table heads
        advanced but unpinned — the same crash-window contract as
        ``CatalogTransaction``.)

        Refused loudly: view/table DDL, OPTIMIZE and VACUUM inside a script
        (they commit catalog versions of their own, or their GC /
        pin-publish interplay breaks the single-publish contract —
        run them standalone), and empty scripts. Pinned views are
        (re-)registered at SCRIPT START, so IN-subqueries and
        INSERT ... SELECT sources evaluate against the script-start
        catalog state — they do NOT see the script's own intermediate
        state (tables accessed directly by the verbs do). Statement
        splitting is quote-aware ('...;...' stays one literal)."""
        from .sql_dml import UnsupportedSQL, _split_depth0, run_dml

        stmts = [s for s in _split_depth0(script, ";") if s.strip()]
        if not stmts:
            raise UnsupportedSQL("empty script")
        for st in stmts:
            head = st.split(None, 1)[0].upper() if st.split() else ""
            if head in ("CREATE", "DROP", "REFRESH", "ALTER"):
                # ALTER is metadata-only but would ride the script-end
                # pin publish through resolve(), which can pin a direct
                # writer's unpublished head — the leak the standalone
                # path explicitly prevents; schema DDL runs standalone
                raise UnsupportedSQL(
                    "DDL / maintained-view refresh commits a catalog "
                    "version of its own (or would ride the script's pin "
                    "publish) and cannot join a script's single publish "
                    f"— run the {head} statement standalone"
                )
            if head in ("SELECT", "WITH"):
                raise UnsupportedSQL(
                    "reads don't participate in a DML script's single "
                    "publish — run SELECT through Catalog.sql standalone"
                )
            if head == "VACUUM":
                raise UnsupportedSQL(
                    "VACUUM physically deletes snapshots that the "
                    "catalog's published pins may still reference; a GC "
                    "that outruns the script's end-of-script publish "
                    "would break pinned readers — run VACUUM standalone "
                    "through Catalog.sql, which protects the published "
                    "pin from expiry"
                )
            if head == "OPTIMIZE":
                # scripts run run_dml without catalog=, so OPTIMIZE's
                # table would join `touched` via resolve() and the
                # script-end publish would advance the pin to the
                # post-maintenance HEAD unconditionally — publishing a
                # direct writer's unpublished commits whenever the pin
                # lagged the head. The standalone path's
                # _maintenance_republish guard (pinned == pre_head)
                # exists to prevent exactly that; maintenance cannot
                # join a script's single publish.
                raise UnsupportedSQL(
                    "OPTIMIZE decides its own pin movement (the pin "
                    "only republishes when it already sat at the head) "
                    "and cannot join a script's single publish — run "
                    "OPTIMIZE standalone through Catalog.sql"
                )
        touched: dict[str, Table] = {}

        def resolve(name: str) -> Table:
            t = self.table(name)
            touched[name] = t
            return t

        self.register_views(spark)  # script-start pins for subqueries
        results = [run_dml(spark, st, resolve) for st in stmts]
        pins = {
            name: Table(t.root).metadata.current_snapshot_id
            for name, t in touched.items()
        }
        if pins:
            self._commit_pins(pins)
        return results

    # ---------- transactions ----------

    def transaction(self) -> "CatalogTransaction":
        return CatalogTransaction(self)

    def _commit_pins(self, updates: dict[str, int | None]) -> CatalogState:
        def build(cur: CatalogState) -> CatalogState:
            pins = dict(cur.pins)
            for name, sid in updates.items():
                if name in pins:
                    pins[name] = _later_of(
                        Table(self._table_root(name)), pins.get(name), sid
                    )
                else:
                    pins[name] = sid
            return CatalogState(version=cur.version + 1, pins=pins, views=cur.views)

        return _cat_commit(self.root, build)


class CatalogTransaction:
    """Buffered multi-table write set. Operations stage in order;
    ``commit(spark)`` applies them as real table commits and then
    publishes every touched pin in ONE catalog version."""

    def __init__(self, catalog: Catalog):
        self.catalog = catalog
        self._ops: list[tuple] = []
        self.committed: CatalogState | None = None

    def append(self, name: str, df: DataFrame) -> "CatalogTransaction":
        self._ops.append(("append", name, df))
        return self

    def delete_eq(
        self, name: str, keys: DataFrame, key_cols: list[str]
    ) -> "CatalogTransaction":
        self._ops.append(("delete_eq", name, (keys, list(key_cols))))
        return self

    def commit(self, spark: SparkSession) -> CatalogState:
        if self.committed is not None:
            raise RuntimeError("transaction already committed")
        if not self._ops:
            raise ValueError("empty transaction")
        pins_before = self.catalog.state().pins
        touched: dict[str, int] = {}
        for kind, name, payload in self._ops:
            if name not in pins_before and name not in touched:
                raise KeyError(f"no such table {name!r}")
            tbl = Table(self.catalog._table_root(name))
            if kind == "append":
                snap = tbl.append(payload)
            else:
                keys, key_cols = payload
                snap = tbl.delete_eq_mor(spark, keys, key_cols)
            if snap is not None:
                touched[name] = snap.snapshot_id
        self.committed = self.catalog._commit_pins(touched)
        return self.committed
