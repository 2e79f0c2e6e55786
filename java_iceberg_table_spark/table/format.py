"""On-disk metadata format + atomic commit protocol.

Layout under the table root::

    metadata/v<N>.json        one immutable metadata version per commit
    metadata/version-hint.text  best-effort pointer (readers probe past it)
    manifests/<uuid>.json     immutable lists of data-file entries
    data/...                  parquet data files
    _pending/tc_<uuid>.json   writer->bookkeeper pending-commit handoff

Commit = write new immutable artifacts, then publish ``v<N+1>.json``
with ``os.link`` (``publish_json``), which fails if the name exists.
The link is the compare-and-swap: of two committers racing to the
same version only one wins; the loser re-reads and rebases (the
reference leans on HadoopTables' equivalent rename-based CAS,
Constants.java:23, with ``commit.retry.num-retries=20000``,
Writer.java:116). ``retry_commit`` is the one retry loop; it serves
any ``v<N>.json`` log directory — a table's ``metadata/`` and a
catalog's ``catalog/`` alike.

A data file's existence on disk means nothing until a manifest in a
committed metadata version references it — so writers can stream files
into ``data/`` with zero coordination and crash safely at any point
(orphans are swept by snapshot expiry's reachability GC).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Callable, Iterable


class CommitConflict(Exception):
    pass


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    timestamp_ms: int
    operation: str  # append | delete | expire | create
    manifests: list[str]  # paths relative to table root
    summary: dict[str, Any] = field(default_factory=dict)
    # schema current when this snapshot committed (Iceberg's
    # snapshot->schema-id binding); None on pre-evolution metadata,
    # which readers treat as "current schema".
    schema_id: int | None = None
    # merge-on-read: manifests listing DELETE files (Iceberg v2 row-
    # level deletes). Entries: {"path", "content": "pos"|"eq",
    # "cols", "rows", "seq"}. Empty on v1-style snapshots.
    delete_manifests: list[str] = field(default_factory=list)
    # commit sequence number (Iceberg's data sequence number): data
    # entries are stamped with the sequence of the committing
    # snapshot; an equality delete applies only to data files with a
    # STRICTLY SMALLER sequence, so a key re-inserted after the
    # delete is not wrongly removed. 0 on pre-MOR metadata.
    sequence: int = 0
    # entry count of each data manifest, parallel to ``manifests`` (a
    # minimal Iceberg manifest list). Written by append_entries; a
    # merge hint only — see manifest_counts().
    manifest_entries: list[int | None] = field(default_factory=list)

    def manifest_counts(self) -> list[int | None]:
        """Entry count of each of ``manifests``, None where unknown:
        every count is unknown when the list is missing or its length
        differs (legacy metadata, and the verbs that record no
        counts). Only append_entries' merge reads it; liveness,
        pruning, GC and dedupe never do."""
        if len(self.manifest_entries) == len(self.manifests):
            return list(self.manifest_entries)
        return [None] * len(self.manifests)

    def to_json(self) -> dict:
        return {
            "snapshot_id": self.snapshot_id,
            "parent_id": self.parent_id,
            "timestamp_ms": self.timestamp_ms,
            "operation": self.operation,
            "manifests": self.manifests,
            "summary": self.summary,
            "schema_id": self.schema_id,
            "delete_manifests": self.delete_manifests,
            "sequence": self.sequence,
            "manifest_entries": self.manifest_entries,
        }

    @staticmethod
    def from_json(d: dict) -> "Snapshot":
        return Snapshot(
            d["snapshot_id"],
            d.get("parent_id"),
            d["timestamp_ms"],
            d["operation"],
            list(d["manifests"]),
            dict(d.get("summary", {})),
            d.get("schema_id"),
            list(d.get("delete_manifests", [])),
            int(d.get("sequence", 0)),
            list(d.get("manifest_entries", [])),
        )


@dataclass
class TableMetadata:
    version: int
    table_uuid: str
    schema_json: dict  # CURRENT schema, Spark StructType.jsonValue()
    partition_spec: dict | None  # TruncateTransform.to_json() or None
    properties: dict[str, str]
    snapshots: list[Snapshot]
    current_snapshot_id: int | None
    # schema evolution log: every schema version ever current, as
    # [{"schema_id": int, "schema": StructType.jsonValue()}]. Immutable
    # once written — time travel resolves a snapshot's schema here.
    schemas: list[dict] = field(default_factory=list)
    current_schema_id: int = 0
    # named snapshot refs: {name: {"snapshot_id": int, "type": "branch"|"tag"}}.
    # Branches move (staged WAP writes); tags are immutable pins. Both
    # protect their snapshot from expiry.
    refs: dict = field(default_factory=dict)
    # partition-spec evolution log (Iceberg partition evolution): every
    # spec ever current, as [{"spec_id": int, "spec": transform json |
    # None}], LAST element = the current spec (mirrors partition_spec).
    # Empty (pre-evolution metadata) derives to [{0, partition_spec}]
    # via specs() — data files written before an evolution keep their
    # old partition values and are pruned under the spec they were
    # written with (manifest entries carry spec_id).
    spec_log: list[dict] = field(default_factory=list)
    # row-lineage high-water mark (Iceberg v3 next-row-id): every
    # entry-adding commit claims [next_row_id, next_row_id + rows) and
    # stamps each added entry's first_row_id from the claimed range, so
    # _row_id = first_row_id + row position is table-unique and stable.
    # Old metadata (and old entries) default to 0 / absent — their rows
    # simply predate lineage.
    next_row_id: int = 0

    def specs(self) -> list[dict]:
        return self.spec_log or [{"spec_id": 0, "spec": self.partition_spec}]

    def current_snapshot(self) -> Snapshot | None:
        for s in self.snapshots:
            if s.snapshot_id == self.current_snapshot_id:
                return s
        return None

    def schema_for(self, schema_id: int | None) -> dict:
        """Schema json for a schema id; None (pre-evolution snapshot)
        resolves to the current schema."""
        if schema_id is None:
            return self.schema_json
        for s in self.schemas:
            if s["schema_id"] == schema_id:
                return s["schema"]
        raise KeyError(f"unknown schema id {schema_id}")

    def to_json(self) -> dict:
        return {
            "format_version": 1,
            "version": self.version,
            "table_uuid": self.table_uuid,
            "schema": self.schema_json,
            "partition_spec": self.partition_spec,
            "properties": self.properties,
            "snapshots": [s.to_json() for s in self.snapshots],
            "current_snapshot_id": self.current_snapshot_id,
            "schemas": self.schemas,
            "current_schema_id": self.current_schema_id,
            "refs": self.refs,
            "spec_log": self.specs(),
            "next_row_id": self.next_row_id,
        }

    @staticmethod
    def from_json(d: dict) -> "TableMetadata":
        schemas = list(d.get("schemas") or [{"schema_id": 0, "schema": d["schema"]}])
        return TableMetadata(
            version=d["version"],
            table_uuid=d["table_uuid"],
            schema_json=d["schema"],
            partition_spec=d.get("partition_spec"),
            properties=dict(d.get("properties", {})),
            snapshots=[Snapshot.from_json(s) for s in d.get("snapshots", [])],
            current_snapshot_id=d.get("current_snapshot_id"),
            schemas=schemas,
            current_schema_id=int(d.get("current_schema_id", 0)),
            refs=dict(d.get("refs", {})),
            spec_log=list(d.get("spec_log") or []),
            next_row_id=int(d.get("next_row_id", 0)),
        )


def _metadata_dir(root: str) -> str:
    return os.path.join(root, "metadata")


def _version_path(root: str, version: int) -> str:
    return log_path(_metadata_dir(root), version)


def _write_temp(path: str, payload: dict) -> str:
    """Write ``payload`` to a fresh fsynced temp file beside ``path``
    and return the temp path — the one JSON write path of the table
    and catalog metadata. ``json.dumps`` runs the C encoder;
    ``json.dump`` into a file object runs the pure-Python one, about
    4x slower on a 5,000-entry manifest."""
    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as f:
        f.write(json.dumps(payload))
        f.flush()
        os.fsync(f.fileno())
    return tmp


def write_json_atomic(path: str, payload: dict) -> None:
    """Write-temp-then-rename — the same publish idiom as the
    reference's moniker handoff (Writer.java:160-170)."""
    os.rename(_write_temp(path, payload), path)


def publish_json(path: str, payload: dict) -> None:
    """Compare-and-swap publish of an immutable version file.

    The content is written to a temp file first and PUBLISHED via
    ``os.link`` — link() fails with EEXIST if the version exists (the
    compare-and-swap) and, unlike open(O_EXCL)+write, the target name
    only ever appears with its full content, so concurrent readers can
    never observe a partially-written file. Raises CommitConflict if
    another committer won the race."""
    tmp = _write_temp(path, payload)
    try:
        os.link(tmp, path)
    except FileExistsError as e:
        raise CommitConflict(f"{path} already committed") from e
    finally:
        os.unlink(tmp)


def read_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def log_path(log_dir: str, version: int) -> str:
    return os.path.join(log_dir, f"v{version}.json")


def log_version(log_dir: str) -> int:
    """Resolve the latest committed version of the ``v<N>.json`` log
    in ``log_dir``: start at the hint, probe upward. The hint is
    best-effort, never authoritative: an unreadable hint, or one
    naming a version that no longer exists (expired by retention),
    falls back to listing the directory."""
    hint_path = os.path.join(log_dir, "version-hint.text")
    v = 0
    if os.path.exists(hint_path):
        try:
            with open(hint_path) as f:
                v = int(f.read().strip())
        except (ValueError, OSError):
            v = 0
    if v < 1 or not os.path.exists(log_path(log_dir, v)):
        versions = [
            int(name[1:-5])
            for name in os.listdir(log_dir)
            if name.startswith("v") and name.endswith(".json")
        ]
        if not versions:
            raise FileNotFoundError(f"no versions under {log_dir}")
        return max(versions)
    while os.path.exists(log_path(log_dir, v + 1)):
        v += 1
    return v


def log_publish(log_dir: str, version: int, payload: dict) -> None:
    """CAS-publish ``v<version>.json`` in ``log_dir`` (``publish_json``)
    and then move the hint to it; raise CommitConflict if another
    committer won the version."""
    publish_json(log_path(log_dir, version), payload)
    hint = os.path.join(log_dir, "version-hint.text")
    tmp = f"{hint}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as f:
        f.write(str(version))
    os.rename(tmp, hint)


def retry_commit(
    load: Callable[[], Any],
    build: Callable[[Any], Any],
    publish: Callable[[Any], None],
    max_attempts: Callable[[Any], int] = lambda head: 1000,
    on_lost: Callable[[Any, Any], None] | None = None,
) -> Any:
    """The optimistic-retry loop of every versioned log.

    Each attempt reads the head (``load()``), asks ``build(head)`` for
    the next state (``version = head.version + 1``; None aborts and
    returns the head), and CAS-publishes it (``publish(new)`` raises
    CommitConflict when a rival won the version). A loser hands its
    attempt to ``on_lost(head, new)``, backs off, re-reads and
    rebuilds; once ``max_attempts(head)`` attempts are lost the
    CommitConflict propagates. Mirrors the reference's retry budget
    semantics (Writer.java:116) with a bounded default."""
    attempt = 0
    while True:
        current = load()
        new = build(current)
        if new is None:
            return current
        assert new.version == current.version + 1, "build() must bump version by 1"
        try:
            publish(new)
            return new
        except CommitConflict:
            if on_lost is not None:
                on_lost(current, new)
            attempt += 1
            if attempt >= max_attempts(current):
                raise
            time.sleep(min(0.001 * (2 ** min(attempt - 1, 6)), 0.1))


def current_version(root: str) -> int:
    return log_version(_metadata_dir(root))


def load_metadata(root: str) -> TableMetadata:
    v = current_version(root)
    return TableMetadata.from_json(read_json(_version_path(root, v)))


def try_commit_version(root: str, meta: TableMetadata) -> None:
    """CAS: atomically publish v<version>.json (``log_publish``); raise
    CommitConflict if another committer won the race."""
    log_publish(_metadata_dir(root), meta.version, meta.to_json())


def manifest_refs(snapshots: Iterable[Snapshot]) -> set[str]:
    """Every manifest ``snapshots`` reference: data manifests, delete
    manifests and the summary's ``added-manifest``, which a merging
    append drops from its manifest list but added_files() still
    reads."""
    refs: set[str] = set()
    for s in snapshots:
        refs.update(s.manifests)
        refs.update(s.delete_manifests)
        am = s.summary.get("added-manifest")
        if am is not None:
            refs.add(am)
    return refs


def _unlink_lost_manifests(root: str, base: TableMetadata, lost: TableMetadata) -> None:
    """Unlink the manifests a lost attempt wrote: referenced by its
    metadata and not by the state it was built on, so nothing else
    can reference them."""
    for rel in manifest_refs(lost.snapshots) - manifest_refs(base.snapshots):
        try:
            os.remove(os.path.join(root, rel))
        except OSError:
            pass


def commit(root: str, build: "callable") -> TableMetadata:
    """Table commit: ``retry_commit`` over the table's metadata log,
    with the attempt budget of the head's ``commit.retry.num-retries``
    property (default 1000).

    ``build(current: TableMetadata) -> TableMetadata | None`` must
    return the next metadata, rebased on the freshly-read current
    state each attempt; returning None aborts (no-op commit). Builds
    write their manifests freely: after a lost CAS the attempt's new
    manifests are unlinked before the retry, so commit contention
    does not accumulate orphans (clean() is the backstop for
    crashes). ``load_metadata`` and ``try_commit_version`` are looked
    up at call time, so wrapping them observes every attempt."""
    return retry_commit(
        lambda: load_metadata(root),
        build,
        lambda new: try_commit_version(root, new),
        lambda head: int(head.properties.get("commit.retry.num-retries", "1000")),
        lambda base, lost: _unlink_lost_manifests(root, base, lost),
    )


def write_manifest(root: str, entries: list[dict]) -> str:
    """Immutable manifest file; returns path relative to root.

    Entry shape: {path, rows, bytes, partition, columns:{col:{min,max,nulls}}}
    with ``path`` relative to the table root."""
    rel = os.path.join("manifests", f"m-{uuid.uuid4().hex}.json")
    full = os.path.join(root, rel)
    os.makedirs(os.path.dirname(full), exist_ok=True)
    write_json_atomic(full, {"entries": entries})
    return rel


def read_manifest(root: str, rel_path: str) -> list[dict]:
    return read_json(os.path.join(root, rel_path))["entries"]


def new_snapshot_id() -> int:
    return uuid.uuid4().int & ((1 << 62) - 1)


def now_ms() -> int:
    return int(time.time() * 1000)
