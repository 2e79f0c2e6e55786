"""Workload ``ingest``: the paper's deployment, run as an open loop.

Why this workload: writers stream files, one bookkeeper serializes the
commits, a reaper expires snapshots and a reader tails the table. At
about 10^4 files the bookkeeper's commit is dominated by manifest
reads (the dedupe pass) and the periodic full manifest merge, and the
reaper competes with it for the CPU and the version CAS; Spark is
idle. Larger tables do not give a steady run: at 2x10^4 files on 4
cores the roles fall behind the offered rate (about 15 files/s
committed), the backlog grows through the run and freshness varies by
15% from run to run; at 4x10^4 files every commit takes seconds.

Set-up grows two tables (``grown.grow``) to the full size and reports
the median build time. The load: five logical writers (the
reference's ``run.sh`` fan-out) publish monikers of two files each on
a fixed schedule at 20 files/s. One generator thread drives the
writers, one thread loops ``Bookkeeper.run_once``, one tail reader
polls ``Table.incremental_entries`` and one ``Reaper`` runs every 5 s
of the schedule (at 2.5 s and 7.5 s of a 10-second run). The reaper
keeps the reference's policy (expire by age, keep the last N) with
snapshots older than 10 s beyond the last 20. Full-size runs expire
nothing with it (``reaper.snapshots_expired`` and
``reaper.files_deleted`` are 0), so there the reaper's cost is its
metadata read and policy pass; only the tiny self-test size (300 ms,
last 3) expires snapshots.
Freshness is timed from a moniker's scheduled send time, so a stall
also delays every later moniker.

A traced run loads each of the two set-up tables for ``--seconds``,
untraced and then traced, and reports the freshness gap as the tracing
overhead; the per-layer numbers come from the traced phase. An
untraced run loads the first table only.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from collections import Counter
from dataclasses import dataclass, field

from . import grown
from .common import mean, median, overhead_pct, pct
from .tracing import TracedPool, Tracer, descendants, self_ms

HOUR_LAST = 23  # the load writes into the newest hourly partition
SETUP_TABLES = 2  # set-up time is their median; a traced run loads both


@dataclass
class IngestSize:
    hours: int = 24
    templates: int = 20
    links: int = 21  # 24 x 20 x 21 = 10,080 files
    commits: int = 4
    writers: int = 5
    files_per_moniker: int = 2
    files_per_s: float = 20.0
    reaper_every_s: float = 5.0
    reaper_max_age_ms: int = 10_000
    retain_last: int = 20
    drain_timeout_s: float = 60.0
    stall_timeout_s: float = 30.0


TINY = IngestSize(hours=4, templates=2, links=3, commits=2,
                  reaper_every_s=0.5, reaper_max_age_ms=300, retain_last=3,
                  drain_timeout_s=5.0, stall_timeout_s=10.0)


@dataclass
class Moniker:
    due: float
    paths: list
    rows: int
    bytes: int
    late_ms: float


@dataclass
class Phase:
    """What one load phase published, committed and saw."""

    monikers: list = field(default_factory=list)
    commits: list = field(default_factory=list)  # one per non-empty poll
    reaps: list = field(default_factory=list)
    seen: Counter = field(default_factory=Counter)
    first_seen: dict = field(default_factory=dict)
    seen_rows: int = 0
    t_start: float = 0.0
    failure: str | None = None
    fresh_ms: list = field(default_factory=list)  # per moniker that passed its checks


def _setup(work: str, seed: int, size: IngestSize) -> tuple[list, list[float]]:
    tables, times = [], []
    for rep in range(SETUP_TABLES):
        root = os.path.join(work, f"ingest-{rep}", "t")
        t0 = time.perf_counter()
        tables.append(grown.grow(root, seed, size.hours, size.templates, size.links, size.commits))
        times.append(time.perf_counter() - t0)
    return tables, times


def _load(tbl, seed: int, seconds: float, size: IngestSize, inject: str | None,
          tracer: Tracer | None) -> Phase:
    """Run the four roles against ``tbl`` for ``seconds`` of schedule,
    then drain. The first fatal reason any role hits ends the phase."""
    from java_iceberg_table_spark.ingest.bookkeeper import Bookkeeper
    from java_iceberg_table_spark.ingest.reaper import Reaper
    from java_iceberg_table_spark.ingest.writer import Writer

    writers = [Writer(tbl, writer_id=i, seed=seed * 1_000_003 + i) for i in range(size.writers)]
    bk = Bookkeeper(tbl)
    if tracer is not None:  # moniker reads and deletes become spans
        bk.pool = TracedPool(tracer, bk.pool, {"_read_moniker": "bookkeeper.read_monikers",
                                               "remove": "bookkeeper.delete_monikers"})
    reaper = Reaper(tbl, max_age_ms=size.reaper_max_age_ms, retain_last=size.retain_last)
    start_cursor = tbl.metadata.current_snapshot_id
    period = size.files_per_moniker / size.files_per_s
    n_monikers = max(1, int(seconds / period))
    tp_base = grown.T0_US + HOUR_LAST * grown.HOUR_US
    ph = Phase(t_start=time.perf_counter() + 0.2)
    fail_lock = threading.Lock()
    gen_done = threading.Event()
    all_done = threading.Event()
    bk_lock = threading.Lock()

    def fail(reason: str) -> None:
        with fail_lock:
            ph.failure = ph.failure or reason
        all_done.set()

    def generator() -> None:
        for i in range(n_monikers):
            due = ph.t_start + i * period
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            late_ms = max(0.0, (time.perf_counter() - due) * 1000.0)
            w = writers[i % size.writers]
            entries = w.create_data_files(size.files_per_moniker, grown.ROWS_PER_FILE, tp_base + i)
            if inject == "drop-moniker" and i == n_monikers // 2:
                # the fault: the moniker vanishes before any poll sees it
                with bk_lock:
                    os.remove(w.write_pending_commit(entries))
            else:
                w.write_pending_commit(entries)
            ph.monikers.append(Moniker(due, [e["path"] for e in entries],
                                       sum(e["rows"] for e in entries),
                                       sum(e["bytes"] for e in entries), late_ms))
        gen_done.set()

    def bookkeeper() -> None:
        while not all_done.is_set():
            with bk_lock:
                t0 = time.perf_counter()
                m = bk.run_once()
                ms = (time.perf_counter() - t0) * 1000.0
            if m["monikers"]:
                ph.commits.append({"ms": ms, "files": m["files"], "end": time.perf_counter()})
            else:
                time.sleep(0.005)

    def tail() -> None:
        cursor = start_cursor
        last_progress = last_check = time.perf_counter()
        while not all_done.is_set():
            entries, new_cursor = tbl.incremental_entries(cursor)
            now = time.perf_counter()
            for e in entries:
                ph.seen[e["path"]] += 1
                ph.first_seen.setdefault(e["path"], now)
                ph.seen_rows += int(e["rows"])
            if new_cursor != cursor or entries:
                last_progress = now
            elif now - last_progress > 1.0 and now - last_check > 1.0:
                last_check = now
                # incremental_entries answers ([], cursor) forever once
                # its cursor snapshot is expired: name that, never hang
                if cursor not in {s.snapshot_id for s in tbl.metadata.snapshots}:
                    return fail(f"tail reader stalled: cursor snapshot {cursor} was expired")
                if now - last_progress > size.stall_timeout_s and not gen_done.is_set():
                    return fail(f"tail reader stalled: no new snapshot for "
                                f"{size.stall_timeout_s:.0f} s")
            cursor = new_cursor
            time.sleep(0.02)

    def reap() -> None:
        # on the schedule's clock, half a period in, and never in the
        # drain: every run of the phase then reaps the same number of times
        for k in range(int(seconds / size.reaper_every_s)):
            due = ph.t_start + (k + 0.5) * size.reaper_every_s
            if all_done.wait(max(0.0, due - time.perf_counter())):
                return
            t0 = time.perf_counter()
            r = reaper.run_once()
            ph.reaps.append({"ms": (time.perf_counter() - t0) * 1000.0, **r})

    def guarded(fn, name):
        def body():
            try:
                fn()
            except Exception as e:  # a dead role fails the run, loudly
                fail(f"{name} thread failed: {type(e).__name__}: {e}")
        return threading.Thread(target=body, name=name)

    threads = [guarded(f, n) for f, n in ((generator, "generator"), (bookkeeper, "bookkeeper"),
                                          (tail, "tail"), (reap, "reaper"))]
    for t in threads:
        t.start()
    gen_done.wait()
    deadline = time.perf_counter() + size.drain_timeout_s
    expected = {p for m in ph.monikers for p in m.paths}
    while not expected <= ph.first_seen.keys() and not all_done.is_set():
        if time.perf_counter() > deadline:
            fail(f"drain timeout: {len(expected - ph.first_seen.keys())} files not "
                 f"visible after {size.drain_timeout_s:.0f} s")
        time.sleep(0.02)
    all_done.set()
    for t in threads:
        t.join()
    return ph


def run(work: str, seed: int, seconds: float, tracer: Tracer | None,
        size: IngestSize = IngestSize(), inject: str | None = None) -> dict:
    # a traced run loads each of two set-up tables once, so both phases
    # start from the same table state (the second phase on the first
    # phase's table would find its snapshots old enough to reap)
    tables, setup_times = _setup(work, seed, size)
    modes = (False, True) if tracer is not None else (False,)
    for g in tables[len(modes):]:
        shutil.rmtree(os.path.dirname(g.root), ignore_errors=True)
    phases = []
    for g, traced in zip(tables, modes):
        if tracer is not None:
            tracer.recording = traced
        phases.append(_load(g.table, seed + len(phases), seconds, size, inject, tracer))
        if tracer is not None:
            tracer.recording = False
    tbl = tables[len(modes) - 1].table

    # ---------- correctness ----------
    attempted = failed = 0
    reason = None
    for g, ph in zip(tables, phases):
        current = Counter(e["path"] for e in g.table.current_files())
        for m in ph.monikers:
            attempted += 1
            if all(current[p] == 1 and ph.seen[p] == 1 for p in m.paths):
                ph.fresh_ms.append((max(ph.first_seen[p] for p in m.paths) - m.due) * 1000.0)
            else:
                failed += 1
        rows_ok = ph.seen_rows == grown.ROWS_PER_FILE * sum(ph.seen.values()) and all(
            m.rows == grown.ROWS_PER_FILE * len(m.paths) for m in ph.monikers
        )
        reason = reason or ph.failure or (None if rows_ok else "row count mismatch")
    if reason is not None:
        failed = max(failed, 1)
    first = phases[0]
    visible = sorted(first.first_seen[p] for m in first.monikers for p in m.paths
                     if p in first.first_seen)
    result = {
        "attempted": attempted,
        "failed": failed,
        "correct": failed == 0,
        "reason": reason,
        "setup_s": median(setup_times),
        "op_ms": first.fresh_ms,
        "files_per_s": len(visible) / (visible[-1] - first.t_start) if visible else 0.0,
        "phases": phases,
        "end_state": _end_state(tbl),
    }
    for g in tables[: len(modes)]:
        shutil.rmtree(os.path.dirname(g.root), ignore_errors=True)
    return result


def layer_metrics(res: dict, tracer: Tracer) -> dict:
    """Per-layer numbers for the ingest roles, from the traced phase."""
    untraced, traced = res["phases"]
    kids = tracer.children()
    runs = [s for s in tracer.named("bookkeeper.run_once")
            if any(c.name == "table.append_entries" for c in kids.get(s.sid, []))]
    per_commit = {"format.load_metadata": [], "format.read_manifest": [],
                  "format.try_commit_version": []}
    written = added = 0
    unaccounted = 0
    for r in runs:
        desc = descendants(r, kids)
        for name, counts in per_commit.items():
            counts.append(sum(1 for d in desc if d.name == name))
        written += sum(d.attrs.get("entries", 0) for d in desc if d.name == "format.write_manifest")
        added += sum(d.attrs.get("added", 0) for d in desc if d.name == "table.append_entries")
        # list_pending, the moniker reads, append_entries and the
        # moniker deletes, each timed on its own, must account for the
        # commit as the benchmark timed it around run_once
        outer = next((c["ms"] for c in traced.commits if abs(c["end"] - r.end) < 0.05), r.ms)
        parts = sum(c.ms for c in kids.get(r.sid, []))
        unaccounted += int(abs(outer - parts) > 0.10 * outer)
    creates = tracer.named("writer.create_data_files")
    monikers = traced.monikers
    return {
        "writer.file_ms_p50": median([s.ms / s.attrs["files"] for s in creates]),
        "writer.moniker_ms_p50": median([s.ms for s in tracer.named("writer.write_pending_commit")]),
        "writer.bytes_per_file": sum(m.bytes for m in monikers) / max(1, sum(len(m.paths) for m in monikers)),
        "gen.late_ms_p99": pct([m.late_ms for m in monikers], 99),
        "ingest.freshness_ms_p50": pct(untraced.fresh_ms, 50),
        "ingest.freshness_ms_p99": pct(untraced.fresh_ms, 99),
        "ingest.files_per_s": res["files_per_s"],
        "bookkeeper.commit_ms_p50": median([c["ms"] for c in untraced.commits]),
        "bookkeeper.list_ms_p50": median([s.ms for s in tracer.named("bookkeeper.list_pending")]),
        "bookkeeper.read_ms_p50": median([s.ms for s in tracer.named("bookkeeper.read_monikers")]),
        "bookkeeper.delete_ms_p50": median([s.ms for s in tracer.named("bookkeeper.delete_monikers")]),
        "bookkeeper.self_ms_p50": median([self_ms(r, kids) for r in runs]),
        "bookkeeper.batch_files_p50": median([c["files"] for c in traced.commits]),
        "bookkeeper.backlog_files_max": max([c["files"] for c in traced.commits], default=0),
        "reaper.run_ms_p50": median([r["ms"] for r in traced.reaps]),
        "reaper.snapshots_expired": sum(r.get("expired_snapshots", 0) for r in traced.reaps),
        "reaper.files_deleted": sum(r.get("deleted_files", 0) + r.get("deleted_manifests", 0)
                                    for r in traced.reaps),
        "table.append_entries_ms_p50": median([s.ms for s in tracer.named("table.append_entries")]),
        "table.incremental_entries_ms_p50": median([s.ms for s in tracer.named("table.incremental_entries")]),
        "table.expire_snapshots_ms_p50": median([s.ms for s in tracer.named("table.expire_snapshots")]),
        "format.load_metadata_per_commit": mean(per_commit["format.load_metadata"]),
        "format.load_metadata_ms_p50": median([s.ms for s in tracer.named("format.load_metadata")]),
        "format.manifests_read_per_commit": mean(per_commit["format.read_manifest"]),
        "format.entries_written_per_added_entry": written / added if added else 0.0,
        "format.commit_attempts_per_commit": mean(per_commit["format.try_commit_version"]),
        **res["end_state"],
        "trace.overhead_pct": overhead_pct(traced.fresh_ms, untraced.fresh_ms),
        "trace.unaccounted_ops": unaccounted,
    }


def _end_state(tbl) -> dict:
    """Size of the current metadata file and manifest count of the
    current snapshot, at the end of the run."""
    from java_iceberg_table_spark.table import format as fmt

    version = fmt.current_version(tbl.root)
    snap = tbl.metadata.current_snapshot()
    return {
        "format.metadata_bytes": os.path.getsize(
            os.path.join(tbl.root, "metadata", f"v{version}.json")
        ),
        "format.manifests_per_snapshot": len(snap.manifests) if snap else 0,
    }
