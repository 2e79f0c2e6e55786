"""Per-file column statistics from Parquet footers.

The reference captures DataFile metrics at write time (Writer.java:107)
and recovers them from footers when it didn't write the file itself
(StorageQueueBasedBookkeeper.java:63-66, ParquetUtil.fileMetrics). This
module is the footer path: pyarrow reads only footer metadata — no data
pages — so stats collection is O(row groups), not O(rows).

String and binary bounds are stored truncated to ``TRUNCATE_LENGTH``
code points, as Iceberg's default ``truncate(16)`` metrics mode does:
a long payload column would otherwise put two full values into every
manifest entry, and every commit and plan re-reads them.
"""

from __future__ import annotations

import datetime as _dt
from typing import Any

import pyarrow.parquet as pq


def _plain(v: Any) -> Any:
    """JSON-safe representation of a footer min/max value. Temporal
    bounds render as NAIVE-UTC isoformat: pyarrow hands back tz-aware
    datetimes for UTC-adjusted int64 timestamps, and a '+00:00' suffix
    would break boundary equality against predicate/key renderings
    (naive '…T11:15:00' sorts BEFORE '…T11:15:00+00:00', so a key equal
    to a file's min would prune the file that holds it)."""
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return v.hex()
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    return v


TRUNCATE_LENGTH = 16


def _prefix_upper(pfx: str) -> str | None:
    """Smallest string greater than every string with prefix ``pfx``
    (bump the last bumpable code point); None when no such bound
    exists. Python str comparison is by code point, which matches
    parquet's UTF-8 byte ordering on the stats bounds. The bump skips
    the surrogate block: a lone surrogate has no UTF-8 encoding, so a
    bound holding one would not survive a JSON read by Spark, and no
    real value holds one."""
    for i in range(len(pfx) - 1, -1, -1):
        c = ord(pfx[i])
        if c < 0x10FFFF:
            return pfx[:i] + chr(0xE000 if c + 1 == 0xD800 else c + 1)
    return None


def bounds(mn: Any, mx: Any) -> tuple[Any, Any]:
    """JSON-safe (min, max) bounds of one column, as stored in manifest
    entries. String and binary bounds (``str`` or ``bytes`` values) are
    truncated to TRUNCATE_LENGTH code points of their plain form: the
    lower bound is the prefix, the upper bound the prefix bumped by
    ``_prefix_upper``. When no bump exists (a prefix made only of
    U+10FFFF) both bounds are dropped, as for NaN: absent stats mean
    the file is never pruned."""
    lo, hi = _plain(mn), _plain(mx)
    if not isinstance(mn, (str, bytes)):
        return lo, hi
    lo = lo[:TRUNCATE_LENGTH]
    if len(hi) > TRUNCATE_LENGTH:
        hi = _prefix_upper(hi[:TRUNCATE_LENGTH])
        if hi is None:
            return None, None
    return lo, hi


def file_stats(path: str, exact: bool = False) -> dict:
    """{rows, bytes, columns: {name: {min, max, nulls}}} for one file.

    Bounds go through ``bounds`` (string and binary truncation) unless
    ``exact``: a metadata-only import derives partition values from
    the untruncated footer values."""
    pf = pq.ParquetFile(path)
    md = pf.metadata
    cols: dict[str, dict] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            st = col.statistics
            if st is None:
                continue
            entry = cols.setdefault(name, {"min": None, "max": None, "nulls": 0})
            if st.has_min_max:
                # raw footer values; rendered once per column below,
                # so truncation never compares bumped bounds
                mn, mx = st.min, st.max
                # NaN poisons every bound comparison (NaN < x and
                # NaN > x are both False, so a NaN max silently prunes
                # files that DO match — Spark/DuckDB order NaN above
                # all values). A row group containing NaN gets no
                # usable bound: drop the column's stats entirely for
                # this file (absent stats = never pruned).
                if mn != mn or mx != mx:
                    entry["min"] = entry["max"] = None
                    entry["poisoned"] = True
                elif not entry.get("poisoned"):
                    if entry["min"] is None or mn < entry["min"]:
                        entry["min"] = mn
                    if entry["max"] is None or mx > entry["max"]:
                        entry["max"] = mx
            entry["nulls"] += st.null_count or 0
    import os

    for entry in cols.values():
        entry.pop("poisoned", None)  # build-time marker, not manifest data
        if entry["min"] is not None:
            mn, mx = entry["min"], entry["max"]
            entry["min"], entry["max"] = (
                (_plain(mn), _plain(mx)) if exact else bounds(mn, mx)
            )
    return {
        "rows": md.num_rows,
        "bytes": os.path.getsize(path),
        "columns": cols,
    }
