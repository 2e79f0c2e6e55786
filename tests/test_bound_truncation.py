"""String and binary column bounds are stored truncated to 16 code
points (Iceberg's ``truncate(16)`` metrics mode): the lower bound is
the prefix, the upper bound the bumped prefix, and a prefix with no
bump drops both bounds. These tests check the one truncation helper,
that the Parquet and Avro writers store identical bounds, that
metadata-only imports still derive partitions from exact values, and
that no pruning path drops a file holding a matching row."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import BinaryType, StringType, StructField, StructType

from java_iceberg_table_spark.sources.avro_io import arrow_stats
from java_iceberg_table_spark.table import bucket, create_table
from java_iceberg_table_spark.table.stats import (
    TRUNCATE_LENGTH,
    _plain,
    _prefix_upper,
    bounds,
    file_stats,
)
from java_iceberg_table_spark.table.table import (
    Table,
    _key_bound_candidates,
    prune_entries_by_keys,
)
from java_iceberg_table_spark.table.transforms import _crc_bucket

TOP = chr(0x10FFFF)
P = "p" * 15  # a shared 15-char stem puts the interesting differences at char 16/17

# one file per value set; every value is longer than the bound length
# except where a short value sits next to long ones on purpose
STRING_FILES = [
    [P + "a" + "x" * 10, P + "a" + "y" * 10],  # same 16-char prefix
    [P + "b" + "x" * 10, P + "c"],  # short max, long min
    [P + "c" + "z" * 5, P + "d" + TOP * 8],
    [P + TOP + "q" * 4, P + TOP + "r" * 4],  # upper bumps the 15th char
    [TOP * 20 + "a", TOP * 20 + "b"],  # no bump exists: bounds dropped
    ["a" + TOP * 19, "a" + TOP * 19 + "z"],  # upper bumps to "b"
    ["short", "shorter"],  # untouched
]
BINARY_FILES = [
    [b"\xff" * 12 + b"\x00", b"\xff" * 12 + b"\x01"],  # hex rendering
    [b"\xfe" + b"\x00" * 20, b"\xfe" + b"\x10" * 20],
    [(P + "a" + "x" * 10).encode(), (P + "b").encode()],  # utf-8 rendering
]


def test_bounds_truncates_strings_and_binary_only():
    lo, hi = bounds("a" * 20, "b" * 20)
    assert (lo, hi) == ("a" * 16, "b" * 15 + "c")
    assert bounds("abc", "abd") == ("abc", "abd")
    assert bounds(b"\xff" * 10, b"\xff" * 10) == ("f" * 16, "f" * 15 + "g")
    assert bounds(TOP * 20, TOP * 20) == (None, None)
    assert bounds("a" + TOP * 20, "a" + TOP * 20) == ("a" + TOP * 15, "b")
    # non-string values pass through _plain untouched (a temporal bound
    # renders as a string longer than 16 chars but is never truncated)
    import datetime as dt

    ts = dt.datetime(2024, 1, 1, 12, 30, 45, 123456)
    assert bounds(ts, ts) == (ts.isoformat(), ts.isoformat())
    assert bounds(1, 2) == (1, 2)


def test_prefix_upper_skips_surrogates():
    assert _prefix_upper("a" + chr(0xD7FF)) == "a" + chr(0xE000)
    assert _prefix_upper("ab") == "ac"
    assert _prefix_upper(TOP) is None


def _write(path: str, col: str, values, typ) -> str:
    pq.write_table(pa.table({col: pa.array(values, type=typ)}), path)
    return path


def test_parquet_and_avro_store_identical_bounds(tmp_path):
    for i, vals in enumerate(STRING_FILES):
        t = pa.table({"s": pa.array(vals, pa.string())})
        p = str(tmp_path / f"s{i}.parquet")
        pq.write_table(t, p)
        assert file_stats(p)["columns"]["s"] == arrow_stats(t, 0)["columns"]["s"]
    for i, vals in enumerate(BINARY_FILES):
        t = pa.table({"b": pa.array(vals, pa.binary())})
        p = str(tmp_path / f"b{i}.parquet")
        pq.write_table(t, p)
        got = file_stats(p)["columns"]["b"]
        assert got == arrow_stats(t, 0)["columns"]["b"]
        assert len(got["min"]) <= TRUNCATE_LENGTH and len(got["max"]) <= TRUNCATE_LENGTH


def test_file_stats_exact_keeps_full_values(tmp_path):
    p = _write(str(tmp_path / "f.parquet"), "s", ["x" * 40, "y" * 40], pa.string())
    assert file_stats(p, exact=True)["columns"]["s"]["max"] == "y" * 40
    assert file_stats(p)["columns"]["s"]["max"] == "y" * 15 + "z"


def test_add_files_bucket_string_long_values(tmp_path):
    """A bucket(string) import derives its partition from the EXACT
    footer value: the truncated bounds of a single-valued 40-char
    column differ, and would be refused as spanning buckets."""
    schema = StructType([StructField("s", StringType(), False)])
    tbl = create_table(str(tmp_path / "t"), schema, partition=bucket("s", 4))
    val = "k" * 40
    src = _write(str(tmp_path / "one.parquet"), "s", [val] * 3, pa.string())
    tbl.add_files([src])
    (e,) = tbl.current_files()
    assert e["partition"] == _crc_bucket(val, 4)
    assert e["columns"]["s"] == {"min": "k" * 16, "max": "k" * 15 + "l", "nulls": 0}
    assert len(tbl.plan_files([("s", "=", val)])) == 1
    # two values sharing their first 16 chars still span buckets
    two = _write(
        str(tmp_path / "two.parquet"), "s", ["k" * 40, "k" * 39 + "m"], pa.string()
    )
    with pytest.raises(ValueError, match="spans partition buckets"):
        tbl.add_files([two])


# ------------------------------------------------------- pruning safety


def _probe_values(files) -> list[str]:
    """Predicate values around every row value and its truncation
    points: the value itself, its 15/16/17-char prefixes, the prefix
    bumped, and the prefix followed by U+10FFFF."""
    out = set()
    for vals in files:
        for v in vals:
            r = _plain(v)
            out.add(r)
            for n in (TRUNCATE_LENGTH - 1, TRUNCATE_LENGTH, TRUNCATE_LENGTH + 1):
                out.add(r[:n])
                out.add(r[:n] + TOP)
                up = _prefix_upper(r[:n])
                if up is not None:
                    out.add(up)
    return sorted(out)


def _truth(rows: list[str], op: str, val) -> bool:
    if op == "=":
        return val in rows
    if op == "<":
        return any(r < val for r in rows)
    if op == "<=":
        return any(r <= val for r in rows)
    if op == ">":
        return any(r > val for r in rows)
    if op == ">=":
        return any(r >= val for r in rows)
    if op == "in":
        return any(r in val for r in rows)
    if op == "like_prefix":
        return any(r.startswith(val) for r in rows)
    raise AssertionError(op)


def _all_rows(rows: list[str], op: str, val) -> bool:
    return all(_truth([r], op, val) for r in rows)


def _imported_table(tmp_path, col, files, typ, spark_type):
    """A table importing one parquet file per value set, and each
    entry's row values in their stats rendering."""
    schema = StructType([StructField(col, spark_type, False)])
    tbl = create_table(str(tmp_path / "t"), schema)
    srcs = [
        _write(str(tmp_path / f"{i}-src.parquet"), col, vals, typ)
        for i, vals in enumerate(files)
    ]
    tbl.add_files(srcs)
    rows_of = {}
    for e in tbl.current_files():
        i = int(os.path.basename(e["path"]).split("-")[0])
        rows_of[e["path"]] = [_plain(v) for v in files[i]]
    return tbl, rows_of


def _predicates(probes):
    preds = [
        (op, v) for v in probes for op in ("=", "<", "<=", ">", ">=", "like_prefix")
    ]
    preds += [("in", tuple(probes[i : i + 3])) for i in range(0, len(probes), 3)]
    return preds


@pytest.mark.parametrize(
    "col,files,typ,spark_type",
    [
        ("s", STRING_FILES, pa.string(), StringType()),
        ("b", BINARY_FILES, pa.binary(), BinaryType()),
    ],
)
def test_pruning_never_drops_a_matching_file(tmp_path, col, files, typ, spark_type):
    tbl, rows_of = _imported_table(tmp_path, col, files, typ, spark_type)
    entries = tbl.current_files()
    assert any(len(str(e["columns"][col]["min"])) == TRUNCATE_LENGTH for e in entries)
    if col == "s":  # the all-U+10FFFF prefix stored no bounds
        assert any(e["columns"][col]["min"] is None for e in entries)
    probes = _probe_values(files)
    # _entry_may_match is the one evaluator of both planners
    for op, v in _predicates(probes):
        for e in entries:
            rows = rows_of[e["path"]]
            flt = (col, op, v)
            if _truth(rows, op, v):
                assert Table._entry_may_match(e, None, flt), (flt, rows)
            if Table._entry_certainly_matches(e, None, flt):
                assert _all_rows(rows, op, v), (flt, rows)
    for i in range(len(probes)):
        for j in range(i, min(i + 4, len(probes))):
            keys = probes[i : j + 1]
            kept = {e["path"] for e in prune_entries_by_keys(entries, col, keys)}
            lo, hi = keys[0], keys[-1]
            cands = {
                e["path"]
                for e in _key_bound_candidates(entries, {f"lo_{col}": lo, f"hi_{col}": hi}, [col])
            }
            for e in entries:
                rows = rows_of[e["path"]]
                if any(r in keys for r in rows):
                    assert e["path"] in kept, (keys, rows)
                if any(lo <= r <= hi for r in rows):
                    assert e["path"] in cands, (lo, hi, rows)


def test_certainly_matches_false_on_truncated_pair(spark, tmp_path):
    """A truncated pair never proves equality: a metadata-only delete
    of ``s = v`` must read the file, whose other rows differ from v
    only past the bound length."""
    vals = ["v" * 20, "v" * 20 + "w"]
    tbl, _ = _imported_table(tmp_path, "s", [vals], pa.string(), StringType())
    (e,) = tbl.current_files()
    assert e["columns"]["s"] == {"min": "v" * 16, "max": "v" * 15 + "w", "nulls": 0}
    for v in vals + ["v" * 16]:
        assert not Table._entry_certainly_matches(e, None, ("s", "=", v))
    assert not Table._entry_certainly_matches(e, None, ("s", "<=", "v" * 20))
    assert not Table._entry_certainly_matches(e, None, ("s", ">=", "v" * 20 + "w"))
    # the metadata-only count must scan the file, not count it whole
    got = tbl.count_rows(spark, [("s", "=", "v" * 20)])
    assert got == {"rows": 1, "metadata_files": 0, "scanned_files": 1}
