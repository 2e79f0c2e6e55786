"""Pure-Python Avro Object Container File writer/reader (R5).

The reference's data-file format is a table property toggle between
parquet and avro (Constants.java:16, Writer.java:92-96). spark-avro is
not available in this offline environment, so the avro side is a
from-scratch implementation of the PUBLIC Avro 1.x spec (binary
encoding + object container files, null codec) covering exactly the
primitive surface the engine writes:

    long / int / double / float / boolean / string / bytes /
    timestamp-micros (logical long), each optionally nullable
    (union ["null", T]).

Scale path: single-file encode/decode is driver-or-executor local;
``read_avro_df`` distributes decode across executors with Spark's
binaryFile source + mapInPandas (Arrow-batched), so an avro-backed
table scans in parallel like any other source — no collect, no
driver loop.
"""

from __future__ import annotations

import io
import json
import os
import struct
import uuid
from typing import Any, Iterator

MAGIC = b"Obj\x01"

# ---------------------------------------------------------------- encoding

def _write_long(buf: io.BytesIO, n: int) -> None:
    z = (n << 1) ^ (n >> 63)  # arithmetic shift keeps sign bits
    z &= (1 << 64) - 1
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            buf.write(bytes([b | 0x80]))
        else:
            buf.write(bytes([b]))
            return


def _read_long(buf: io.BufferedReader) -> int:
    shift = 0
    acc = 0
    while True:
        byte = buf.read(1)
        if not byte:
            raise EOFError("truncated varint")
        b = byte[0]
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1)  # zigzag decode


def _write_bytes(buf: io.BytesIO, b: bytes) -> None:
    _write_long(buf, len(b))
    buf.write(b)


def _read_bytes(buf: io.BufferedReader) -> bytes:
    n = _read_long(buf)
    out = buf.read(n)
    if len(out) != n:
        raise EOFError("truncated bytes")
    return out


# ------------------------------------------------------------- schema model

_PRIMITIVE_WRITERS = {
    "long": _write_long,
    "int": _write_long,
    "boolean": lambda buf, v: buf.write(b"\x01" if v else b"\x00"),
    "double": lambda buf, v: buf.write(struct.pack("<d", float(v))),
    "float": lambda buf, v: buf.write(struct.pack("<f", float(v))),
    "string": lambda buf, v: _write_bytes(buf, v.encode("utf-8")),
    "bytes": lambda buf, v: _write_bytes(buf, bytes(v)),
    "null": lambda buf, v: None,
}

_PRIMITIVE_READERS = {
    "long": _read_long,
    "int": _read_long,
    "boolean": lambda buf: buf.read(1) == b"\x01",
    "double": lambda buf: struct.unpack("<d", buf.read(8))[0],
    "float": lambda buf: struct.unpack("<f", buf.read(4))[0],
    "string": lambda buf: _read_bytes(buf).decode("utf-8"),
    "bytes": _read_bytes,
    "null": lambda buf: None,
}


def _type_name(t: Any) -> str:
    """Primitive name of a (possibly {"type": ..., "logicalType": ...})
    avro type node."""
    if isinstance(t, dict):
        return t["type"]
    return t


def _write_value(buf: io.BytesIO, t: Any, v: Any) -> None:
    if isinstance(t, list):  # union ["null", T]
        if v is None:
            _write_long(buf, t.index("null"))
            return
        branch = next(i for i, b in enumerate(t) if _type_name(b) != "null")
        _write_long(buf, branch)
        _write_value(buf, t[branch], v)
        return
    _PRIMITIVE_WRITERS[_type_name(t)](buf, v)


def _read_value(buf: io.BufferedReader, t: Any) -> Any:
    if isinstance(t, list):
        branch = t[_read_long(buf)]
        if _type_name(branch) == "null":
            return None
        return _read_value(buf, branch)
    return _PRIMITIVE_READERS[_type_name(t)](buf)


# Spark simpleString / arrow-ish name -> avro type node
_SPARK_TO_AVRO = {
    "bigint": "long",
    "long": "long",
    "int": "int",
    "integer": "int",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "string": "string",
    "binary": "bytes",
    "timestamp": {"type": "long", "logicalType": "timestamp-micros"},
    "timestamp_ntz": {"type": "long", "logicalType": "timestamp-micros"},
}

def avro_schema_of(spark_schema) -> dict:
    """Avro record schema for a Spark StructType (nullable -> union)."""
    fields = []
    for f in spark_schema.fields:
        st = f.dataType.simpleString()
        if st not in _SPARK_TO_AVRO:
            raise ValueError(f"unsupported type for avro data files: {st}")
        t: Any = _SPARK_TO_AVRO[st]
        if f.nullable:
            t = ["null", t]
        fields.append({"name": f.name, "type": t})
    return {"type": "record", "name": "row", "fields": fields}


def spark_schema_of(avro_schema: dict):
    """Spark StructType for an avro record schema (the reverse map)."""
    from pyspark.sql import types as T

    type_objs = {
        "long": T.LongType(),
        "int": T.IntegerType(),
        "double": T.DoubleType(),
        "float": T.FloatType(),
        "boolean": T.BooleanType(),
        "string": T.StringType(),
        "bytes": T.BinaryType(),
    }
    out = []
    for f in avro_schema["fields"]:
        t = f["type"]
        nullable = False
        if isinstance(t, list):
            nullable = "null" in t
            t = next(b for b in t if _type_name(b) != "null")
        if isinstance(t, dict) and t.get("logicalType") == "timestamp-micros":
            dt = T.TimestampType()
        else:
            dt = type_objs[_type_name(t)]
        out.append(T.StructField(f["name"], dt, nullable))
    return T.StructType(out)


# ----------------------------------------------------------- container file

def write_ocf(path: str, rows: list[dict], avro_schema: dict) -> None:
    """Write rows as a single-block Avro OCF (null codec). Timestamp
    values must arrive as integer microseconds (the writer's metadata
    plane already thinks in µs)."""
    sync = uuid.uuid4().bytes
    header = io.BytesIO()
    header.write(MAGIC)
    _write_long(header, 2)  # metadata map: one block of 2 entries
    _write_bytes(header, b"avro.schema")
    _write_bytes(header, json.dumps(avro_schema).encode("utf-8"))
    _write_bytes(header, b"avro.codec")
    _write_bytes(header, b"null")
    _write_long(header, 0)  # map terminator
    header.write(sync)

    block = io.BytesIO()
    ftypes = [(f["name"], f["type"]) for f in avro_schema["fields"]]
    for row in rows:
        for name, t in ftypes:
            _write_value(block, t, row[name])
    payload = block.getvalue()

    body = io.BytesIO()
    _write_long(body, len(rows))
    _write_long(body, len(payload))
    body.write(payload)
    body.write(sync)

    tmp = f"{path}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "wb") as f:
        f.write(header.getvalue())
        if rows:
            f.write(body.getvalue())
    os.rename(tmp, path)


def read_ocf(source: str | bytes) -> tuple[dict, list[dict]]:
    """Read an Avro OCF (null codec): (avro_schema, rows)."""
    raw = source if isinstance(source, bytes) else open(source, "rb").read()
    buf = io.BytesIO(raw)
    if buf.read(4) != MAGIC:
        raise ValueError("not an Avro object container file")
    meta: dict[bytes, bytes] = {}
    while True:
        n = _read_long(buf)
        if n == 0:
            break
        if n < 0:  # negative block count: abs count + byte size follows
            n = -n
            _read_long(buf)
        for _ in range(n):
            k = _read_bytes(buf)
            meta[k] = _read_bytes(buf)
    codec = meta.get(b"avro.codec", b"null")
    if codec not in (b"null",):
        raise ValueError(f"unsupported avro codec {codec!r}")
    schema = json.loads(meta[b"avro.schema"].decode("utf-8"))
    sync = buf.read(16)
    ftypes = [(f["name"], f["type"]) for f in schema["fields"]]
    rows: list[dict] = []
    while True:
        probe = buf.read(1)
        if not probe:
            break
        buf.seek(-1, io.SEEK_CUR)
        count = _read_long(buf)
        _read_long(buf)  # block byte size (unused with null codec)
        for _ in range(count):
            rows.append({name: _read_value(buf, t) for name, t in ftypes})
        if buf.read(16) != sync:
            raise ValueError("avro block sync marker mismatch")
    return schema, rows


# ------------------------------------------------------------ write stats

def arrow_stats(records, file_bytes: int) -> dict:
    """{rows, bytes, columns:{name:{min,max,nulls}}} computed from the
    in-memory Arrow batch — the write-time-metrics path for formats
    without a parquet footer (Writer.java:107 semantics). Values use
    the same JSON-safe representation and string/binary truncation as
    table/stats.file_stats (``stats.bounds``)."""
    import pyarrow.compute as pc

    from ..table.stats import bounds

    import pyarrow as pa

    cols: dict[str, dict] = {}
    for name in records.column_names:
        col = records.column(name)
        entry = {"min": None, "max": None, "nulls": col.null_count}
        try:
            # a float column CONTAINING NaN keeps no bound: Arrow's
            # min_max (like pyarrow's parquet writer) skips NaN, so the
            # returned bounds look clean while Spark/DuckDB order NaN
            # ABOVE every value — a clean max would silently prune
            # files whose NaN rows match (checking the bounds for NaN
            # is not enough; the presence check is the real guard)
            if pa.types.is_floating(col.type) and pc.any(
                pc.is_nan(col)
            ).as_py():
                cols[name] = entry
                continue
            mm = pc.min_max(col)
            mn, mx = mm["min"].as_py(), mm["max"].as_py()
            if not (mn != mn or mx != mx):
                entry["min"], entry["max"] = bounds(mn, mx)
        except Exception:
            pass  # stats are optional; pruning treats missing as "keep"
        cols[name] = entry
    return {"rows": records.num_rows, "bytes": file_bytes, "columns": cols}


# ------------------------------------------------------ distributed write

def _avro_records(g: "pd.DataFrame", ts_cols, int_cols) -> list[dict]:
    """pandas frame -> encoder-safe avro records: integer columns go
    through nullable Int64 so nulls never leak as float NaN into the
    varint encoder (and values stay integral), timestamps become
    None-masked integer µs. Shared by both distributed sinks."""
    import pandas as pd

    g = g.copy()
    for c in int_cols:
        g[c] = g[c].astype("Int64")
    for c in ts_cols:  # datetime64 -> integer µs (writer's unit)
        iv = pd.Series(
            g[c].values.view("int64") // 1000, index=g.index, dtype="object"
        )
        iv[g[c].isna().values] = None
        g[c] = iv
    # NOTE: float NaN collapses to None here — numpy float64 is both
    # the NaN carrier and pandas' missing marker, and Spark's
    # arrow->pandas hand-off already conflates a float NULL with NaN,
    # so the distinction is unrecoverable at this boundary. The avro
    # format toggle therefore stores NaN as NULL; stats, pruning, and
    # scans all agree on that interpretation (no silent divergence).
    return g.astype(object).where(pd.notnull(g), None).to_dict("records")


def _ts_int_cols(fields):
    ts = [f.name for f in fields if f.dataType.simpleString().startswith("timestamp")]
    ints = [
        f.name
        for f in fields
        if f.dataType.simpleString() in ("tinyint", "smallint", "int", "bigint")
    ]
    return ts, ints


def write_avro_df(df, out_dir: str, prefix: str = "part") -> list[str]:
    """Distributed Avro OCF sink: each partition encodes and writes its
    own container file ON THE EXECUTOR (mapInPandas), so data never
    crosses the driver — the write-side mirror of read_avro_df. Only
    the written file manifest (path, n_rows) returns to the driver,
    metadata-scale like any commit. ``out_dir`` must be storage every
    executor can reach (local FS here; object store in production).
    Returns the written paths."""
    import pandas as pd

    avro = avro_schema_of(df.schema)
    ts_cols, int_cols = _ts_int_cols(df.schema.fields)
    os.makedirs(out_dir, exist_ok=True)

    def encode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        rows: list[dict] = []
        for pdf in batches:
            rows.extend(_avro_records(pdf, ts_cols, int_cols))
        if rows:
            p = os.path.join(out_dir, f"{prefix}-{uuid.uuid4().hex}.avro")
            write_ocf(p, rows, avro)
            yield pd.DataFrame({"path": [p], "n_rows": [len(rows)]})

    manifest = df.mapInPandas(encode, schema="path string, n_rows long").collect()
    return [r["path"] for r in manifest]


def write_avro_manifest_df(
    df,
    out_dir: str,
    prefix: str = "part",
    bucket_col: str | None = None,
    max_records: int | None = None,
) -> list[dict]:
    """Distributed stats-carrying Avro sink for the table layer: each
    task encodes its rows (grouped by ``bucket_col`` when the table is
    partitioned) into OCF container files EXECUTOR-SIDE and returns one
    manifest row per file — path, rows, bytes, per-column min/max/null
    stats computed from the in-memory Arrow batch. The write-side
    counterpart of Table._write_data_files' parquet footer-stats loop,
    with no post-write file re-read; only the metadata-scale manifest
    returns to the driver. Timestamps are stored (and their stats
    recorded) as integer µs, matching the ingest writer (R5)."""
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql import types as T

    fields = [f for f in df.schema.fields if f.name != bucket_col]
    data_schema = T.StructType(fields)
    avro = avro_schema_of(data_schema)
    ts_cols, int_cols = _ts_int_cols(fields)
    names = [f.name for f in fields]

    def encode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        chunks = [p for p in batches if len(p)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        groups = (
            [(None, pdf)] if bucket_col is None else list(pdf.groupby(bucket_col))
        )
        out_rows = []
        for bucket, g0 in groups:
            g0 = g0[names]
            spans = (
                [(0, len(g0))]
                if not max_records
                else [
                    (i, min(i + max_records, len(g0)))
                    for i in range(0, len(g0), max_records)
                ]
            )
            for lo_i, hi_i in spans:
                g = g0.iloc[lo_i:hi_i].copy()
                # nullable-int columns arrive as float64 when they hold
                # NaN; Int64 keeps values integral and nulls as <NA> so
                # both the stats and the OCF records stay int-typed
                for c in int_cols:
                    g[c] = g[c].astype("Int64")
                # stats are computed from the frame BEFORE the ts->µs
                # conversion so timestamp min/max record ISO strings,
                # matching the parquet footer path (_plain) — pruning
                # on a mixed-format table compares like with like
                arrow = pa.Table.from_pandas(g, preserve_index=False)
                recs = _avro_records(g, ts_cols, int_cols=[])
                sub = f"__pb={int(bucket)}" if bucket_col is not None else ""
                dir_ = os.path.join(out_dir, sub) if sub else out_dir
                os.makedirs(dir_, exist_ok=True)
                p = os.path.join(dir_, f"{prefix}-{uuid.uuid4().hex}.avro")
                write_ocf(p, recs, avro)
                st = arrow_stats(arrow, os.path.getsize(p))
                out_rows.append(
                    {
                        "path": p,
                        "rows": st["rows"],
                        "bytes": st["bytes"],
                        "stats": json.dumps(st["columns"]),
                        "bucket": int(bucket) if bucket_col is not None else None,
                    }
                )
        yield pd.DataFrame(out_rows)

    manifest = df.mapInPandas(
        encode, schema="path string, rows long, bytes long, stats string, bucket long"
    ).collect()
    return [
        {
            "path": r["path"],
            "rows": int(r["rows"]),
            "bytes": int(r["bytes"]),
            "columns": json.loads(r["stats"]),
            "bucket": None if r["bucket"] is None else int(r["bucket"]),
        }
        for r in manifest
    ]


# ------------------------------------------------------- distributed read

def read_avro_df(spark, paths: list[str], spark_schema=None, with_pos: bool = False):
    """Distributed Avro scan: binaryFile source -> mapInPandas decode.

    Each executor task decodes whole container files with the pure-
    Python reader above and emits Arrow batches — the decode fans out
    across the cluster with the file distribution, no driver loop.
    ``spark_schema`` defaults to the schema embedded in the first file.

    ``with_pos=True`` appends the MOR delete join keys the parquet
    reader gets from ``_metadata``: ``__file`` (the root-relative
    ``data/...`` path, same regex key as table._file_key_col) and
    ``__pos`` (0-based row position in container-file order — OCF
    decode order is file order, so positions are stable across scans).
    This is what lets merge-on-read deletes compose with the R5 avro
    format toggle: position deletes recorded against an avro file
    anti-join on exactly the keys a later avro scan reproduces."""
    import re

    import pandas as pd
    from pyspark.sql import types as T

    if spark_schema is None:
        schema_json, _ = read_ocf(paths[0])
        spark_schema = spark_schema_of(schema_json)
    ts_cols = {f.name for f in spark_schema.fields if f.dataType.simpleString().startswith("timestamp")}
    names = [f.name for f in spark_schema.fields]

    def decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            for i in range(len(pdf)):
                content = pdf["content"].iloc[i]
                file_schema, rows = read_ocf(bytes(content))
                out = pd.DataFrame(rows, columns=names)
                # fields the read schema asks for that this file's
                # vintage never wrote (schema evolution: renamed or
                # later-added columns) must be typed-null, not float
                # NaN — Arrow refuses NaN -> int casts
                present = {f["name"] for f in file_schema["fields"]}
                for c in set(names) - present:
                    out[c] = pd.Series([None] * len(out), dtype="object")
                for c in ts_cols:
                    out[c] = pd.to_datetime(out[c], unit="us")
                if with_pos:
                    # same anchoring as table._file_key_col: the LAST
                    # /data/ segment of the file URI
                    m = re.search(r"^.*/(data/.+)$", str(pdf["path"].iloc[i]))
                    out["__file"] = m.group(1) if m else str(pdf["path"].iloc[i])
                    out["__pos"] = pd.Series(range(len(out)), dtype="int64")
                yield out

    bin_df = spark.read.format("binaryFile").load(paths)
    if with_pos:
        out_schema = T.StructType(
            list(spark_schema.fields)
            + [
                T.StructField("__file", T.StringType()),
                T.StructField("__pos", T.LongType()),
            ]
        )
        return bin_df.select("path", "content").mapInPandas(decode, schema=out_schema)
    return bin_df.select("content").mapInPandas(decode, schema=spark_schema)
