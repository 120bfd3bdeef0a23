"""fvecs / ivecs / bvecs vector-benchmark file readers (S1–S4).

Format (reference lantern_extras/src/dotvecs.rs:85-138): repeated records of
`[u32 dim little-endian][dim × element]` with element f32 (fvecs), i32 (ivecs)
or u8 (bvecs, widened to i16 — dotvecs.rs:69-78). Inconsistent dims are an
error (dotvecs.rs:131-136).

Spark design: files arrive through `binaryFile` (one task per file — the format
is self-describing per record, so intra-file splitting would need fixed-dim
assumptions; across files parallelism is natural). Each task numpy-parses its
blob in one shot. The reference's explicit `count` argument exists because
Postgres SRFs ignore LIMIT (dotvecs.rs:127-128 comment); in Spark `limit()` is
lazy, but `count` is still honored for parity.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
)

from lantern_extras_spark.session import local_frame

_ELEM = {
    "fvecs": (np.float32, FloatType()),
    "ivecs": (np.int32, IntegerType()),
    "bvecs": (np.uint8, ShortType()),
}


def parse_vecs_bytes(blob: bytes, kind: str, count: int | None = None) -> list[list]:
    """Parse one file's bytes; rejects inconsistent dims (dotvecs.rs:131-136)."""
    dtype, _ = _ELEM[kind]
    itemsize = np.dtype(dtype).itemsize
    out: list[list] = []
    off = 0
    first_dim: int | None = None
    n = len(blob)
    while off + 4 <= n and (count is None or len(out) < count):
        (dim,) = struct.unpack_from("<I", blob, off)
        if first_dim is None:
            first_dim = dim
        elif dim != first_dim:
            raise ValueError(f"inconsistent vector dims in {kind} file: {first_dim} vs {dim}")
        off += 4
        end = off + dim * itemsize
        if end > n:
            raise ValueError(f"truncated {kind} record at byte {off}")
        vec = np.frombuffer(blob, dtype=dtype, count=dim, offset=off)
        if kind == "bvecs":
            vec = vec.astype(np.int16)  # widen u8 → smallint (dotvecs.rs:69-78)
        out.append(vec.tolist())
        off = end
    return out


def _read(spark: SparkSession, path: str, kind: str, count: int | None) -> DataFrame:
    _, spark_type = _ELEM[kind]
    out_schema = StructType(
        [
            StructField("path", StringType()),
            StructField("row_id", LongType()),
            StructField("vector", ArrayType(spark_type, False)),
        ]
    )
    binary = spark.read.format("binaryFile").load(path).select("path", "content")

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                vecs = parse_vecs_bytes(row["content"], kind, count)
                yield pd.DataFrame(
                    {
                        "path": [row["path"]] * len(vecs),
                        "row_id": range(len(vecs)),
                        "vector": vecs,
                    }
                )

    df = binary.mapInPandas(parse, out_schema)
    return df.limit(count) if count is not None else df


def read_fvecs(spark: SparkSession, path: str, count: int | None = None) -> DataFrame:
    """S1 `parse_fvecs(path, count)` → (path, row_id, vector array<float>)."""
    return _read(spark, path, "fvecs", count)


def read_ivecs(spark: SparkSession, path: str, count: int | None = None) -> DataFrame:
    """S2 `parse_ivecs` → array<int>."""
    return _read(spark, path, "ivecs", count)


def read_bvecs(spark: SparkSession, path: str, count: int | None = None) -> DataFrame:
    """S3 `parse_bvecs` → array<smallint> (u8 widened)."""
    return _read(spark, path, "bvecs", count)


def write_fvecs(path: str, vectors: list[list[float]]) -> None:
    """Test helper: write an fvecs file in the reference format."""
    with open(path, "wb") as f:
        for v in vectors:
            f.write(struct.pack("<I", len(v)))
            f.write(np.asarray(v, dtype=np.float32).tobytes())


def get_vectors(
    spark: SparkSession,
    url: str,
    transport=None,
    count: int | None = None,
    max_bytes: int = 1 << 30,
) -> DataFrame:
    """S5 `get_vectors(gzippath)` (lantern_extras/src/dotvecs.rs:140-207) —
    download a gzipped (optionally tarred) vector-benchmark archive and parse
    every .fvecs/.ivecs/.bvecs member to rows (member, row_id, vector
    array<float>). The reference streams FTP, lists tar entries, and bails
    with "not implemented"; this completes the operation over http(s) through
    the same injected-transport pattern as media fetch (multimodal/media.py) —
    `transport(url, timeout_s, max_bytes) -> (status, body, redirect_url)`,
    loopback-tested, urllib for real clusters. `file://`-free by design (the
    transport rejects non-http(s) schemes).

    Driver-side by nature — one URL is one archive; vectors are then
    distributed via createDataFrame. For multi-file corpora already on shared
    storage use `read_fvecs` (binaryFile → one task per file) instead; this
    is the bootstrap path for pulling public benchmark sets (sift/gist).
    Mixed element kinds are unified to float for one stable schema."""
    import gzip
    import io
    import tarfile

    from lantern_extras_spark.multimodal.media import fetch_bytes, urllib_transport

    data, err = fetch_bytes(
        url, transport=transport or urllib_transport, max_bytes=max_bytes
    )
    if err is not None:
        raise IOError(f"get_vectors({url!r}): {err}")

    members: list[tuple[str, bytes]] = []
    blob = data
    if url.endswith(".gz") and not url.endswith(".tar.gz"):
        blob = gzip.decompress(blob)
        members.append((url.rsplit("/", 1)[-1][: -len(".gz")], blob))
    else:
        # .tar.gz / .tgz (tarfile handles the gzip layer itself)
        with tarfile.open(fileobj=io.BytesIO(blob), mode="r:*") as tar:
            for info in tar:
                if not info.isfile():
                    continue
                ext = info.name.rsplit(".", 1)[-1]
                if ext in _ELEM:
                    members.append((info.name, tar.extractfile(info).read()))
    members = [(n, p) for n, p in members if n.rsplit(".", 1)[-1] in _ELEM]
    if not members:
        raise ValueError(f"no .fvecs/.ivecs/.bvecs members found in {url!r}")

    rows = []
    remaining = count
    for name, payload in members:
        kind = name.rsplit(".", 1)[-1]
        vecs = parse_vecs_bytes(payload, kind, remaining)
        rows.extend(
            (name, i, [float(x) for x in v]) for i, v in enumerate(vecs)
        )
        if remaining is not None:
            remaining -= len(vecs)
            if remaining <= 0:
                break
    return local_frame(
        spark, rows, "member string, row_id long, vector array<float>"
    )


def read_jdbc_partitioned(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str,
    lower_bound: int,
    upper_bound: int,
    num_partitions: int = 32,
    **options: str,
) -> DataFrame:
    """S6/S8 — the reference's chunked portal scan / parallel range fetch
    (lantern_cli/src/embeddings/mod.rs:74-108, pq/codebook.rs:168-211) is, in
    Spark, a partitioned JDBC read: `num_partitions` concurrent range queries
    over the pk, exactly the reference's hand-rolled WHERE pk >= a AND pk < b
    fan-out. Requires a JDBC driver on the classpath (none in this container —
    untestable here, kept thin by design)."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("partitionColumn", partition_column)
        .option("lowerBound", str(lower_bound))
        .option("upperBound", str(upper_bound))
        .option("numPartitions", str(num_partitions))
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()
