"""Custom stateful streaming operators via applyInPandasWithState.

The flagship one is **streaming exact dedup**: drop any document whose content
hash was already seen in ANY earlier micro-batch. Classic training-data
ingestion guard — the batch dedup operators (operators/dedup.py) handle the
historical corpus; this handles the live feed with exactly-once state in the
checkpoint.

State design for scale: the state key IS the content hash, so state is
per-group a single boolean — Spark shards it by key hash across executors and
persists it in the checkpoint (RocksDB state store on a real cluster). Memory
per executor is O(distinct hashes / executors · ~bytes), the minimum any
exact-streaming-dedup can hold.
"""

from __future__ import annotations

import contextlib as _contextlib
from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType

from lantern_extras_spark.session import local_frame


def _read_store_or_none(sess, store_dir: str, columns: list[str] | None = None):
    """Read a cross-batch parquet store, returning None ONLY when the store
    legitimately doesn't exist yet (first batch: path absent, or directory
    present but holding no parquet footers → UNABLE_TO_INFER_SCHEMA).

    Any OTHER read failure — S3 hiccup, permission denial, corrupt footer —
    re-raises so the micro-batch fails and foreachBatch retries: silently
    routing a transient failure to the batch-only branch would skip
    cross-batch matching and admit duplicates into both output and store
    (ADVICE r7, medium)."""
    from pyspark.errors import AnalysisException

    try:
        store = sess.read.parquet(store_dir)
        if columns:
            store.select(*columns)  # schema check up-front, not at action time
        return store
    except AnalysisException as e:
        msg = f"{e.getCondition() or ''} {e}"
        if "PATH_NOT_FOUND" in msg or "UNABLE_TO_INFER_SCHEMA" in msg:
            return None
        raise


def dedup_stream(
    stream: DataFrame,
    text_col: str = "text",
    hash_col: str = "__content_hash",
) -> DataFrame:
    """Attach a content hash and drop duplicates across the stream's lifetime.

    Within a batch: keeps the first row per hash. Across batches: state in the
    checkpoint remembers every seen hash, so restarts don't re-admit dupes.
    Returns a streaming DataFrame with the original columns.
    """
    hashed = stream.withColumn(hash_col, F.md5(F.col(text_col)))
    out_schema = StructType(hashed.schema.fields)
    state_schema = StructType.fromDDL("seen boolean")
    cols = [f.name for f in hashed.schema.fields]

    def dedup_fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            return
        state.update((True,))
        for pdf in pdfs:
            if len(pdf) > 0:
                yield pdf.iloc[:1][cols]
                return

    deduped = (
        hashed.groupBy(hash_col)
        .applyInPandasWithState(
            dedup_fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return deduped.drop(hash_col) if hash_col.startswith("__") else deduped


def near_dedup_band_flags(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    band_bits: int = 8,
    max_hamming: int = 3,
    max_band_state: int = 64,
) -> DataFrame:
    """Streaming NEAR-dup guard, SimHash band stage: one output row per
    (doc × band) with `band_dup` = an earlier doc (any earlier batch via
    checkpoint state, or a lower-id doc in this batch) registered a simhash
    under this band key within `max_hamming` bits of this doc's.

    Semantics: a doc is a near-dup iff ANY of its bands flags (aggregate with
    `collapse_band_flags`, or let `start_near_dedup_stream` wire it via
    foreachBatch — two chained stateful ops aren't allowed in one stream).
    With `bits // band_bits > max_hamming` bands, a true near-dup pair always
    shares at least one identical band (pigeonhole), so banding loses no
    recall; the hamming VERIFY against the full simhashes stored in state is
    what makes the small per-band key space (2^band_bits) safe — a band-key
    collision between unrelated docs costs one popcount, never a false drop.

    Every incoming doc's simhash is registered (dropped docs included: a
    near-dup of a dropped doc duplicates whatever that doc duplicated, so
    registration is monotone and restart-safe), bounded to `max_band_state`
    simhashes per band key. State is sharded by (band_idx, band_key) hash and
    lives in the checkpoint (RocksDB on a real cluster).

    Chunking: applyInPandasWithState delivers a group's rows as MULTIPLE Arrow
    chunks with no global ordering, so the claimant election concatenates all
    chunks before sorting by id — the survivor is the global lowest id of the
    group regardless of chunk boundaries."""
    from lantern_extras_spark.operators.dedup import simhash_col

    n_bands = bits // band_bits
    withsim = stream.withColumn("__sim", simhash_col(F.col(text_col), bits))
    bands_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.shiftrightunsigned(F.col("__sim"), b * band_bits)
                .bitwiseAND(F.lit(2**band_bits - 1))
                .cast("long")
                .alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    exploded = (
        withsim.withColumn("__b", F.explode(bands_arr))
        .withColumn("band_idx", F.col("__b.band_idx"))
        .withColumn("band_key", F.col("__b.band_key"))
        .drop("__b")
    )
    out_schema = StructType(
        [f for f in exploded.schema.fields] + [StructType.fromDDL("band_dup boolean").fields[0]]
    )
    state_schema = StructType.fromDDL("sims array<bigint>")
    cols = [f.name for f in exploded.schema.fields]
    mask = (1 << 64) - 1

    def flag_fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        chunks = [pdf for pdf in pdfs if len(pdf) > 0]
        if not chunks:
            return
        # one group = one (band_idx, band_key); concat ALL chunks before
        # sorting so the claimant is the global min id, not per-chunk min
        pdf = (chunks[0] if len(chunks) == 1 else pd.concat(chunks)).sort_values(id_col)
        known: list[int] = [int(s) for s in state.get[0]] if state.exists else []
        dup = []
        for s in pdf["__sim"]:
            s = int(s)
            hit = any(bin((s ^ k) & mask).count("1") <= max_hamming for k in known)
            dup.append(hit)
            if len(known) < max_band_state:
                known.append(s)
        state.update((known,))
        out = pdf[cols].copy()
        out["band_dup"] = dup
        yield out

    return exploded.groupBy("band_idx", "band_key").applyInPandasWithState(
        flag_fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def collapse_band_flags(flags: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc × band) flags → surviving docs: keep a doc iff NO band was seen.
    Batch-side aggregation (call inside foreachBatch on a stream)."""
    keep_cols = [c for c in flags.columns if c not in ("band_idx", "band_key", "band_dup", "__sim")]
    agg = flags.groupBy(id_col).agg(
        F.max(F.col("band_dup").cast("int")).alias("__any_dup"),
        *[F.first(c).alias(c) for c in keep_cols if c != id_col],
    )
    return agg.where(F.col("__any_dup") == 0).select(*keep_cols)


def start_near_dedup_stream(
    spark,
    source_dir: str,
    source_schema,
    output_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    band_bits: int = 8,
    max_hamming: int = 3,
    available_now: bool = True,
    trigger_seconds: int = 10,
):
    """Wire the near-dup guard: stateful band flags → per-doc collapse in
    foreachBatch (streaming aggregation after a stateful op isn't allowed in
    append mode) → parquet. Exactly-once via the checkpoint."""
    stream = spark.readStream.schema(source_schema).parquet(source_dir)
    flags = near_dedup_band_flags(stream, text_col, id_col, bits, band_bits, max_hamming)

    def write_batch(bdf, epoch_id):
        collapse_band_flags(bdf, id_col).write.mode("append").parquet(output_dir)

    writer = flags.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    ).outputMode("append")
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def start_dedup_stream(
    spark,
    source_dir: str,
    source_schema,
    output_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    available_now: bool = True,
    trigger_seconds: int = 10,
):
    """Wire dedup_stream between a parquet directory source and sink."""
    stream = spark.readStream.schema(source_schema).parquet(source_dir)
    deduped = dedup_stream(stream, text_col)
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def ingest_dedup_batch(
    bdf,
    epoch_id: int,
    output_dir: str,
    store_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
) -> None:
    """One micro-batch of the incremental-ingest dedup loop — module-level so
    the idempotency contract is directly testable: re-running the SAME
    (batch, epoch_id) overwrites its own `epoch=N` partition directories in
    both sinks instead of appending duplicates, which is what upgrades
    foreachBatch's at-least-once to effectively exactly-once."""
    if bdf.isEmpty():
        return
    from lantern_extras_spark.operators.dedup import (
        minhash_dedup,
        minhash_dedup_incremental,
        minhash_signatures,
    )

    sess = bdf.sparkSession
    epoch = int(epoch_id)
    sigs = minhash_signatures(bdf, text_col, id_col, n_hashes).select(id_col, "sig").cache()
    # read through the session's Hadoop FS (works on HDFS/S3/DBFS/local
    # alike); ONLY a genuinely-missing store (first batch) routes to the
    # batch-only branch — transient read failures re-raise and retry
    store = _read_store_or_none(sess, store_dir, [id_col, "sig"])
    if store is not None:
        # a RETRY of this epoch already wrote its own epoch=N store rows —
        # excluding them (partition-pruned) keeps the retry from matching the
        # batch against itself and dropping every survivor
        if "epoch" in store.columns:
            store = store.where(F.col("epoch") != epoch)
        store = store.select(id_col, "sig")
    if store is not None:
        pairs = minhash_dedup_incremental(
            bdf, store, text_col, id_col, n_hashes, bands=bands,
            threshold=threshold, new_sigs=sigs, cap_corpus=False,
        )
    else:
        pairs = minhash_dedup(
            bdf, text_col, id_col, n_hashes, bands=bands,
            threshold=threshold, verify="signature",
        )
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    survivors = bdf.join(dropped, id_col, "left_anti")
    survivors.write.mode("overwrite").parquet(f"{output_dir}/epoch={epoch}")
    sigs.join(dropped, id_col, "left_anti").write.mode("overwrite").parquet(
        f"{store_dir}/epoch={epoch}"
    )
    sigs.unpersist()


def start_ingest_dedup_stream(
    spark,
    source_dir: str,
    source_schema,
    output_dir: str,
    checkpoint_dir: str,
    store_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    available_now: bool = True,
    trigger_seconds: int = 10,
):
    """The incremental-ingest loop (examples/incremental_ingest.py) as a
    Structured Streaming query: each micro-batch signs its docs once, matches
    them against the persisted MinHash signature store at `store_dir` (plus
    within-batch), writes the keep-first SURVIVORS to both `output_dir`
    (full rows) and the store (id, sig). The store is the only cross-batch
    state and lives as plain parquet, so a cluster restart resumes with zero
    reprocessing.

    Delivery: effectively exactly-once. foreachBatch itself is
    at-least-once, so both sinks write to epoch-keyed partition directories
    (`.../epoch=N/`) with mode=overwrite — a retried or restarted batch
    rewrites ITS OWN directory instead of appending duplicates. Readers see
    the extra `epoch` int partition column on `spark.read.parquet(dir)`.

    Scale posture is the batch operator's (minhash_dedup_incremental):
    corpus text is never re-read — each batch's work is its own signing plus
    a band-key equi-join against the store (`cap_corpus=False`: the store
    holds only keep-first survivors, so no per-batch corpus-wide bucket
    recount is paid). Store presence is detected by reading it through
    Spark's own Hadoop filesystem, so HDFS/S3/DBFS stores are found — not
    just driver-local paths.
    """
    stream = spark.readStream.schema(source_schema).parquet(source_dir)

    def write_batch(bdf, epoch_id):
        ingest_dedup_batch(
            bdf, epoch_id, output_dir, store_dir,
            text_col=text_col, id_col=id_col, n_hashes=n_hashes,
            bands=bands, threshold=threshold,
        )

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    ).outputMode("append")
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def ingest_semantic_batch(
    bdf,
    epoch_id: int,
    output_dir: str,
    store_dir: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> None:
    """One micro-batch of the EMBEDDING-side ingest dedup loop — the
    SemDeDup twin of `ingest_dedup_batch`, same idempotency contract:
    both sinks write epoch-keyed partition directories with overwrite, so a
    foreachBatch retry rewrites its own `epoch=N` instead of appending.

    The store holds (id, embedding, cell) survivors; `centroids` is the
    FIXED shared geometry (never refit per batch — cells must agree with
    the store's). A batch assigns its own cells, matches against store +
    within-batch via `semantic_dedup_incremental` (corpus-beats-batch
    winner), and appends surviving rows with their cells — so the store is
    readable as a cell-partitioned corpus for search and later batches.
    """
    if bdf.isEmpty():
        return
    from lantern_extras_spark.operators.dedup import semantic_dedup_incremental
    from lantern_extras_spark.operators.ivf import assign_cells

    sess = bdf.sparkSession
    epoch = int(epoch_id)
    batch = assign_cells(bdf.select(id_col, vec_col), centroids, vec_col=vec_col)
    batch = batch.cache()
    with _store_writer_lock(sess, store_dir, f"ingest_semantic_batch epoch {epoch}"):
        data_dir = _store_write_dir(sess, store_dir)
        store = _read_store_or_none(sess, data_dir, [id_col, vec_col, "cell"])
        if store is not None:
            if "epoch" in store.columns:
                store = store.where(F.col("epoch") != epoch)  # retry self-match guard
            store = store.select(id_col, vec_col, "cell")
        if store is not None:
            flagged = semantic_dedup_incremental(
                batch, store, centroids=centroids, threshold=threshold,
                id_col=id_col, vec_col=vec_col,
            )
        else:
            from lantern_extras_spark.operators.dedup import semantic_dedup

            flagged = semantic_dedup(
                batch, threshold=threshold, id_col=id_col, vec_col=vec_col,
            )
            flagged = flagged.withColumn("vs", F.lit("batch"))
        dropped = flagged.select(F.col("dup_id").alias(id_col)).distinct()
        survivors = batch.join(dropped, id_col, "left_anti")
        survivors.write.mode("overwrite").parquet(f"{output_dir}/epoch={epoch}")
        survivors.write.mode("overwrite").parquet(f"{data_dir}/epoch={epoch}")
    batch.unpersist()


def start_semantic_ingest_stream(
    spark,
    source_dir: str,
    source_schema,
    output_dir: str,
    checkpoint_dir: str,
    store_dir: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    available_now: bool = True,
    trigger_seconds: int = 10,
):
    """Structured-Streaming wrapper over `ingest_semantic_batch` — identical
    delivery/restart semantics to `start_ingest_dedup_stream` (epoch-keyed
    overwrite sinks, plain-parquet store as the only cross-batch state)."""
    stream = spark.readStream.schema(source_schema).parquet(source_dir)

    def write_batch(bdf, epoch_id):
        ingest_semantic_batch(
            bdf, epoch_id, output_dir, store_dir, centroids,
            id_col=id_col, vec_col=vec_col, threshold=threshold,
        )

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    ).outputMode("append")
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()

def semantic_store_drift(
    spark,
    store_dir: str,
    split_epoch: int,
    vec_col: str = "embedding",
):
    """Drift check for the incremental SemDeDup store — the trigger signal
    for `refresh_semantic_store` (r7 verdict item 6): the ingest loop pins
    its coarse centroids forever (cells must agree with the store's), so
    under embedding drift new batches land in cells fitted to an old
    distribution and cell-confined recall silently decays.

    Splits the store at `split_epoch` (old: epoch <= split, roughly what
    the current centroids were fitted on; new: epoch > split) and runs
    `versioning.embedding_drift`'s exact per-dimension moments across the
    split. Returns ONE row: (n_dims, max_abs_mean_delta, mean_abs_mean_delta,
    max_var_ratio) — compare max_abs_mean_delta against a tolerance sized to
    the embedding scale (e.g. 0.25·std) to decide a refresh.

    Scale: two narrow posexplode scans of the store + a dim-sized join —
    the same partitions×dim shuffle contract as `embedding_drift`.
    """
    from lantern_extras_spark.operators.versioning import embedding_drift

    store = spark.read.parquet(resolve_store_data_dir(spark, store_dir))
    if "epoch" not in store.columns:
        raise ValueError(
            f"store at {store_dir} has no epoch partition column — drift "
            "needs the ingest loop's epoch-keyed layout to split old vs new"
        )
    old = store.where(F.col("epoch") <= split_epoch)
    new = store.where(F.col("epoch") > split_epoch)
    d = embedding_drift(old, new, vec_col=vec_col)
    var_ratio = F.when(
        F.col("var_old") > 0, F.col("var_new") / F.col("var_old")
    ).otherwise(F.lit(1.0))
    return d.agg(
        F.count("*").cast("bigint").alias("n_dims"),
        F.max(F.abs(F.col("mean_delta"))).alias("max_abs_mean_delta"),
        F.avg(F.abs(F.col("mean_delta"))).alias("mean_abs_mean_delta"),
        F.max(var_ratio).alias("max_var_ratio"),
    )


def refresh_semantic_store(
    spark,
    store_dir: str,
    nlist: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    seed: int = 42,
    max_train_rows: int = 100_000,
) -> list[list[float]]:
    """Centroid refresh for the incremental SemDeDup store: read every
    accepted row, re-fit coarse centroids on the CURRENT distribution
    (`ivf.build_ivf`, `nlist=None` auto-scales ~2000 rows/cell), re-assign
    every row's cell, and atomically rewrite the store as a single
    consolidated `epoch=-1` partition (-1 is never a foreachBatch batch id,
    so the ingest loop's retry self-match guard `epoch != N` can never
    exclude refreshed corpus rows).

    Returns the NEW centroids — restart the ingest stream with them (the
    shared-geometry contract: batch cells must agree with store cells).
    The rewrite is the versioned `_CURRENT` pointer flip (same mechanism
    as `compact_hash_store`): re-assigned rows land in the NEXT version
    directory, the pointer flips atomically, and the previous version is
    retained one flip as reader grace — a concurrent store reader never
    sees an empty/partial store. Writers are serialized by the store
    writer lock (`StoreLockError` if an ingest is mid-flight).

    Wire `semantic_store_drift` as the trigger: refresh when
    max_abs_mean_delta exceeds the tolerance, not on a timer — re-fitting
    is one bounded-sample k-means plus ONE narrow re-assignment pass over
    the store, cheap enough to run whenever the monitor fires.
    """
    from lantern_extras_spark.operators.ivf import _auto_nlist, build_ivf

    with _store_writer_lock(spark, store_dir, "refresh_semantic_store"):
        data = resolve_store_data_dir(spark, store_dir)
        base = spark.read.parquet(data).select(id_col, vec_col)
        total = base.count()
        if total == 0:
            raise ValueError(f"store at {store_dir} is empty — nothing to refresh")
        if nlist is None:
            nlist = _auto_nlist(total)
        assigned, centroids = build_ivf(
            base, vec_col=vec_col, nlist=nlist, seed=seed, cell_col=cell_col,
            max_train_rows=max_train_rows, total_rows=total,
        )
        _publish_store_version(
            spark, store_dir, data,
            lambda p: assigned.write.mode("overwrite").parquet(p),
        )
    return centroids


def ingest_cms_batch(
    bdf,
    epoch_id: int,
    store_dir: str,
    text_col: str = "text",
    depth: int = 4,
    width: int = 2048,
) -> None:
    """One micro-batch of the streaming Count-Min loop: sketch THIS batch's
    token stream and write it as the epoch's own partition. CMS linearity is
    what makes the store trivially correct under foreachBatch's
    at-least-once delivery: a retry of epoch N overwrites epoch N's cells
    (never double-counts), and the corpus-total sketch is the cell-wise sum
    of all epoch partitions (`read_cms_store`). The store never exceeds
    depth*width rows per epoch regardless of batch size or vocabulary."""
    if bdf.isEmpty():
        return
    from lantern_extras_spark.functions.text import tokens
    from lantern_extras_spark.operators.sketches import cms_build

    toks = bdf.select(F.explode(tokens(F.col(text_col))).alias("__key"))
    sk = cms_build(toks, "__key", depth=depth, width=width)
    sk.write.mode("overwrite").parquet(f"{store_dir}/epoch={int(epoch_id)}")


def read_cms_store(spark, store_dir: str):
    """The corpus-total sketch: cell-wise sum across every epoch partition
    (CMS merge = addition). Output is at most depth*width rows — always
    broadcastable into `cms_estimate`."""
    return (
        spark.read.parquet(store_dir)
        .groupBy("r", "b")
        .agg(F.sum("c").alias("c"))
    )


def start_cms_ingest_stream(
    spark,
    source_dir: str,
    source_schema,
    checkpoint_dir: str,
    store_dir: str,
    text_col: str = "text",
    depth: int = 4,
    width: int = 2048,
    available_now: bool = True,
    trigger_seconds: int = 10,
):
    """Structured-Streaming wrapper over `ingest_cms_batch`: continuous
    corpus-frequency monitoring with bounded state (the classic CMS use —
    the daemon answers 'how often has this token/URL/id been seen so far'
    without ever holding the key space)."""
    stream = spark.readStream.schema(source_schema).parquet(source_dir)

    def write_batch(bdf, epoch_id):
        ingest_cms_batch(
            bdf, epoch_id, store_dir, text_col=text_col, depth=depth, width=width
        )

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    ).outputMode("append")
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def ingest_hll_batch(
    bdf,
    epoch_id: int,
    store_dir: str,
    key_col: str = "text",
    m: int = 512,
    tokenize: bool = True,
) -> None:
    """One micro-batch of the streaming distinct-count loop: HLL-sketch this
    batch's keys (token stream when `tokenize`, else the column values) into
    its own epoch partition. Register merge is MAX — idempotent, so a
    foreachBatch retry of epoch N is a no-op even WITHOUT the epoch
    isolation (which we keep anyway for uniformity with the CMS/dedup
    stores). The store never exceeds m rows per epoch."""
    if bdf.isEmpty():
        return
    from lantern_extras_spark.functions.text import tokens
    from lantern_extras_spark.operators.sketches import hll_build

    if tokenize:
        keys = bdf.select(F.explode(tokens(F.col(key_col))).alias("__key"))
    else:
        keys = bdf.select(F.col(key_col).cast("string").alias("__key"))
    sk = hll_build(keys, "__key", m=m)
    sk.write.mode("overwrite").parquet(f"{store_dir}/epoch={int(epoch_id)}")


def read_hll_store(spark, store_dir: str):
    """The corpus-total register table: register-wise MAX across every epoch
    partition. At most m rows — feed straight into `hll_estimate`."""
    return spark.read.parquet(store_dir).groupBy("b").agg(F.max("r").alias("r"))


def start_hll_ingest_stream(
    spark,
    source_dir: str,
    source_schema,
    checkpoint_dir: str,
    store_dir: str,
    key_col: str = "text",
    m: int = 512,
    tokenize: bool = True,
    available_now: bool = True,
    trigger_seconds: int = 10,
):
    """Structured-Streaming wrapper over `ingest_hll_batch`: continuous
    "how many distinct tokens/users/urls so far" with m registers of state —
    the mergeable companion to `start_cms_ingest_stream` ("how often")."""
    stream = spark.readStream.schema(source_schema).parquet(source_dir)

    def write_batch(bdf, epoch_id):
        ingest_hll_batch(
            bdf, epoch_id, store_dir, key_col=key_col, m=m, tokenize=tokenize
        )

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    ).outputMode("append")
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def ingest_bottomk_batch(
    bdf,
    epoch_id: int,
    store_dir: str,
    k: int = 4096,
    id_col: str = "doc_id",
    salt: str = "bks",
) -> None:
    """One micro-batch of the streaming uniform-sample loop: keep THIS
    batch's bottom-k rows (smallest hash32(salt:id)) as the epoch's own
    partition. Bottom-k of a union is the bottom-k of the whole, and the
    per-row hash is a pure function of the id, so a retried epoch rewrites
    identical rows — the merged store is exactly the sample a single batch
    job over all data would draw. Each epoch holds <= k rows."""
    if bdf.isEmpty():
        return
    from lantern_extras_spark.operators.sketches import bottomk_sample

    s = bottomk_sample(bdf, k=k, id_col=id_col, salt=salt)
    s.write.mode("overwrite").parquet(f"{store_dir}/epoch={int(epoch_id)}")


def read_bottomk_store(spark, store_dir: str, k: int = 4096, id_col: str = "doc_id"):
    """The corpus-total uniform sample: union every epoch partition, dedupe
    by id, keep the k smallest kept hashes. Reads <= k*epochs rows, returns
    <= k — feed straight into `bottomk_percentiles` or any estimator."""
    from lantern_extras_spark.operators.sketches import bottomk_merge

    return bottomk_merge(k, spark.read.parquet(store_dir), id_col=id_col)


def start_bottomk_ingest_stream(
    spark,
    source_dir: str,
    source_schema,
    checkpoint_dir: str,
    store_dir: str,
    k: int = 4096,
    id_col: str = "doc_id",
    salt: str = "bks",
    available_now: bool = True,
    trigger_seconds: int = 10,
):
    """Structured-Streaming wrapper over `ingest_bottomk_batch`: a live,
    always-current uniform sample of everything ingested so far (quantiles,
    means, spot-checks) with k rows of state per epoch — the row-level
    companion to the CMS (frequency) and HLL (distinct) ingest loops."""
    stream = spark.readStream.schema(source_schema).parquet(source_dir)

    def write_batch(bdf, epoch_id):
        ingest_bottomk_batch(bdf, epoch_id, store_dir, k=k, id_col=id_col, salt=salt)

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    ).outputMode("append")
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def ingest_dsir_batch(
    bdf,
    epoch_id: int,
    out_dir: str,
    raw_profile_dir: str,
    target_profile_dir: str,
    min_logw: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 8192,
    alpha: float = 1.0,
    include_bigrams: bool = True,
) -> None:
    """One micro-batch of the streaming DSIR filter: score this batch's docs
    against FIXED raw/target hashed-n-gram profiles (trained once with
    `selection.bucket_profile`, persisted as parquet) and keep docs with
    log-weight >= `min_logw` in the epoch's own partition. The
    train-once/score-many deployment of DSIR: the crawl stream is filtered
    toward the target domain as it arrives, no re-profiling per batch.
    Scores are a pure function of (doc, profiles), so an epoch retry
    rewrites identical rows (idempotent via the epoch overwrite)."""
    if bdf.isEmpty():
        return
    from lantern_extras_spark.operators.selection import dsir_log_weights

    spark = bdf.sparkSession
    raw_p = spark.read.parquet(raw_profile_dir)
    tgt_p = spark.read.parquet(target_profile_dir)
    scored = dsir_log_weights(
        bdf, text_col=text_col, id_col=id_col, buckets=buckets, alpha=alpha,
        include_bigrams=include_bigrams, raw_profile=raw_p, target_profile=tgt_p,
    )
    scored.where(F.col("dsir_logw") >= float(min_logw)).write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/epoch={int(epoch_id)}")


def start_dsir_filter_stream(
    spark,
    source_dir: str,
    source_schema,
    checkpoint_dir: str,
    out_dir: str,
    raw_profile_dir: str,
    target_profile_dir: str,
    min_logw: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 8192,
    alpha: float = 1.0,
    include_bigrams: bool = True,
    available_now: bool = True,
    trigger_seconds: int = 10,
):
    """Structured-Streaming wrapper over `ingest_dsir_batch`: continuous
    target-distribution filtering of an arriving crawl — the streaming
    member of the DSIR family (selection.dsir_select is the batch resample)."""
    stream = spark.readStream.schema(source_schema).parquet(source_dir)

    def write_batch(bdf, epoch_id):
        ingest_dsir_batch(
            bdf, epoch_id, out_dir, raw_profile_dir, target_profile_dir,
            min_logw=min_logw, text_col=text_col, id_col=id_col,
            buckets=buckets, alpha=alpha, include_bigrams=include_bigrams,
        )

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    ).outputMode("append")
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


# ---------------------------------------------------------------------------
# Streaming-maintained BM25 corpus statistics + postings (r8 verdict #4)
# ---------------------------------------------------------------------------

def ingest_bm25_batch(
    bdf,
    epoch_id: int,
    store_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """One micro-batch of the streaming BM25 index: write THIS batch's
    document table (`docs/epoch=N`: one (id, dl) row per doc — zero-token
    docs included, they are part of the ranking universe) and postings
    (`postings/epoch=N`: one (term, id, tf, dl) row per distinct doc-term).
    Everything BM25 needs — N, Σdl, per-term df, per-doc tf/dl — is an
    ADD-merge across epoch partitions (the `ingest_cms_batch` pattern), so
    `bm25_search_store` serves fresh scores under ingest with NO corpus
    re-scan: the stats pass reads the narrow doc table and the scoring pass
    reads only the query terms' postings (parquet term pushdown).

    Idempotence contract: a foreachBatch retry of epoch N OVERWRITES epoch
    N's partitions (never double-counts); doc ids must be unique across
    epochs (append-only ingest) — re-ingesting a doc in a LATER epoch is the
    caller's dedup bug, exactly as for `ingest_dedup_batch`."""
    if bdf.isEmpty():
        return
    from lantern_extras_spark.functions.text import tokens

    staged = bdf.select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    ).persist()
    try:
        staged.select(
            F.col(id_col), F.size("__toks").cast("long").alias("dl")
        ).write.mode("overwrite").parquet(f"{store_dir}/docs/epoch={int(epoch_id)}")
        (
            staged.select(
                F.col(id_col),
                F.size("__toks").cast("long").alias("dl"),
                F.explode("__toks").alias("term"),
            )
            .groupBy("term", id_col)
            .agg(F.count("*").cast("long").alias("tf"), F.first("dl").alias("dl"))
            .write.mode("overwrite")
            .parquet(f"{store_dir}/postings/epoch={int(epoch_id)}")
        )
    finally:
        staged.unpersist()


def read_bm25_store(spark, store_dir: str, id_col: str = "doc_id"):
    """(docs, postings) across every epoch partition. docs is the ranking
    universe (id, dl); postings carry (term, id, tf, dl). Merge-on-read is
    plain union-of-partitions — the per-epoch writes already reduced to one
    row per (doc) / (term, doc)."""
    docs = spark.read.parquet(f"{store_dir}/docs").select(id_col, "dl")
    posts = spark.read.parquet(f"{store_dir}/postings").select(
        "term", id_col, "tf", "dl"
    )
    return docs, posts


def bm25_search_store(
    spark,
    store_dir: str,
    query_terms: list,
    k: int = 10,
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    round_dp: int | None = 6,
) -> DataFrame:
    """BM25 top-k served FROM THE STORE — bit-identical to
    `retrieval.bm25_topk` over the union of every ingested batch (tested),
    with no scan of the corpus text: stats (N, Σdl) come from the narrow doc
    table, df/tf/dl from the query terms' postings only (parquet predicate
    pushdown on `term`). Determinism mirrors `bm25_scores`: contributions
    are exact-integer-derived doubles summed in query-term DECLARATION order
    (the postings fold sorts on the term's query index, and skipped zero-tf
    terms contribute exact 0.0, so the float chain is the batch one);
    zero-score docs rank by id like the batch path."""
    from lantern_extras_spark.functions.portable import pround
    from pyspark.sql.window import Window

    if not query_terms:
        raise ValueError("bm25_search_store: query_terms must be non-empty")
    docs, posts = read_bm25_store(spark, store_dir, id_col)
    stats = docs.agg(
        F.count("*").alias("__n"), F.sum("dl").alias("__sum_dl")
    )
    tmap = local_frame(
        spark, [(t, i) for i, t in enumerate(query_terms)], "term string, __ti int"
    )
    hits = posts.join(F.broadcast(tmap), "term")
    dfreq = hits.groupBy("term").agg(
        F.countDistinct(id_col).cast("long").alias("__df")
    )
    n = F.col("__n").cast("double")
    avgdl = F.col("__sum_dl").cast("double") / n
    tf = F.col("tf").cast("double")
    dl = F.col("dl").cast("double")
    dft = F.col("__df").cast("double")
    idf = F.log(F.lit(1.0) + (n - dft + F.lit(0.5)) / (dft + F.lit(0.5)))
    denom = tf + F.lit(k1) * (F.lit(1.0) - F.lit(b) + F.lit(b) * dl / avgdl)
    contrib = idf * (tf * F.lit(k1 + 1.0)) / denom
    per_doc = (
        hits.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(F.col(id_col), F.col("__ti"), contrib.alias("__c"))
        .groupBy(id_col)
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct(F.col("__ti"), F.col("__c")))),
                F.lit(0.0),
                lambda acc, e: acc + e["__c"],
            ).alias("score")
        )
    )
    allscores = (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .withColumn("score", F.coalesce(F.col("score"), F.lit(0.0)))
    )
    if round_dp is not None:
        allscores = allscores.withColumn("score", pround(F.col("score"), round_dp))
    top = allscores.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return top.withColumn("rnk", F.row_number().over(w).cast("bigint")).select(
        id_col, "score", "rnk"
    )


def start_bm25_ingest_stream(
    spark,
    source_dir: str,
    source_schema,
    checkpoint_dir: str,
    store_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    available_now: bool = True,
    trigger_seconds: int = 10,
):
    """Structured-Streaming wrapper over `ingest_bm25_batch`: a continuously
    maintained lexical index — `bm25_search_store` answers with fresh scores
    between micro-batches, the streaming member of the retrieval family
    (retrieval.bm25_topk is the batch scan)."""
    stream = spark.readStream.schema(source_schema).parquet(source_dir)

    def write_batch(bdf, epoch_id):
        ingest_bm25_batch(
            bdf, epoch_id, store_dir, text_col=text_col, id_col=id_col
        )

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    ).outputMode("append")
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


# ---------------------------------------------------------------------------
# Streaming IVF vector ingest — the ANN twin of the BM25 store
# ---------------------------------------------------------------------------

def ingest_ivf_batch(
    bdf,
    epoch_id: int,
    store_dir: str,
    centroids_dir: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "cell",
) -> None:
    """One micro-batch of the streaming IVF ingest: assign this batch's
    vectors to FIXED coarse centroids (train-once/assign-many — the DSIR
    profile pattern; re-cluster via `refresh_semantic_store`'s drift gauge
    when the corpus moves) and write the epoch's own partition,
    sub-partitioned by cell so probes prune at the storage layer
    (`epoch=N/cell=C/`). Cell assignment is a pure function of
    (vector, centroids), so a foreachBatch retry rewrites identical rows —
    idempotent via the epoch overwrite, like every store in this module."""
    if bdf.isEmpty():
        return
    from lantern_extras_spark.operators.ivf import assign_cells, load_centroids

    cents = load_centroids(bdf.sparkSession, centroids_dir)
    assigned = assign_cells(bdf, cents, vec_col, cell_col)
    assigned.write.partitionBy(cell_col).mode("overwrite").parquet(
        f"{store_dir}/epoch={int(epoch_id)}"
    )


def ivf_search_store(
    spark,
    store_dir: str,
    centroids_dir: str,
    query_vec: list,
    k: int = 10,
    nprobe: int = 4,
    metric: str = "l2sq",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "cell",
) -> DataFrame:
    """IVF top-k served FROM THE STORE: merge-on-read is plain
    union-of-partitions (cell assignment never changes under a fixed
    codebook), and the probe's `cell isin` filter prunes cell DIRECTORIES,
    so the scan reads only the probed cells of every epoch — fresh results
    between micro-batches with no re-index. Identical to batch `ivf_topk`
    over the union of every ingested batch (tested)."""
    from lantern_extras_spark.operators.ivf import ivf_topk, load_centroids

    cents = load_centroids(spark, centroids_dir)
    idx = spark.read.parquet(store_dir)
    return ivf_topk(
        idx, cents, query_vec, k=k, nprobe=nprobe, metric=metric,
        vec_col=vec_col, id_col=id_col, cell_col=cell_col,
    )


def start_ivf_ingest_stream(
    spark,
    source_dir: str,
    source_schema,
    checkpoint_dir: str,
    store_dir: str,
    centroids_dir: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "cell",
    available_now: bool = True,
    trigger_seconds: int = 10,
):
    """Structured-Streaming wrapper over `ingest_ivf_batch`: a continuously
    maintained coarse-quantized vector index — `ivf_search_store` answers
    with fresh neighbors between micro-batches, the streaming member of the
    ANN family (ivf.ivf_topk is the batch scan; the BM25 store is the
    lexical twin)."""
    stream = spark.readStream.schema(source_schema).parquet(source_dir)

    def write_batch(bdf, epoch_id):
        ingest_ivf_batch(
            bdf, epoch_id, store_dir, centroids_dir,
            vec_col=vec_col, id_col=id_col, cell_col=cell_col,
        )

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    ).outputMode("append")
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


# ---------------------------------------------------------------------------
# Streaming HNSW ingest — LSM-style epoch shards (graph member of the family)
# ---------------------------------------------------------------------------

def ingest_hnsw_batch(
    bdf,
    epoch_id: int,
    store_dir: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_shards: int = 4,
    m: int = 16,
    ef_construction: int = 64,
    metric: str = "cos",
    seed: int = 42,
) -> None:
    """One micro-batch of the streaming HNSW ingest: build this batch's own
    shard graphs (HNSW graphs are immutable artifacts — patching a serialized
    graph in place is neither safe nor parallel) and write them as the
    epoch's partition. The store is LSM-shaped: epochs append, search fans
    out over every epoch's shards (candidate volume q·k·total_shards,
    independent of corpus size), and a periodic `reindex_hnsw` over the
    source rows compacts the epoch pile back to one shard set when
    total_shards outgrows the fan-out budget — the `refresh_semantic_store`
    role for graphs. Builds are seeded + id-sorted, so an epoch retry
    rewrites byte-identical graphs (idempotent via the epoch overwrite)."""
    if bdf.isEmpty():
        return
    from lantern_extras_spark.operators.hnsw import build_hnsw_shards

    sess = bdf.sparkSession
    # the writer lock serializes the epoch write against a concurrent
    # compaction's version flip — otherwise a fresh epoch could land in the
    # grace-retained OLD version and be swept by the next flip
    with _store_writer_lock(sess, store_dir, f"ingest_hnsw_batch epoch {int(epoch_id)}"):
        data_dir = _store_write_dir(sess, store_dir)
        build_hnsw_shards(
            bdf, vec_col=vec_col, id_col=id_col, n_shards=n_shards, m=m,
            ef_construction=ef_construction, metric=metric, seed=seed,
        ).write.mode("overwrite").parquet(f"{data_dir}/epoch={int(epoch_id)}")


def hnsw_search_store(
    spark,
    store_dir: str,
    queries: list,
    k: int = 10,
    ef: int | None = None,
    id_col: str = "vec_id",
):
    """Batched HNSW top-k over EVERY epoch's shards in one job: each task
    deserializes its shard graphs once and answers all queries; one window
    merges the per-(query, shard) candidates. Fresh vectors are searchable
    the moment their epoch lands — no graph rebuild on the read path."""
    from lantern_extras_spark.operators.hnsw import _SHARD_SCHEMA, hnsw_topk_batch

    shards = spark.read.schema(_SHARD_SCHEMA).parquet(
        resolve_store_data_dir(spark, store_dir)
    )
    return hnsw_topk_batch(shards, queries, k=k, ef=ef, id_col=id_col)


def hnsw_store_stats(spark, store_dir: str) -> dict:
    """Structural profile of the LSM epoch pile: number of epochs, TOTAL
    shard count across epochs (the search fan-out — candidate volume is
    q·k·total_shards), and indexed rows. One tiny aggregation over the
    shard-metadata columns; the serialized graphs are never deserialized."""
    from pyspark.sql.types import LongType, StructField

    from lantern_extras_spark.operators.hnsw import _SHARD_SCHEMA

    # copy before appending the partition column — StructType.add MUTATES,
    # and _SHARD_SCHEMA is shared with the epoch-less store readers
    schema = StructType(list(_SHARD_SCHEMA.fields) + [StructField("epoch", LongType())])
    agg = (
        spark.read.schema(schema).parquet(resolve_store_data_dir(spark, store_dir))
        .agg(
            F.countDistinct("epoch").alias("epochs"),
            F.count("*").alias("total_shards"),
            F.sum("n").alias("rows"),
        )
        .first()
    )
    return {
        "epochs": int(agg["epochs"] or 0),
        "total_shards": int(agg["total_shards"] or 0),
        "rows": int(agg["rows"] or 0),
    }


def compact_hnsw_store(
    spark,
    store_dir: str,
    source_df,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_shards: int = 4,
    m: int = 16,
    ef_construction: int = 64,
    metric: str = "cos",
    seed: int = 42,
) -> None:
    """Compact the HNSW epoch pile back to ONE shard set: rebuild from the
    SOURCE rows (graphs are immutable artifacts, and the cos-metric graphs
    hold normalized vectors — the source is the only metric-lossless input,
    the same contract as `refresh_semantic_store`'s re-fit) and swap the
    store for a single `epoch=-1` partition (-1 is never a foreachBatch
    batch id, so an ingest retry guard can't collide with the compacted
    partition). The swap is the versioned `_CURRENT` pointer flip
    (r12 verdict #6): the rebuilt shards land in the NEXT version
    directory, the pointer flips atomically, and the previous version is
    retained one flip as grace — a concurrent `hnsw_search_store` never
    sees an empty or partial store. Writer-vs-writer is serialized by the
    store writer lock (same as the hash store): a mid-flight ingest makes
    this raise `StoreLockError` instead of racing the flip. After
    compaction, search fan-out drops from epochs·n_shards back to
    n_shards."""
    from lantern_extras_spark.operators.hnsw import build_hnsw_shards

    shards = build_hnsw_shards(
        source_df, vec_col=vec_col, id_col=id_col, n_shards=n_shards, m=m,
        ef_construction=ef_construction, metric=metric, seed=seed,
    )
    with _store_writer_lock(spark, store_dir, "compact_hnsw_store"):
        data = resolve_store_data_dir(spark, store_dir)
        _publish_store_version(
            spark, store_dir, data,
            lambda p: shards.write.mode("overwrite").parquet(p),
        )


def maybe_compact_hnsw_store(
    spark,
    store_dir: str,
    source_df,
    max_epochs: int = 8,
    max_shards: int | None = None,
    **build_kwargs,
) -> bool:
    """The compaction POLICY the r9 verdict asked for: `reindex_hnsw` knew
    how, nothing decided WHEN. Triggers on the structural costs that grow
    with the epoch pile — epoch count > `max_epochs`, or total shard count
    > `max_shards` (candidate volume q·k·total_shards grows linearly with
    appended epochs while the corpus may not). Both stats come from shard
    METADATA (one tiny agg; no graph is deserialized), so the check is
    cheap enough to run after every micro-batch. Returns True if a
    compaction ran. For a quality-driven trigger instead, probe
    `hnsw_search_store` recall against an exact `knn.ground_truth` sample
    and compact on drop — the epoch pile raises cost, not recall, so the
    structural triggers are the default."""
    if max_epochs < 1:
        raise ValueError(f"max_epochs must be >= 1, got {max_epochs}")
    stats = hnsw_store_stats(spark, store_dir)
    if stats["epochs"] <= max_epochs and (
        max_shards is None or stats["total_shards"] <= max_shards
    ):
        return False
    compact_hnsw_store(spark, store_dir, source_df, **build_kwargs)
    return True


def start_hnsw_ingest_stream(
    spark,
    source_dir: str,
    source_schema,
    checkpoint_dir: str,
    store_dir: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_shards: int = 4,
    m: int = 16,
    ef_construction: int = 64,
    metric: str = "cos",
    seed: int = 42,
    available_now: bool = True,
    trigger_seconds: int = 10,
):
    """Structured-Streaming wrapper over `ingest_hnsw_batch`: the graph
    member of the streaming index family (BM25 = lexical, IVF = coarse
    quantization, HNSW = navigable graph)."""
    stream = spark.readStream.schema(source_schema).parquet(source_dir)

    def write_batch(bdf, epoch_id):
        ingest_hnsw_batch(
            bdf, epoch_id, store_dir, vec_col=vec_col, id_col=id_col,
            n_shards=n_shards, m=m, ef_construction=ef_construction,
            metric=metric, seed=seed,
        )

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    ).outputMode("append")
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


class StoreLockError(RuntimeError):
    """A second writer tried to touch a dedup store mid-write/mid-compact.

    The store's delete→rename compaction swap is not transactional, so
    writers are serialized by a sibling `<store_dir>.lock` file (atomic
    Hadoop `createNewFile`). foreachBatch serializes micro-batches within
    ONE stream, so a healthy pipeline never sees this; raising means a
    SECOND stream (or a manual compaction) is racing the store — the
    documented "pause the ingest stream" convention, now enforced."""


def _store_lock_fs(spark, store_dir: str):
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    HPath = jvm.org.apache.hadoop.fs.Path
    lock = HPath(store_dir.rstrip("/") + ".lock")
    return lock.getFileSystem(hconf), lock, HPath


# ---- versioned store layout (r12 verdict #6) -------------------------------
# The writer lock serializes WRITERS, but a delete→rename compaction swap
# could still hand a concurrent READER a transient empty/partial view. The
# compactable stores therefore keep their data in versioned subdirectories
# with an atomically-flipped pointer:
#
#     store_dir/_CURRENT        # one line: "v00007"
#     store_dir/v00007/epoch=N/…parquet
#
# Readers resolve through the pointer (falling back to the highest vNNNNN
# directory during the flip's delete→rename instant); compaction writes the
# folded data into the NEXT version, flips the pointer, and retains the
# immediately-previous version as a grace window for in-flight scans —
# deleting only versions two flips old. Stores created before this layout
# (flat epoch=N under store_dir) stay readable and writable as-is; their
# FIRST compaction migrates them (the one swap that is not
# reader-transparent — run it while the store is quiescent).

_STORE_VERSION_RE = "v%05d"


def _store_fs(spark, path: str):
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    HPath = jvm.org.apache.hadoop.fs.Path
    return HPath(path).getFileSystem(hconf), HPath


def _list_store_versions(fs, HPath, store_dir: str) -> list[str]:
    import re

    out = []
    base = HPath(store_dir)
    if not fs.exists(base):
        return out
    for st in fs.listStatus(base):
        nm = st.getPath().getName()
        if st.isDirectory() and re.fullmatch(r"v\d{5}", nm):
            out.append(nm)
    return sorted(out)


def resolve_store_data_dir(spark, store_dir: str) -> str:
    """CURRENT data directory of a store: `<store_dir>/<version>` when the
    store is versioned (pointer file, falling back to the highest version
    directory during a pointer flip), `store_dir` itself for the legacy
    flat layout. Every store reader goes through this, so compaction flips
    are invisible to them."""
    fs, HPath = _store_fs(spark, store_dir)
    base = store_dir.rstrip("/")
    cur = HPath(f"{base}/_CURRENT")
    try:
        if fs.exists(cur):
            stream = fs.open(cur)
            name = bytes(stream.readNBytes(256)).decode("ascii", "replace").strip()
            stream.close()
            if name:
                return f"{base}/{name}"
    except Exception:
        pass  # mid-flip or unreadable pointer: the version scan below decides
    versions = _list_store_versions(fs, HPath, base)
    if versions:
        return f"{base}/{versions[-1]}"
    return base


def _store_write_dir(spark, store_dir: str) -> str:
    """Data directory for INGEST writes. Versioned stores write into the
    current version; a brand-new store is initialized as versioned
    (v00001 + pointer) so its compactions are reader-transparent from
    birth; a legacy flat store with existing data keeps writing flat until
    its first compaction migrates it."""
    fs, HPath = _store_fs(spark, store_dir)
    base = store_dir.rstrip("/")
    if fs.exists(HPath(f"{base}/_CURRENT")) or _list_store_versions(
        fs, HPath, base
    ):
        return resolve_store_data_dir(spark, store_dir)
    if fs.exists(HPath(base)) and len(fs.listStatus(HPath(base))) > 0:
        return base  # legacy flat store with data
    first = _STORE_VERSION_RE % 1
    fs.mkdirs(HPath(f"{base}/{first}"))
    _flip_store_current(spark, store_dir, first)
    return f"{base}/{first}"


def _flip_store_current(spark, store_dir: str, version: str) -> None:
    """Atomically (re)point `_CURRENT` at `version`: write a sibling temp
    file, delete the old pointer, rename into place. Hadoop rename will not
    overwrite, so there is a pointer-less instant — readers cover it with
    the highest-version fallback (the new version is fully written before
    the flip starts, so that fallback is always correct)."""
    fs, HPath = _store_fs(spark, store_dir)
    base = store_dir.rstrip("/")
    tmp = HPath(f"{base}/_CURRENT.tmp")
    out = fs.create(tmp, True)
    out.write(version.encode("ascii"))
    out.close()
    cur = HPath(f"{base}/_CURRENT")
    fs.delete(cur, False)
    if not fs.rename(tmp, cur):
        raise IOError(f"could not flip {base}/_CURRENT to {version}")


def _swap_store_version(spark, store_dir: str, prior_data_dir: str) -> None:
    """Post-compaction retention: the pointer flip is already done by the
    caller's `_flip_store_current`; here we delete data that no reader can
    still need — versions OLDER than the immediately-previous one (which is
    grace-retained until the NEXT flip's sweep), and, on a legacy-store
    migration, the flat `epoch=*` directories the compacted version
    replaced."""
    import re

    fs, HPath = _store_fs(spark, store_dir)
    base = store_dir.rstrip("/")
    versions = _list_store_versions(fs, HPath, base)
    # keep the newest (just written) and the previous data dir as grace
    for v in versions[:-1]:
        if f"{base}/{v}" != prior_data_dir.rstrip("/"):
            fs.delete(HPath(f"{base}/{v}"), True)
    if prior_data_dir.rstrip("/") == base:
        # legacy flat layout: remove the migrated epoch=* children (this is
        # the documented non-reader-transparent migration)
        for st in fs.listStatus(HPath(base)):
            nm = st.getPath().getName()
            if st.isDirectory() and re.match(r"epoch=", nm):
                fs.delete(st.getPath(), True)


def _publish_store_version(spark, store_dir: str, prior_data_dir: str, write_fn) -> None:
    """The reader-transparent store rewrite shared by every compactor/
    refresher: write the folded data into the NEXT version's `epoch=-1`
    via `write_fn(path)`, flip `_CURRENT` atomically, sweep versions older
    than the grace-retained prior one. Call under the store writer lock."""
    fs, HPath = _store_fs(spark, store_dir)
    versions = _list_store_versions(fs, HPath, store_dir.rstrip("/"))
    nxt = _STORE_VERSION_RE % ((int(versions[-1][1:]) + 1) if versions else 1)
    write_fn(f"{store_dir.rstrip('/')}/{nxt}/epoch=-1")
    _flip_store_current(spark, store_dir, nxt)
    _swap_store_version(spark, store_dir, prior_data_dir)


def force_unlock_store(spark, store_dir: str) -> bool:
    """Operator escape hatch for a lock orphaned by a hard crash (kill -9 /
    OOM mid-ingest never runs the unlock): delete `<store_dir>.lock` after
    CONFIRMING no writer is alive — the lock file's content names the
    owner, host, pid and acquisition time for exactly that check. Returns
    True if a lock was removed. Deliberately manual: the lock cannot tell
    a crashed holder from a slow live one, and guessing wrong corrupts the
    compaction swap the lock exists to protect."""
    fs, lock, _ = _store_lock_fs(spark, store_dir)
    return bool(fs.delete(lock, False))


@_contextlib.contextmanager
def _store_writer_lock(spark, store_dir: str, owner: str):
    """Exclusive writer lock over a store directory: atomically create a
    sibling `<store_dir>.lock` via Hadoop createNewFile (works on local FS
    and HDFS; object stores with atomic create honor it too), delete it on
    exit. Fail-loud if held: a concurrent ingest against a mid-swap store
    would silently lose epochs. A hard crash can orphan the lock — its
    content records owner/host/pid/time so an operator (or a restart
    runbook) can verify the holder is dead and clear it with
    `force_unlock_store`."""
    import json
    import os
    import socket
    import time as _time

    fs, lock, HPath = _store_lock_fs(spark, store_dir)
    parent = lock.getParent()
    if parent is not None:
        fs.mkdirs(parent)
    if not fs.createNewFile(lock):
        try:
            stream = fs.open(lock)
            held_by = bytes(
                stream.readNBytes(4096)  # java InputStream
            ).decode("utf-8", "replace")
            stream.close()
        except Exception:
            held_by = "<unreadable>"
        raise StoreLockError(
            f"store {store_dir} is locked by another writer ({lock} exists, "
            f"holder: {held_by.strip() or '<empty>'}); {owner} refusing to "
            "run — verify the holder is dead, then clear with "
            "force_unlock_store(spark, store_dir)"
        )
    try:
        out = fs.create(lock, True)
        out.write(
            json.dumps(
                {
                    "owner": owner,
                    "host": socket.gethostname(),
                    "pid": os.getpid(),
                    "acquired_unix": int(_time.time()),
                }
            ).encode()
        )
        out.close()
    except Exception:
        pass  # metadata is best-effort; the lock itself already holds
    try:
        yield
    finally:
        fs.delete(lock, False)


def ingest_hash_batch(
    bdf,
    epoch_id: int,
    output_dir: str,
    store_dir: str,
    hash_col: str = "phash",
    id_col: str = "media_id",
    bits: int = 64,
    band_bits: int = 8,
    max_distance: int = 6,
    max_band_freq: int | None = None,
) -> None:
    """One micro-batch of the incremental MEDIA-HASH dedup loop — the
    perceptual-hash (pHash/dHash/audio-fingerprint) member of the streaming
    store family, mirroring `ingest_dedup_batch`'s contract exactly: match
    the arriving batch against the persisted (id, hash) store via
    `hash_neardup_join` (banded Hamming, never a rescan), drop within-batch
    near-dups keep-first via `hash_neardup_pairs`, write SURVIVOR rows to
    `output_dir/epoch=N` and their (id, hash) to `store_dir/epoch=N` —
    mode=overwrite per epoch, so a foreachBatch retry rewrites its own
    partition instead of appending duplicates (at-least-once → effectively
    exactly-once). NULL hashes survive (they cannot match) but are NOT
    written to the store — an unmatchable store row is pure per-batch join
    cost. The store grows one parquet partition per epoch; see
    `maybe_compact_hash_store` for the policy that folds the pile back to
    one partition before per-batch file-listing/scan overhead grows with
    epoch COUNT rather than store SIZE."""
    if bdf.isEmpty():
        return
    from lantern_extras_spark.operators.dedup import (
        hash_neardup_join,
        hash_neardup_pairs,
    )

    sess = bdf.sparkSession
    epoch = int(epoch_id)
    kw = dict(bits=bits, band_bits=band_bits, max_distance=max_distance,
              max_band_freq=max_band_freq)
    with _store_writer_lock(sess, store_dir, f"ingest_hash_batch epoch {epoch}"):
        data_dir = _store_write_dir(sess, store_dir)
        store = _read_store_or_none(sess, data_dir, [id_col, hash_col])
        if store is not None:
            # a RETRY of this epoch already wrote its own epoch=N rows —
            # exclude them (partition-pruned) so the retry can't match the
            # batch against itself and drop every survivor
            if "epoch" in store.columns:
                store = store.where(F.col("epoch") != epoch)
            store = store.select(id_col, hash_col)
        pairs = hash_neardup_pairs(bdf, hash_col, id_col=id_col, **kw)
        dropped = pairs.select(F.col("id_b").alias(id_col))  # keep-first: id_a < id_b
        if store is not None:
            matches = hash_neardup_join(
                bdf, store, hash_col, id_col=id_col, store_id_col=id_col, **kw
            )
            dropped = dropped.unionByName(
                matches.select(F.col("batch_id").alias(id_col))
            )
        dropped = dropped.distinct()
        survivors = bdf.join(dropped, id_col, "left_anti")
        survivors.write.mode("overwrite").parquet(f"{output_dir}/epoch={epoch}")
        survivors.where(F.col(hash_col).isNotNull()).select(
            id_col, hash_col
        ).write.mode("overwrite").parquet(f"{data_dir}/epoch={epoch}")


def hash_store_stats(spark, store_dir: str) -> dict:
    """Structural profile of the hash store's epoch pile: epoch count, rows,
    and parquet FILE count. Rows/epochs come from one tiny agg over the
    partition column; the file count comes from a Hadoop FS listing (no
    data read) — it is the per-batch overhead that grows with epoch count
    (every `hash_neardup_join` against the store pays listing + one reader
    per small file) even when the row count is flat. Versioned stores
    profile the CURRENT version only — grace-retained prior versions are
    not per-batch cost."""
    data_dir = resolve_store_data_dir(spark, store_dir)
    agg = (
        spark.read.parquet(data_dir)
        .agg(F.countDistinct("epoch").alias("epochs"), F.count("*").alias("rows"))
        .first()
    )
    fs, HPath = _store_fs(spark, data_dir)
    files = 0
    it = fs.listFiles(HPath(data_dir), True)
    while it.hasNext():
        f = it.next()
        if f.getPath().getName().endswith(".parquet"):
            files += 1
    return {
        "epochs": int(agg["epochs"] or 0),
        "rows": int(agg["rows"] or 0),
        "files": files,
    }


def compact_hash_store(
    spark,
    store_dir: str,
    n_files: int = 8,
) -> None:
    """Fold the hash store's epoch pile back into ONE `epoch=-1` partition
    of `n_files` parquet files (-1 is never a foreachBatch batch id, so a
    retry guard can't collide with it — same convention as
    `compact_hnsw_store`). Unlike HNSW there is nothing to rebuild: store
    rows are plain (id, hash) survivors, so compaction is a read +
    repartition into the NEXT version directory + an atomic `_CURRENT`
    pointer flip (r12 verdict #6): concurrent READERS resolve through the
    pointer and keep scanning the fully-written previous version (retained
    one flip as grace), so no reader ever sees an empty or partial store.
    Writers stay serialized by the store writer lock (`StoreLockError` if
    an ingest is mid-flight)."""
    with _store_writer_lock(spark, store_dir, "compact_hash_store"):
        data = resolve_store_data_dir(spark, store_dir)
        store = spark.read.parquet(data).drop("epoch")
        _publish_store_version(
            spark, store_dir, data,
            lambda p: store.repartition(n_files).write.mode("overwrite").parquet(p),
        )


def maybe_compact_hash_store(
    spark,
    store_dir: str,
    max_epochs: int = 8,
    max_files: int | None = None,
    n_files: int = 8,
) -> bool:
    """Compaction POLICY for the media-hash store (r10 verdict #7): the
    epoch pile grows one partition per micro-batch, and per-batch match
    cost grows with FILE count (listing + tiny-file readers) even when the
    row count is flat — the same failure mode the HNSW pile had with search
    fan-out. Triggers on epoch count > `max_epochs` or parquet file count >
    `max_files`; both come from metadata (one tiny agg + FS listing), cheap
    enough to run after every micro-batch. Returns True if a compaction
    ran."""
    if max_epochs < 1:
        raise ValueError(f"max_epochs must be >= 1, got {max_epochs}")
    stats = hash_store_stats(spark, store_dir)
    if stats["epochs"] <= max_epochs and (
        max_files is None or stats["files"] <= max_files
    ):
        return False
    compact_hash_store(spark, store_dir, n_files=n_files)
    return True


def start_hash_dedup_stream(
    spark,
    source_dir: str,
    source_schema,
    output_dir: str,
    checkpoint_dir: str,
    store_dir: str,
    hash_col: str = "phash",
    id_col: str = "media_id",
    bits: int = 64,
    band_bits: int = 8,
    max_distance: int = 6,
    max_band_freq: int | None = None,
    compact_every_epochs: int | None = 8,
    available_now: bool = True,
    trigger_seconds: int = 10,
):
    """Structured-Streaming wrapper over `ingest_hash_batch`: continuous
    perceptual-hash dedup with the persisted (id, hash) store as the only
    cross-batch state. With `compact_every_epochs` set (default 8), the
    compaction policy runs INSIDE foreachBatch after each ingest — safe
    because foreachBatch serializes micro-batches, so no concurrent writer
    exists during the swap. That safety is now ENFORCED, not assumed: both
    `ingest_hash_batch` and `compact_hash_store` hold the store writer
    lock, so a second stream pointed at the same `store_dir` fails loudly
    with `StoreLockError` instead of corrupting the swap."""
    stream = spark.readStream.schema(source_schema).parquet(source_dir)

    def write_batch(bdf, epoch_id):
        ingest_hash_batch(
            bdf, epoch_id, output_dir, store_dir, hash_col=hash_col,
            id_col=id_col, bits=bits, band_bits=band_bits,
            max_distance=max_distance, max_band_freq=max_band_freq,
        )
        if compact_every_epochs is not None and not bdf.isEmpty():
            maybe_compact_hash_store(
                bdf.sparkSession, store_dir, max_epochs=compact_every_epochs
            )

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    ).outputMode("append")
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
