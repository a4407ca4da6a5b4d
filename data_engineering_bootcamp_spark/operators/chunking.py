"""Context-window assembly: document chunking and sequence packing.

The last mile of a training-data pipeline: documents become
fixed-size token windows (`chunk_docs`), and chunks/documents are
packed into fixed-capacity context windows (`pack_token_stream`) the
way GPT-style pretraining concatenates the token stream and splits it
every N tokens.

Both operators are pure Catalyst (split/slice/transform/posexplode and
one window cumsum) — scan-speed, no Python — and deterministic, so a
SQL oracle can replay them exactly.

Scale notes: chunking is embarrassingly parallel per document. Packing
needs a global order to be deterministic, which would serialize into
one partition; instead the stream is sharded by a stable key
(`shard_col`, e.g. doc_id mod n_shards) and packed within each shard —
the window shuffles once on the shard key and each shard's cumsum is
independent, which is exactly how multi-worker pretraining shards its
corpus anyway.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _ws_tokens(text):
    """Whitespace tokens, case-preserving (chunk text must round-trip)."""
    return F.filter(F.split(text, "\\s+"), lambda t: t != F.lit(""))


def chunk_docs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split each document into whitespace-token windows of
    ``chunk_tokens``, starting every ``stride`` tokens (overlap =
    chunk_tokens - stride). The final window may be short; documents
    shorter than one chunk yield exactly one window.

    Output: (doc_id, chunk_idx, n_tokens, chunk_text).
    """
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        _ws_tokens(F.col(text_col)).alias("t"),
    ).withColumn("n", F.size("t"))
    # number of windows: 1 + ceil(max(n - chunk, 0) / stride)
    n_chunks = F.lit(1) + F.ceil(
        F.greatest(F.col("n") - chunk_tokens, F.lit(0)) / stride
    ).cast("int")
    starts = F.transform(
        F.sequence(F.lit(0), n_chunks - 1), lambda i: i * stride + 1
    )
    return (
        toks.select(
            "doc_id",
            F.posexplode(
                F.transform(
                    starts, lambda s: F.slice(F.col("t"), s, chunk_tokens)
                )
            ).alias("chunk_idx", "chunk_toks"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.size("chunk_toks").alias("n_tokens"),
            F.concat_ws(" ", "chunk_toks").alias("chunk_text"),
        )
    )


def pack_token_stream(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    capacity: int = 256,
    n_shards: int = 8,
) -> DataFrame:
    """GPT-style token-stream packing: within each shard, documents are
    concatenated in ``id_col`` order and the stream is cut every
    ``capacity`` tokens; a document belongs to the pack its FIRST token
    falls into. Deterministic: shard = ``id mod n_shards``, order =
    ``id`` — replayable by any engine.

    Output: one row per (shard, pack_id) with n_docs and n_tokens
    (every pack but a shard's last holds >= capacity tokens under this
    first-token rule).
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(_ws_tokens(F.col(text_col))).alias("n_tokens"),
    ).withColumn("shard", F.pmod(F.col("doc_id"), F.lit(n_shards)))
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offset = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return (
        toks.withColumn("pack_id", F.floor(offset / capacity))
        .groupBy("shard", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
    )


def _rebuild_aggs() -> list[Column]:
    """Per-doc rebuild aggregates over `_keep`-flagged chunk rows: the
    kept token count, and the md5 of the kept chunk texts joined in
    chunk_idx order (md5('') when no chunk is kept)."""
    kept_texts = F.transform(
        F.array_sort(
            F.collect_list(
                F.when(F.col("_keep"), F.struct("chunk_idx", "chunk_text"))
            )
        ),
        lambda s: s.getField("chunk_text"),
    )
    return [
        F.coalesce(
            F.sum(F.when(F.col("_keep"), F.col("n_tokens")).cast("long")),
            F.lit(0),
        ).alias("kept_tokens"),
        F.md5(F.concat_ws(" ", kept_texts)).alias("rebuilt_md5"),
    ]


def drop_frequent_segments(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    segment_tokens: int = 8,
    max_docs: int = 2,
) -> DataFrame:
    """Corpus-frequency segment removal — the C4/RefinedWeb line-dedup
    pass: any segment whose text occurs in MORE than ``max_docs``
    distinct documents is boilerplate (navigation chrome, license
    headers, cookie banners) and is removed from EVERY document it
    appears in. This is a different contract from
    `dedup_chunks_rebuild` (keep-first): frequency-threshold removal
    keeps rare repeats (<= max_docs docs, e.g. legitimate quotations)
    everywhere and keeps boilerplate NOWHERE — the published C4 rule
    ("any three-sentence span occurring more than once" analog) over
    this corpus's whitespace-token segments (the synthetic fixture has
    no newline structure, so the segmenter is the fixed
    ``segment_tokens``-token non-overlapping cut; a newline segmenter
    drops in by swapping `chunk_docs` for a split(text, '\\n')).

    Output: one row per input document —
    (doc_id, n_segs, n_dropped, kept_tokens, rebuilt_md5).

    Scale: ONE shuffle keyed by md5(segment_text) computes the
    document frequency — both window passes (first-occurrence-in-doc
    flag via lag, then the partition-wide sum of those flags) share
    the same hash partitioning, so Catalyst plans a single Exchange;
    no collect_set of doc ids (a boilerplate segment present in
    billions of documents would otherwise materialize a billion-entry
    array per row), no join-back of a df table. The rebuild is one
    more shuffle on doc_id. Nothing quadratic, nothing collected.
    """
    if max_docs < 1:
        raise ValueError("max_docs must be >= 1")
    segs = chunk_docs(
        docs,
        id_col=id_col,
        text_col=text_col,
        chunk_tokens=segment_tokens,
        stride=segment_tokens,
    ).withColumn("seg_md5", F.md5("chunk_text"))
    w_ord = Window.partitionBy("seg_md5").orderBy("doc_id", "chunk_idx")
    w_all = Window.partitionBy("seg_md5")
    first_in_doc = (
        F.lag("doc_id").over(w_ord).isNull()
        | (F.lag("doc_id").over(w_ord) != F.col("doc_id"))
    ).cast("long")
    flagged = (
        segs.withColumn("_first", first_in_doc)
        .withColumn("_n_docs", F.sum("_first").over(w_all))
        .withColumn("_keep", F.col("_n_docs") <= max_docs)
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segs"),
        F.sum((~F.col("_keep")).cast("long")).alias("n_dropped"),
        *_rebuild_aggs(),
    )


def dedup_chunks_rebuild(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 32,
) -> DataFrame:
    """Corpus-wide CHUNK-level exact dedup with document rebuild —
    the sub-document dedup pass (boilerplate headers, license
    blocks, repeated navigation text) that doc-level exact dedup
    misses entirely.

    Documents are cut into non-overlapping ``chunk_tokens`` windows
    (stride = chunk size, so a rebuild is well-defined); each distinct
    chunk text survives exactly once corpus-wide, at its first
    occurrence (lowest doc_id, then lowest chunk_idx); every document
    is then rebuilt from its surviving chunks in order.

    Output: one row per input document —
    (doc_id, n_chunks, n_kept, kept_tokens, rebuilt_md5), where
    rebuilt_md5 is the md5 of the space-joined surviving chunks
    (md5('') for a document that lost everything).

    Scale: chunking is map-side; the dedup is ONE shuffle partitioned
    by md5(chunk_text) — a 32-byte key, never the chunk text itself,
    so shuffle width is bounded regardless of chunk size; the rebuild
    is one more shuffle on doc_id. Both are plain hash exchanges with
    map-side partial aggregation; nothing quadratic, nothing
    collected.
    """
    chunks = chunk_docs(
        docs,
        id_col=id_col,
        text_col=text_col,
        chunk_tokens=chunk_tokens,
        stride=chunk_tokens,
    ).withColumn("chunk_md5", F.md5("chunk_text"))
    w = Window.partitionBy("chunk_md5").orderBy("doc_id", "chunk_idx")
    flagged = chunks.withColumn(
        "_keep", F.row_number().over(w) == 1
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.col("_keep").cast("long")).alias("n_kept"),
        *_rebuild_aggs(),
    )
