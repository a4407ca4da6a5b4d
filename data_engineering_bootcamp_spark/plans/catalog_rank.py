"""Round-13 catalog additions: the retrieval/tokenizer kernels the
LLM-pipeline surface still lacked (VERDICT r12 #5 and #6), plus the
third ANN scale path (PQ/ADC) and the tokenizer-application pass.

- ``bpe_train_merges`` — closes the tokenizer loop: where
  ``bpe_merge_candidates`` stops at pass-2 pair statistics, this runs
  the actual iterative BPE vocab training (pick top pair, merge it
  everywhere, recount) for a fixed number of rounds, under the same
  exact-arithmetic replay discipline as ``pagerank`` — every step is
  integer sums + deterministic argmax + pure string surgery, so the
  DuckDB oracle unrolls the identical recurrence as chained CTEs and
  hashes bit-identically.
- ``bm25_top_docs`` — the retrieval scorer curation/eval pipelines
  actually rank with (tf-idf exists as ``tfidf_top_terms``, but BM25's
  saturation + length normalization is what production retrieval
  uses). Integer-ppm discipline: everything except the two log calls
  is EXACT integer/rational arithmetic (the tf part is cleared to an
  integer fraction, the document score is a SUM of per-term integer
  micro-scores — associative, partition-order-free), and the one
  transcendental (ln of exact small integers) is rounded into
  micro-units where a cross-engine last-ulp difference flips the hash
  only with probability ~1e-9 per row (documented envelope; same
  exposure class as ``exact_percentiles``'s ROUND, but on integers).
- ``bpe_encode_corpus`` — the tokenizer-application pass: learned
  merge rules applied in step order (operators/bpe.bpe_apply_merges).
- ``ann_pq_adc`` — product-quantization ADC approximate top-k
  (operators/similarity.cosine_topk_pq): the bandwidth-bound ANN scan
  (narrow integer-code relation) beside LSH's bucketing and IVF's
  selectivity, under the family's exact-replay determinism rules.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.bpe import (
    bpe_apply_merges,
    bpe_train_merges,
    bpe_train_merges_batched,
    spaced_utf8_bytes,
)
from ..operators.dedup import _tokens as _text_tokens
from ..sources.readers import load_table
from ..streaming.sinks import drain
from .catalog_ext import _top_k_sql
from .catalog_write import _snapshot, _staged_stream


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _tokens(docs: DataFrame, with_doc: bool = False) -> DataFrame:
    """The catalog's standard corpus tokenization (matches
    vocab_top_tokens / bpe_merge_candidates / tfidf_top_terms):
    lower, collapse whitespace, split, drop empties."""
    tok = F.explode(_text_tokens(F.col("text"))).alias("term")
    return docs.select("doc_id", tok) if with_doc else docs.select(tok)


def _word_freq(docs: DataFrame) -> DataFrame:
    """The tokenizer trainers' word table (token, freq): the standard
    tokenization, restricted to ``^[a-z]+$`` words of length >= 2."""
    return (
        _tokens(docs)
        .groupBy(F.col("term").alias("token"))
        .agg(F.count(F.lit(1)).alias("freq"))
        .where(
            (F.length("token") >= 2) & F.col("token").rlike("^[a-z]+$")
        )
    )


_TOKS_SQL = r"""
  SELECT doc_id,
         unnest(list_filter(
           string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
                        ' '),
           t -> t <> '')) AS term
  FROM documents
"""


# ---------------------------------------------------------------------------
# BPE merge training (iterative vocab learning)
# ---------------------------------------------------------------------------

BPE_STEPS = 8


def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first 8 BPE merge rules from the corpus.

    The word table uses the catalog's standard normalization, then
    restricts to ``^[a-z]+$`` words of length >= 2 — the ASCII-letter
    subset both engines segment into characters identically (Spark's
    Java-regex ``split('')`` and DuckDB's RE2 would disagree only on
    multi-code-unit text, and character segmentation IS the base-vocab
    contract, so the entry pins the unambiguous subset; real multi-
    lingual training would pre-segment to bytes). Iteration mechanics,
    determinism, and the greedy-merge string trick are documented on
    ``operators/bpe.bpe_train_merges``; the oracle below unrolls the
    same 8 rounds as chained CTEs."""
    docs = _t(spark, sf_dir, "documents")
    wf = _word_freq(docs)
    # checkpoint_every=0: a BOUNDED 8-step loop composes the narrow
    # merge maps lazily (each winner job re-runs <= 8 trivial
    # |vocab|-row string maps from the checkpointed base instead of
    # paying a full word-table materialization job per step — the
    # pagerank cadence tradeoff, measured ~2x wall here)
    return bpe_train_merges(
        wf, iterations=BPE_STEPS, checkpoint_every=0
    ).orderBy("step")


_WF_FILTER_CHARS = "len(term) >= 2 AND regexp_matches(term, '^[a-z]+$')"
_WF_FILTER_BYTES = "strlen(term) >= 2"  # strlen = BYTE length in DuckDB
_W0_SEG_CHARS = r"trim(regexp_replace(token, '(.)', '\1 ', 'g'))"
_W0_SEG_BYTES = (
    r"trim(regexp_replace(hex(encode(token)), '(..)', '\1 ', 'g'))"
)


def _bpe_oracle(
    iterations: int,
    wf_filter: str = _WF_FILTER_CHARS,
    w0_seg: str = _W0_SEG_CHARS,
) -> str:
    """Unrolled-CTE DuckDB replay of `bpe_train_merges`: per round, a
    pair-count CTE, a 1-row argmax CTE, and a merged word table built
    with the identical double-space greedy-replace (operators/bpe.py
    module doc). Chained CTEs are MATERIALIZED: w_k references w_{k-1}
    twice (via p_k and directly), so inlining re-evaluates the corpus
    tokenization 2^steps times (measured 1.4 s -> 0.07 s at sf0.01
    with 8 steps). `wf_filter`/`w0_seg` pick the base-vocab contract:
    character-level (ASCII-pinned) or byte-level (hex pairs, any
    text)."""
    parts = [
        "WITH toks AS MATERIALIZED (" + _TOKS_SQL + "),",
        f"""wf AS MATERIALIZED (
  SELECT term AS token, COUNT(*) AS freq
  FROM toks
  WHERE {wf_filter}
  GROUP BY term),""",
        f"""w0 AS MATERIALIZED (
  SELECT {w0_seg} AS w, freq
  FROM wf),""",
    ]
    for k in range(1, iterations + 1):
        p = k - 1
        parts.append(f"""p{k} AS MATERIALIZED (
  SELECT syms[i] AS lhs, syms[i + 1] AS rhs, SUM(freq)::BIGINT AS total
  FROM (SELECT string_split(w, ' ') AS syms, freq FROM w{p}) s,
       UNNEST(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2),
m{k} AS (
  SELECT lhs, rhs, total FROM p{k}
  ORDER BY total DESC, lhs ASC, rhs ASC LIMIT 1),""")
        if k < iterations:
            parts.append(f"""w{k} AS MATERIALIZED (
  SELECT trim(replace(
           replace(' ' || replace(w, ' ', '  ') || ' ',
                   ' ' || m.lhs || '  ' || m.rhs || ' ',
                   ' ' || m.lhs || m.rhs || ' '),
           '  ', ' ')) AS w, freq
  FROM w{p}, m{k} m),""")
    unions = "\nUNION ALL\n".join(
        f"SELECT {k} AS step, lhs, rhs, lhs || rhs AS merged, total FROM m{k}"
        for k in range(1, iterations + 1)
    )
    body = "\n".join(parts).rstrip(",") + "\n"
    return body + unions + "\nORDER BY step"


ORACLE_BPE_TRAIN_MERGES = _bpe_oracle(BPE_STEPS)


# ---------------------------------------------------------------------------
# Batched BPE merge rounds (VERDICT r15 #8)
# ---------------------------------------------------------------------------

BPE_B_ROUNDS = 4  # counting rounds
BPE_B_K = 4       # merges per round -> 16 rules from 4 shuffles


def q_bpe_train_merges_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn 16 BPE merge rules in FOUR batched rounds (VERDICT r15
    #8): each round counts pairs ONCE and merges its top-4 in rank
    order — the HF-tokenizers batching that buys a target vocab with
    ~k-fold fewer corpus passes than the one-rule-per-round trainer
    (`bpe_train_merges`: 16 rules would cost 16 counting shuffles;
    this entry pays 4). Word table, charset pinning, tie order, and
    the greedy double-space merge are all the single-pair entry's
    contract; the batching trade (ranks 2..k counted before rank 1's
    merge applies) is deterministic by construction and the oracle
    unrolls the exact recurrence — one count CTE + 4 chained merge
    CTEs per round. The A/B wall-clock comparison against the
    single-pair trainer at the same 16-rule vocab is recorded in
    COVERAGE.md; the k=1 degeneration is pinned equal to
    `bpe_train_merges` in tests/test_rank.py."""
    docs = _t(spark, sf_dir, "documents")
    wf = _word_freq(docs)
    return bpe_train_merges_batched(
        wf, rounds=BPE_B_ROUNDS, k=BPE_B_K, checkpoint_every=0
    ).orderBy("step")


def _bpe_batched_oracle(
    rounds: int,
    k: int,
    wf_filter: str = _WF_FILTER_CHARS,
    w0_seg: str = _W0_SEG_CHARS,
) -> str:
    """Unrolled replay of `bpe_train_merges_batched`: per round ONE
    pair-count CTE, a top-k rank CTE, and k chained merge CTEs each
    applying one rank's pair with the double-space greedy replace; a
    missing rank LEFT JOINs NULL and leaves words unchanged (the
    trainer's early-exhaustion rule)."""
    parts = [
        "WITH toks AS MATERIALIZED (" + _TOKS_SQL + "),",
        f"""wf AS MATERIALIZED (
  SELECT term AS token, COUNT(*) AS freq
  FROM toks
  WHERE {wf_filter}
  GROUP BY term),""",
        f"""w0_{k} AS MATERIALIZED (
  SELECT {w0_seg} AS w, freq
  FROM wf),""",
    ]
    for r in range(1, rounds + 1):
        prev = f"w{r - 1}_{k}"
        parts.append(f"""p{r} AS MATERIALIZED (
  SELECT syms[i] AS lhs, syms[i + 1] AS rhs, SUM(freq)::BIGINT AS total
  FROM (SELECT string_split(w, ' ') AS syms, freq FROM {prev}) s,
       UNNEST(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2),
m{r} AS MATERIALIZED (
  SELECT lhs, rhs, total,
         ROW_NUMBER() OVER (ORDER BY total DESC, lhs ASC, rhs ASC)
           AS rank
  FROM p{r}
  QUALIFY rank <= {k}),""")
        for i in range(1, k + 1):
            src = prev if i == 1 else f"w{r}_{i - 1}"
            if r == rounds and i == k:
                break  # the final word table is never consumed
            parts.append(f"""w{r}_{i} AS MATERIALIZED (
  SELECT CASE WHEN m.lhs IS NULL THEN s.w
         ELSE trim(replace(
                replace(' ' || replace(s.w, ' ', '  ') || ' ',
                        ' ' || m.lhs || '  ' || m.rhs || ' ',
                        ' ' || m.lhs || m.rhs || ' '),
                '  ', ' ')) END AS w, s.freq
  FROM {src} s
  LEFT JOIN (SELECT lhs, rhs FROM m{r} WHERE rank = {i}) m ON TRUE),""")
    unions = "\nUNION ALL\n".join(
        f"SELECT (({r - 1}) * {k} + rank)::INT AS step, lhs, rhs, "
        f"lhs || rhs AS merged, total FROM m{r}"
        for r in range(1, rounds + 1)
    )
    body = "\n".join(parts).rstrip(",") + "\n"
    return body + unions + "\nORDER BY step"


ORACLE_BPE_TRAIN_MERGES_BATCHED = _bpe_batched_oracle(BPE_B_ROUNDS, BPE_B_K)


def q_bpe_train_merges_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level BPE training (GPT-2 style) — VERDICT r13 #4: the
    character-level entry pins ``^[a-z]+$`` because Spark and DuckDB
    segment multi-code-unit text differently; real pipelines train on
    BYTES so the base vocab is engine-agnostic by construction. Words
    pre-segment to their UTF-8 bytes as fixed-width hex pairs
    (`operators.bpe.spaced_utf8_bytes` — collision-free merges, any
    charset), so the ONLY filter left is byte-length >= 2 (no charset
    pinning at all: punctuation, digits, and non-ASCII words all
    train). Same 8-round merge loop, same per-iteration plan (one
    shuffle + TakeOrdered(1) + broadcast winner); the oracle unrolls
    the identical recurrence over the identical hex base vocab.
    Non-ASCII fidelity is separately pinned against a pure-Python
    reference in tests/test_rank.py.

    Remaining cross-engine dependency (ADVICE r14): only the hex
    SEGMENTATION is engine-agnostic by construction; the upstream
    tokenization (`_tokens` / `_TOKS_SQL`) still relies on
    lower() + '\\s+' split agreeing between Java (full Unicode case
    mapping, e.g. U+0130 lowercases to i + combining dot) and DuckDB
    (utf8proc per-codepoint lower). The two agree on every fixture
    (the gate would fail loudly on a divergence) but this entry does
    NOT claim tokenization-level engine independence for arbitrary
    text — pin inputs through `spaced_utf8_bytes` BEFORE any casing
    if that guarantee is needed."""
    docs = _t(spark, sf_dir, "documents")
    wf = (
        _tokens(docs)
        .groupBy(F.col("term").alias("token"))
        .agg(F.count(F.lit(1)).alias("freq"))
        # octet_length = byte length (matches the oracle's strlen)
        .where(F.octet_length("token") >= 2)
    )
    return bpe_train_merges(
        wf, iterations=BPE_STEPS, checkpoint_every=0,
        segmenter=spaced_utf8_bytes,
    ).orderBy("step")


ORACLE_BPE_TRAIN_MERGES_BYTES = _bpe_oracle(
    BPE_STEPS, wf_filter=_WF_FILTER_BYTES, w0_seg=_W0_SEG_BYTES
)


def q_streaming_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tokenizer APPLICATION (VERDICT r13 #7) — the live
    twin of `bpe_encode_corpus`, composing `bpe_apply_merges` with the
    streaming-admission pattern: the merge table is trained ONCE
    batch-side (the learned vocab a production tokenizer ships), then
    incoming documents stream through foreachBatch in multiple
    micro-batches (maxFilesPerTrigger=1 over a 4-file source), each
    batch tokenized and encoded against the broadcast rule chain, and
    per-batch (token, freq) counts appended to the sink. The final
    rollup merges the per-batch counts by (token, encoded, n_syms) —
    SUM is associative, and `encoded` is a pure function of the token
    under a FIXED rule table, so the result is independent of how the
    stream was batched. Stream-equals-batch: the oracle is the exact
    batch `bpe_encode_corpus` SQL. Fidelity across batch splits is
    separately pinned in tests/test_kafka_fidelity.py."""
    docs = _t(spark, sf_dir, "documents")

    # train once, batch-side; checkpoint so each micro-batch's encode
    # chain broadcasts the settled 8-row table instead of re-deriving it
    wf_all = _word_freq(docs).localCheckpoint(eager=True)
    rules = bpe_train_merges(
        wf_all, iterations=BPE_STEPS, checkpoint_every=0
    ).localCheckpoint(eager=True)

    with tempfile.TemporaryDirectory(
        prefix="stream_bpe_", ignore_cleanup_errors=True
    ) as d:
        stream = _staged_stream(
            spark, docs.select("doc_id", "text"), f"{d}/src"
        )

        def encode_batch(batch_df: DataFrame, _batch_id: int) -> None:
            enc = bpe_apply_merges(_word_freq(batch_df), rules, BPE_STEPS)
            enc.select("token", "freq", "encoded", "n_syms").write.mode(
                "append"
            ).parquet(f"{d}/out")

        drain(stream.writeStream.foreachBatch(encode_batch), f"{d}/ckpt")

        got = (
            spark.read.parquet(f"{d}/out")
            .groupBy("token", "encoded", "n_syms")
            .agg(F.sum("freq").alias("freq"))
            .select("token", "freq", "encoded", "n_syms")
            .orderBy(F.desc("freq"), F.asc("token"))
        )
        return _snapshot(got)


# stream-equals-batch: the oracle IS the batch encode oracle
# (ORACLE_STREAMING_BPE_ENCODE is assigned below _bpe_encode_oracle)


def q_bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train 8 merges, then ENCODE the vocabulary with them — the
    tokenizer-application pass (train -> encode closes the loop that
    `bpe_merge_candidates` opened). Returns one row per vocabulary
    word: (token, freq, encoded, n_syms), the per-word token sequence
    and count a packing/length-bucketing stage consumes downstream.
    Word table + normalization identical to `bpe_train_merges`; the
    encode chain semantics live on `operators.bpe.bpe_apply_merges`
    (including the early-stop-safe broadcast left joins and the
    Pandas-UDF scale seam for production rule counts)."""
    docs = _t(spark, sf_dir, "documents")
    wf = (
        _word_freq(docs)
        # one corpus pass feeds BOTH consumers: without this, training
        # materializes its own spaced copy AND the encode chain's final
        # execution re-runs the scan+aggregate a second time
        .localCheckpoint(eager=True)
    )
    rules = bpe_train_merges(wf, iterations=BPE_STEPS, checkpoint_every=0)
    return bpe_apply_merges(wf, rules, BPE_STEPS).orderBy(
        F.desc("freq"), F.asc("token")
    )


def _bpe_encode_oracle(iterations: int) -> str:
    """Unrolled encode replay: the training CTE chain (threading the
    original `token` through every w_k), then the final w_k IS the
    encoded vocabulary. Steps join LEFT ... ON TRUE so an early-stopped
    (empty) merge CTE leaves words unchanged, matching
    `bpe_apply_merges`."""
    parts = [
        "WITH toks AS MATERIALIZED (" + _TOKS_SQL + "),",
        """wf AS MATERIALIZED (
  SELECT term AS token, COUNT(*) AS freq
  FROM toks
  WHERE len(term) >= 2 AND regexp_matches(term, '^[a-z]+$')
  GROUP BY term),""",
        r"""w0 AS MATERIALIZED (
  SELECT token, trim(regexp_replace(token, '(.)', '\1 ', 'g')) AS w, freq
  FROM wf),""",
    ]
    for k in range(1, iterations + 1):
        p = k - 1
        parts.append(f"""p{k} AS MATERIALIZED (
  SELECT syms[i] AS lhs, syms[i + 1] AS rhs, SUM(freq)::BIGINT AS total
  FROM (SELECT string_split(w, ' ') AS syms, freq FROM w{p}) s,
       UNNEST(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2),
m{k} AS (
  SELECT lhs, rhs FROM p{k}
  ORDER BY total DESC, lhs ASC, rhs ASC LIMIT 1),
w{k} AS MATERIALIZED (
  SELECT token,
         CASE WHEN m.lhs IS NULL THEN w
              ELSE trim(replace(
                     replace(' ' || replace(w, ' ', '  ') || ' ',
                             ' ' || m.lhs || '  ' || m.rhs || ' ',
                             ' ' || m.lhs || m.rhs || ' '),
                     '  ', ' '))
         END AS w, freq
  FROM w{p} LEFT JOIN m{k} m ON TRUE),""")
    body = "\n".join(parts).rstrip(",") + "\n"
    return body + (
        f"SELECT token, freq, w AS encoded,\n"
        f"       len(string_split(w, ' '))::INT AS n_syms\n"
        f"FROM w{iterations}\n"
        f"ORDER BY freq DESC, token ASC"
    )


ORACLE_BPE_ENCODE_CORPUS = _bpe_encode_oracle(BPE_STEPS)

# stream-equals-batch: the streaming encode entry's oracle IS the
# batch encode oracle (q_streaming_bpe_encode docstring)
ORACLE_STREAMING_BPE_ENCODE = _bpe_encode_oracle(BPE_STEPS)


# ---------------------------------------------------------------------------
# Streaming embedding admission (vector near-dup gate on ingest)
# ---------------------------------------------------------------------------

EMB_ADMIT_THRESHOLD = 0.35


def q_streaming_embedding_admission(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming EMBEDDING admission — the vector twin of
    `streaming_neardup_admission`: incoming embeddings (vec_id % 4 ==
    0) stream through foreachBatch and each is admitted iff NO corpus
    vector (the other three quarters) has cosine >= 0.35 with it.

    Shape: the static corpus projects once to a persisted (vid, v)
    relation; per micro-batch the (bounded) incoming vectors broadcast
    as a normalized numpy matrix and ONE Arrow matmul pass over the
    corpus emits per-partition neighbor counts, summed per incoming id
    — the `_bruteforce_topk` kernel re-pointed at threshold counting.
    EXHAUSTIVE by design: a deliberate contrast with the LSH text
    admission — probing buckets cannot be recall-complete for a cosine
    threshold over dense vectors (measured: 16/32 IVF probes still
    miss 14%% of >=0.35 pairs on this corpus), so a hard filter must
    scan, and the scalable form is the blocked matmul with the corpus
    cached across batches. The oracle recomputes the admission
    exhaustively; per-id counts are batch-split-independent (each
    incoming id is processed in exactly one batch)."""
    import numpy as np

    from ..operators.similarity import _ann_src

    emb = _t(spark, sf_dir, "embeddings")
    static_src = _ann_src(
        emb.where(F.col("vec_id") % 4 != 0), "vec_id", "embedding"
    ).persist()

    with tempfile.TemporaryDirectory(
        prefix="stream_emb_", ignore_cleanup_errors=True
    ) as d:
        try:
            incoming = emb.where(F.col("vec_id") % 4 == 0).select(
                "vec_id", "embedding"
            )
            stream = _staged_stream(spark, incoming, f"{d}/src")

            def admit_batch(batch_df: DataFrame, _batch_id: int) -> None:
                rows = batch_df.limit(100_001).collect()
                if len(rows) > 100_000:
                    raise ValueError(
                        "streaming_embedding_admission: micro-batch exceeds "
                        "the broadcast bound — shrink maxFilesPerTrigger"
                    )
                if not rows:
                    return
                qids = np.array([r.vec_id for r in rows], dtype=np.int64)
                Q = np.array([list(r.embedding) for r in rows],
                             dtype=np.float64)
                Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
                bc = spark.sparkContext.broadcast((qids, Qn))

                def count_close(batches):
                    import numpy as _np
                    import pandas as _pd

                    ids_, Qn_ = bc.value
                    for pdf in batches:
                        if pdf.empty:
                            continue
                        V = _np.array(list(pdf["v"]), dtype=_np.float64)
                        Vn = V / _np.linalg.norm(V, axis=1, keepdims=True)
                        # 6dp HALF_UP before the threshold — the same
                        # cross-engine contract as the batch near-dup ops
                        S = _np.floor(Vn @ Qn_.T * 1e6 + 0.5) / 1e6
                        cnt = (S >= EMB_ADMIT_THRESHOLD).sum(axis=0)
                        yield _pd.DataFrame(
                            {"vec_id": ids_, "n_part": cnt.astype("int64")}
                        )

                partial = static_src.mapInPandas(
                    count_close, schema="vec_id bigint, n_part bigint"
                )
                agg = partial.groupBy("vec_id").agg(
                    F.sum("n_part").alias("n_neardups")
                )
                agg.write.mode("append").parquet(f"{d}/out")
                bc.unpersist()

            drain(stream.writeStream.foreachBatch(admit_batch), f"{d}/ckpt")

            got = spark.read.parquet(f"{d}/out").select(
                "vec_id",
                "n_neardups",
                (F.col("n_neardups") == 0).alias("admitted"),
            )
            return _snapshot(got)
        finally:
            static_src.unpersist()


_COS6 = (
    "ROUND(list_dot_product(i.e, c.e) / "
    "(sqrt(list_dot_product(i.e, i.e)) * "
    "sqrt(list_dot_product(c.e, c.e))), 6)"
)

ORACLE_STREAMING_EMBEDDING_ADMISSION = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
inc AS (SELECT * FROM v WHERE vec_id % 4 = 0),
cor AS (SELECT * FROM v WHERE vec_id % 4 <> 0),
m AS (
  SELECT i.vec_id, COUNT(*)::BIGINT AS n_neardups
  FROM inc i JOIN cor c ON {_COS6} >= {EMB_ADMIT_THRESHOLD}
  GROUP BY 1)
SELECT i.vec_id,
       COALESCE(m.n_neardups, 0)::BIGINT AS n_neardups,
       COALESCE(m.n_neardups, 0) = 0 AS admitted
FROM inc i LEFT JOIN m USING (vec_id)
"""


# ---------------------------------------------------------------------------
# Vocabulary coverage curve (Zipf coverage — tokenizer sizing analytic)
# ---------------------------------------------------------------------------

COVERAGE_KS = [100, 1000, 10000]


def q_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative corpus-token coverage of the top-k vocabulary for
    k in {100, 1k, 10k} — the Zipf-coverage curve every tokenizer/
    vocab-sizing decision starts from ("how much of the stream do the
    top 10k types cover?"). One row per k:
    (k, n_tokens = vocab types actually available at that k,
    covered_tokens, total_tokens, coverage_ppm).

    Exactness: coverage_ppm = covered * 1e6 DIV total (BIGINT floor
    division — the integer-ppm discipline), counts are integer sums.

    Scale shape: the vocab aggregate is ONE corpus shuffle,
    materialized once (localCheckpoint) and consumed by the 1-row
    total reduce plus three TakeOrderedAndProject top-k cuts
    (per-partition heaps — never a global sort/window over the
    unbounded vocab relation); each k's coverage is then a 1-row
    aggregate over <= k rows. No stage touches more than |vocab| rows
    after the first shuffle."""
    docs = _t(spark, sf_dir, "documents")
    wf = (
        _tokens(docs)
        .groupBy(F.col("term").alias("token"))
        .agg(F.count(F.lit(1)).alias("freq"))
        .localCheckpoint(eager=True)
    )
    total = wf.agg(F.sum("freq").cast("long").alias("total_tokens"))
    rows = []
    for k in COVERAGE_KS:
        topk = (
            wf.orderBy(F.desc("freq"), F.asc("token"))
            .limit(k)
            .agg(
                F.lit(k).cast("int").alias("k"),
                F.count(F.lit(1)).alias("n_tokens"),
                F.sum("freq").cast("long").alias("covered_tokens"),
            )
        )
        rows.append(topk)
    from functools import reduce as _reduce

    curve = _reduce(DataFrame.unionByName, rows).crossJoin(
        F.broadcast(total)
    )
    return curve.select(
        "k",
        "n_tokens",
        "covered_tokens",
        "total_tokens",
        F.expr("covered_tokens * 1000000L div total_tokens").alias(
            "coverage_ppm"
        ),
    )


ORACLE_VOCAB_COVERAGE = (
    "WITH toks AS (" + _TOKS_SQL + "),\n"
    """wf AS MATERIALIZED (
  SELECT term AS token, COUNT(*)::BIGINT AS freq FROM toks GROUP BY term),
tot AS (SELECT SUM(freq)::BIGINT AS total_tokens FROM wf),
r AS (
  SELECT freq,
         ROW_NUMBER() OVER (ORDER BY freq DESC, token ASC) AS rn
  FROM wf),
ks AS (SELECT unnest(["""
    + ", ".join(str(k) for k in COVERAGE_KS)
    + """]) AS k)
SELECT ks.k::INT AS k,
       COUNT(*)::BIGINT AS n_tokens,
       SUM(r.freq)::BIGINT AS covered_tokens,
       MAX(tot.total_tokens)::BIGINT AS total_tokens,
       (SUM(r.freq)::BIGINT * 1000000 // MAX(tot.total_tokens))::BIGINT
         AS coverage_ppm
FROM ks JOIN r ON r.rn <= ks.k CROSS JOIN tot
GROUP BY ks.k"""
)


# ---------------------------------------------------------------------------
# BM25 document ranking for a fixed query
# ---------------------------------------------------------------------------

BM25_TERMS = ["spark", "window", "vector"]
BM25_TOP_K = 15


def _bm25_micro(
    tf: Column, df: Column, dl: Column, n_docs: Column, t_tokens: Column
) -> Column:
    """Per-term BM25 partial score in integer MICRO units.

    BM25 (k1 = 1.2, b = 0.75; Robertson & Zaragoza 2009) with the
    Lucene non-negative idf ``ln(1 + (N - df + .5)/(df + .5))`` =
    ``ln(2N + 2) - ln(2df + 1)``. The tf part is cleared to an exact
    integer fraction (multiply num and den by 20·T, with avgdl = T/N):

        tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))
          = 44·tf·T / (20·tf·T + 6·T + 18·N·dl)

    so the ONLY inexact steps are the two ln calls on exact small
    integers and the final double multiply/divide (all IEEE correctly
    rounded); rounding into micro-units makes a cross-engine ulp flip
    ~1e-9-probable per row. Numerator bound: 44·tf·T < 2^63 while
    tf·T < 2e17 — at corpus sizes beyond ~1e13 tokens divide T's ppm
    out first (documented scale seam)."""
    idf = F.log(2 * n_docs + F.lit(2).cast("double")) - F.log(
        (2 * df + F.lit(1)).cast("double")
    )
    num = F.lit(44) * tf * t_tokens
    den = F.lit(20) * tf * t_tokens + F.lit(6) * t_tokens + F.lit(18) * n_docs * dl
    return F.round(
        F.lit(1000000.0) * idf * (num / den.cast("double"))
    ).cast("long")


def q_bm25_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 documents by BM25 for the fixed query
    ``spark window vector``.

    Scale shape: a single groupBy(doc_id) computes document length AND
    the per-query-term tfs (conditional sums: the query is a pinned
    3-term list, so the per-term structure unrolls into columns — no
    token-level join); the global constants (total tokens T, per-term
    dfs) reduce that |docs|-row table to ONE row, recombined by a
    broadcast-trivial cross join; scoring is then row-local integer
    arithmetic and the top-15 runs as TakeOrderedAndProject on
    (score DESC, doc_id). N comes from a parquet metadata count (no
    data read). The per-doc aggregate is referenced TWICE (global
    reduce + scoring join), so the lazy plan tokenizes the corpus
    twice — kept lazy here so the posture suite audits the plan
    (PLANS.md: 2-column pruned scans, one bounded 1-row BNLJ); at
    production scale persist/localCheckpoint `per_doc` to make it one
    corpus pass plus a |docs|-row rescan. Document score = SUM of
    per-term integer micro-scores, so it is associative and exact —
    no float-sum order dependence (see _bm25_micro for the envelope
    on the two ln calls)."""
    docs = _t(spark, sf_dir, "documents")
    n_docs = F.lit(docs.count())
    per_doc = (
        _tokens(docs, with_doc=True)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("dl"),
            *[
                F.sum(
                    F.when(F.col("term") == t, 1).otherwise(0)
                ).cast("long").alias(f"tf_{t}")
                for t in BM25_TERMS
            ],
        )
    )
    glob = per_doc.agg(
        F.sum("dl").alias("t_tokens"),
        *[
            F.sum(
                F.when(F.col(f"tf_{t}") > 0, 1).otherwise(0)
            ).cast("long").alias(f"df_{t}")
            for t in BM25_TERMS
        ],
    )
    scored = per_doc.crossJoin(F.broadcast(glob))
    parts = [
        F.when(
            F.col(f"tf_{t}") > 0,
            _bm25_micro(
                F.col(f"tf_{t}"),
                F.col(f"df_{t}"),
                F.col("dl"),
                n_docs,
                F.col("t_tokens"),
            ),
        ).otherwise(F.lit(0).cast("long"))
        for t in BM25_TERMS
    ]
    n_terms = sum(
        (F.col(f"tf_{t}") > 0).cast("int") for t in BM25_TERMS
    ).alias("n_terms")
    score = sum(parts).alias("score_micro")
    return (
        scored.select(
            "doc_id",
            "dl",
            *[F.col(f"tf_{t}") for t in BM25_TERMS],
            n_terms,
            score,
        )
        .orderBy(F.desc("score_micro"), F.asc("doc_id"))
        .limit(BM25_TOP_K)
    )


def _bm25_term_sql(t: str) -> str:
    return (
        f"(CASE WHEN tf_{t} > 0 THEN CAST(ROUND(1000000.0 * "
        f"(ln(CAST(2 * n_docs + 2 AS DOUBLE)) - "
        f"ln(CAST(2 * df_{t} + 1 AS DOUBLE))) * "
        f"((44 * tf_{t} * t_tokens) / "
        f"CAST(20 * tf_{t} * t_tokens + 6 * t_tokens + 18 * n_docs * dl "
        f"AS DOUBLE))) AS BIGINT) ELSE 0 END)"
    )


# per-doc length and term counts (`pd`), corpus token total and
# document frequencies (`g`), and the document count (`n`)
_BM25_STATS = (
    "WITH toks AS (" + _TOKS_SQL + "),\n"
    "pd AS (\n"
    "  SELECT doc_id, COUNT(*)::BIGINT AS dl,\n"
    + ",\n".join(
        f"    SUM(CASE WHEN term = '{t}' THEN 1 ELSE 0 END)::BIGINT AS tf_{t}"
        for t in BM25_TERMS
    )
    + "\n  FROM toks GROUP BY doc_id),\n"
    "g AS (\n"
    "  SELECT SUM(dl)::BIGINT AS t_tokens,\n"
    + ",\n".join(
        f"    SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END)::BIGINT AS df_{t}"
        for t in BM25_TERMS
    )
    + "\n  FROM pd),\n"
    "n AS (SELECT COUNT(*)::BIGINT AS n_docs FROM documents)"
)

ORACLE_BM25_TOP_DOCS = (
    _BM25_STATS + "\n"
    "SELECT doc_id, dl, "
    + ", ".join(f"tf_{t}" for t in BM25_TERMS)
    + ",\n       ("
    + " + ".join(f"CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END" for t in BM25_TERMS)
    + ")::INT AS n_terms,\n       ("
    + "\n        + ".join(_bm25_term_sql(t) for t in BM25_TERMS)
    + ") AS score_micro\n"
    "FROM pd CROSS JOIN g CROSS JOIN n\n"
    f"ORDER BY score_micro DESC, doc_id ASC LIMIT {BM25_TOP_K}"
)





# ---------------------------------------------------------------------------
# Product-quantization ADC approximate nearest neighbors
# ---------------------------------------------------------------------------

PQ_M = 16          # subspaces (64 dims -> 4 dims each)
PQ_CODES = 16      # codewords per subspace
PQ_CANDS = 50      # ADC candidates fed to the exact rerank
PQ_K = 5


def q_ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ + asymmetric-distance (ADC) approximate cosine top-5 — the
    third ANN scale path beside LSH (bucketed) and IVF (inverted
    file): the scan relation carries 16 small integer codes per vector
    instead of 64 doubles (~32x scan-byte reduction), per-query work is
    a distance-table lookup + 16 additions per vector, and raw vectors
    are touched again only for the 50-candidate exact rerank (equi
    join back on id). Training/encode/ADC determinism contract on
    `operators.similarity.cosine_topk_pq`; recall@5 vs brute force is
    pinned >= 0.7 in tests (measured 0.88 at sf0.01). The oracle
    replays the ENTIRE recipe — md5-ordered seeds, one Lloyd round per
    subspace (squared-L2 zip-lambda, 6dp-rounded means), encode,
    6dp-rounded distance tables summed in subspace order, candidate
    cut, exact rerank."""
    from ..operators.similarity import cosine_topk_pq

    emb = _t(spark, sf_dir, "embeddings")
    # Oracle-parity scope switch (VERDICT r14 #1, retiring the old
    # hard assert): pq_codebooks' sampled training agrees with the
    # whole-corpus SQL oracle only while the <=4096-row md5 sample
    # covers the corpus; past that bound the entry trains FULL-scope
    # (distributed Lloyd — one Arrow assignment pass + one
    # partial-combined groupBy per iteration), which replays the same
    # oracle exactly at any size. Both regimes are deterministic; the
    # count() is one cheap metadata-ish job on a narrow projection.
    scope = "sample" if emb.count() <= 4096 else "full"
    queries = emb.where(F.col("vec_id") < 10)
    return cosine_topk_pq(
        emb, queries, k=PQ_K, m=PQ_M, n_codes=PQ_CODES,
        n_candidates=PQ_CANDS, lloyd_iters=1, train_scope=scope,
    )


def _d2(a: str, b: str) -> str:
    """Squared L2 between two lists, in the exact zip-lambda form (NOT
    list_distance^2: squaring the sqrt differs in the last ulp from the
    direct sum of squares the Spark side computes)."""
    return (f"list_sum(list_transform(list_zip({a}, {b}), "
            f"x -> (x[1] - x[2]) ^ 2))")


def _cosine(a: str, b: str) -> str:
    """Cosine of two lists, on one line."""
    return (f"list_dot_product({a}, {b}) / "
            f"(sqrt(list_dot_product({a}, {a})) * "
            f"sqrt(list_dot_product({b}, {b})))")


# the coarse centroids `cent` (cid, e) after one Lloyd round (`seeds`
# updated by the 6dp per-dim means `cm`) and their 6dp-rounded
# normalized residual basis `crc` (cid, rc)
_COARSE_CENT = """cml AS (SELECT cid, list(mv ORDER BY d) AS e FROM cm GROUP BY cid),
cent AS MATERIALIZED (
  SELECT s.cid, COALESCE(ml.e, s.e) AS e
  FROM seeds s LEFT JOIN cml ml ON s.cid = ml.cid),
crc AS MATERIALIZED (
  SELECT cid,
         list_transform(
           e, x -> ROUND(x / sqrt(list_dot_product(e, e)), 6)) AS rc
  FROM cent)"""


def _pq_train(m: int, n_codes: int) -> str:
    """The residual PQ codebooks `pcb` (j, pcid, c) over `res` (vec_id,
    r): `n_codes` md5-ordered seeds, one Lloyd round per subspace with
    6dp means, for `m` subspaces of 64 // m dims."""
    dsub = 64 // m
    sub_s0 = f"res.r[s0.j*{dsub}+1 : s0.j*{dsub}+{dsub}]"
    return f"""pseeds AS (
  SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
           - 1 AS pcid, r
  FROM res ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT {n_codes}),
js AS (SELECT unnest(range(0, {m})) AS j),
s0 AS MATERIALIZED (
  SELECT js.j, p.pcid, p.r[js.j*{dsub}+1 : js.j*{dsub}+{dsub}] AS c
  FROM pseeds p, js),
p1 AS (
  SELECT vec_id, j, pcid FROM (
    SELECT res.vec_id, s0.j, s0.pcid,
           ROW_NUMBER() OVER (
             PARTITION BY res.vec_id, s0.j
             ORDER BY {_d2(sub_s0, "s0.c")} ASC, s0.pcid ASC) AS rn
    FROM res, s0) WHERE rn = 1),
pm AS (
  SELECT p1.j, p1.pcid, dd.d,
         ROUND(AVG(res.r[p1.j*{dsub} + dd.d]), 6) AS mv
  FROM p1 JOIN res USING (vec_id)
  CROSS JOIN (SELECT unnest(range(1, {dsub + 1})) AS d) dd
  GROUP BY 1, 2, 3),
pml AS (SELECT j, pcid, list(mv ORDER BY d) AS c FROM pm GROUP BY j, pcid),
pcb AS MATERIALIZED (
  SELECT s0.j, s0.pcid, COALESCE(pml.c, s0.c) AS c
  FROM s0 LEFT JOIN pml ON s0.j = pml.j AND s0.pcid = pml.pcid)"""


def _pq_oracle() -> str:
    dsub = 64 // PQ_M
    adc_terms = " + ".join(
        f"dts[{j * PQ_CODES} + cs[{j + 1}] + 1]" for j in range(PQ_M)
    )
    sub = f"u[cb.j*{dsub}+1 : cb.j*{dsub}+{dsub}]"
    sub_s0 = f"u[s0.j*{dsub}+1 : s0.j*{dsub}+{dsub}]"
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
vn AS MATERIALIZED (
  SELECT vec_id, e,
         list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS u
  FROM v),
seeds AS (
  SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
           - 1 AS cid, u
  FROM vn ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {PQ_CODES}),
js AS (SELECT unnest(range(0, {PQ_M})) AS j),
s0 AS MATERIALIZED (
  SELECT js.j, s.cid, s.u[js.j*{dsub}+1 : js.j*{dsub}+{dsub}] AS c
  FROM seeds s, js),
a1 AS (
  SELECT vec_id, j, cid FROM (
    SELECT vn.vec_id, s0.j, s0.cid,
           ROW_NUMBER() OVER (
             PARTITION BY vn.vec_id, s0.j
             ORDER BY {_d2("vn." + sub_s0, "s0.c")} ASC, s0.cid ASC) AS rn
    FROM vn, s0) WHERE rn = 1),
mm AS (
  SELECT a1.j, a1.cid, dd.d, ROUND(AVG(vn.u[a1.j*{dsub} + dd.d]), 6) AS mv
  FROM a1 JOIN vn USING (vec_id)
  CROSS JOIN (SELECT unnest(range(1, {dsub + 1})) AS d) dd
  GROUP BY 1, 2, 3),
ml AS (SELECT j, cid, list(mv ORDER BY d) AS c FROM mm GROUP BY j, cid),
cb AS MATERIALIZED (
  SELECT s0.j, s0.cid, COALESCE(ml.c, s0.c) AS c
  FROM s0 LEFT JOIN ml ON s0.j = ml.j AND s0.cid = ml.cid),
codes AS (
  SELECT vec_id, j, cid FROM (
    SELECT vn.vec_id, cb.j, cb.cid,
           ROW_NUMBER() OVER (
             PARTITION BY vn.vec_id, cb.j
             ORDER BY {_d2("vn." + sub, "cb.c")} ASC, cb.cid ASC) AS rn
    FROM vn, cb) WHERE rn = 1),
cl AS MATERIALIZED (
  SELECT vec_id, list(cid ORDER BY j) AS cs FROM codes GROUP BY vec_id),
q AS (SELECT vec_id AS query_id, u FROM vn WHERE vec_id < 10),
dt AS (
  SELECT q.query_id, cb.j, cb.cid,
         ROUND({_d2("q." + sub, "cb.c")}, 6) AS dd2
  FROM q, cb),
dtl AS MATERIALIZED (
  SELECT query_id, list(dd2 ORDER BY j, cid) AS dts FROM dt GROUP BY query_id),
adc AS (
  SELECT dtl.query_id, cl.vec_id, ({adc_terms}) AS ad
  FROM cl, dtl WHERE cl.vec_id <> dtl.query_id),
cand AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY ad ASC, vec_id ASC) AS rn
    FROM adc) WHERE rn <= {PQ_CANDS}),
scored AS (
  SELECT c.query_id, c.vec_id AS neighbor_id,
         ROUND(list_dot_product(a.e, b.e) /
               (sqrt(list_dot_product(a.e, a.e)) *
                sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
  FROM cand c
  JOIN v a ON a.vec_id = c.query_id
  JOIN v b ON b.vec_id = c.vec_id),
{_top_k_sql(PQ_K)}"""


ORACLE_ANN_PQ_ADC = _pq_oracle()


# ---------------------------------------------------------------------------
# IVFPQ: IVF coarse quantization + PQ on residuals (IVFADC)
# ---------------------------------------------------------------------------

IVFPQ_NC = 32      # coarse centroids
IVFPQ_NP = 10      # probed buckets per query
IVFPQ_M = 16       # PQ subspaces over the 64-dim residual
IVFPQ_CODES = 16   # codewords per subspace
IVFPQ_CANDS = 80   # ADC candidates fed to the exact rerank
IVFPQ_K = 5


def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ-on-residuals approximate cosine top-5 (IVFADC, the
    FAISS-standard composition): the coarse quantizer prunes the scan
    to the ~n_probe/n_centroids probed buckets via an EQUI hash join
    on bucket id (contrast `ann_pq_adc`, whose ADC pass is an honest
    full linear code scan), and inside those buckets the scan rows
    carry 16 small integer codes instead of 64 doubles. Per-query work
    at 100 TB is therefore (probe fraction) x (code bytes / raw bytes)
    of a brute scan, with exact rerank touching only 80 candidate ids.
    Determinism contract on `operators.similarity.cosine_topk_ivfpq`;
    recall@5 vs brute force pinned >= 0.7 in tests (measured 0.80 at
    sf0.01). The oracle replays the ENTIRE recipe: md5-sample coarse
    seeds -> Lloyd (6dp means) -> 6dp-rounded residual basis ->
    residual PQ codebooks (seeds, Lloyd, 6dp means) -> encode ->
    probe selection -> per-(query, bucket) 6dp distance tables ->
    bucket-equi ADC -> candidate cut -> exact rerank."""
    from ..operators.similarity import cosine_topk_ivfpq

    emb = _t(spark, sf_dir, "embeddings")
    # Same oracle-parity scope switch as ann_pq_adc (VERDICT r14 #1):
    # sampled training while the md5 sample covers the corpus,
    # distributed full-scope training past that bound — the
    # whole-corpus oracle replays both regimes exactly.
    scope = "sample" if emb.count() <= 4096 else "full"
    queries = emb.where(F.col("vec_id") < 10)
    return cosine_topk_ivfpq(
        emb, queries, k=IVFPQ_K, n_centroids=IVFPQ_NC, n_probe=IVFPQ_NP,
        m=IVFPQ_M, n_codes=IVFPQ_CODES, n_candidates=IVFPQ_CANDS,
        lloyd_iters=1, train_scope=scope,
    )


def _ivfpq_oracle(
    nc: int = IVFPQ_NC,
    n_probe: int = IVFPQ_NP,
    m: int = IVFPQ_M,
    n_codes: int = IVFPQ_CODES,
    n_cands: int = IVFPQ_CANDS,
    k: int = IVFPQ_K,
) -> str:
    dsub = 64 // m
    adc_terms = " + ".join(
        f"dts[{j * n_codes} + cs[{j + 1}] + 1]" for j in range(m)
    )
    sub_cb = f"res.r[pcb.j*{dsub}+1 : pcb.j*{dsub}+{dsub}]"
    sub_q = f"q.rq[pcb.j*{dsub}+1 : pcb.j*{dsub}+{dsub}]"
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
vn AS MATERIALIZED (
  SELECT vec_id, e,
         list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS u
  FROM v),
seeds AS (
  SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
           - 1 AS cid, e
  FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {nc}),
a1 AS (
  SELECT vec_id, cid FROM (
    SELECT v.vec_id, s.cid,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY {_cosine("v.e", "s.e")} DESC, s.cid) AS rn
    FROM v, seeds s) WHERE rn = 1),
cm AS (
  SELECT a1.cid, dd.d, ROUND(AVG(v.e[dd.d]), 6) AS mv
  FROM a1 JOIN v USING (vec_id)
  CROSS JOIN (SELECT unnest(range(1, 65)) AS d) dd
  GROUP BY 1, 2),
{_COARSE_CENT},
a2 AS (
  SELECT vec_id, cid FROM (
    SELECT v.vec_id, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY {_cosine("v.e", "c.e")} DESC, c.cid) AS rn
    FROM v, cent c) WHERE rn = 1),
res AS MATERIALIZED (
  SELECT vn.vec_id, a2.cid AS bucket,
         list_transform(list_zip(vn.u, crc.rc), x -> x[1] - x[2]) AS r
  FROM vn JOIN a2 USING (vec_id) JOIN crc ON crc.cid = a2.cid),
{_pq_train(m, n_codes)},
codes AS (
  SELECT vec_id, j, pcid FROM (
    SELECT res.vec_id, pcb.j, pcb.pcid,
           ROW_NUMBER() OVER (
             PARTITION BY res.vec_id, pcb.j
             ORDER BY {_d2(sub_cb, "pcb.c")} ASC, pcb.pcid ASC) AS rn
    FROM res, pcb) WHERE rn = 1),
cl AS MATERIALIZED (
  SELECT codes.vec_id, ANY_VALUE(res.bucket) AS bucket,
         list(codes.pcid ORDER BY codes.j) AS cs
  FROM codes JOIN res USING (vec_id)
  GROUP BY codes.vec_id),
probes AS (
  SELECT vec_id AS query_id, cid AS bucket FROM (
    SELECT v.vec_id, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY {_cosine("v.e", "c.e")} DESC, c.cid) AS rn
    FROM v, cent c WHERE v.vec_id < 10) WHERE rn <= {n_probe}),
qres AS MATERIALIZED (
  SELECT p.query_id, p.bucket,
         list_transform(list_zip(vn.u, crc.rc), x -> x[1] - x[2]) AS rq
  FROM probes p JOIN vn ON vn.vec_id = p.query_id
  JOIN crc ON crc.cid = p.bucket),
dt AS (
  SELECT q.query_id, q.bucket, pcb.j, pcb.pcid,
         ROUND({_d2(sub_q, "pcb.c")}, 6) AS dd2
  FROM qres q, pcb),
dtl AS MATERIALIZED (
  SELECT query_id, bucket, list(dd2 ORDER BY j, pcid) AS dts
  FROM dt GROUP BY 1, 2),
adc AS (
  SELECT dtl.query_id, cl.vec_id, ({adc_terms}) AS ad
  FROM cl JOIN dtl ON cl.bucket = dtl.bucket
  WHERE cl.vec_id <> dtl.query_id),
cand AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY ad ASC, vec_id ASC) AS rn
    FROM adc) WHERE rn <= {n_cands}),
scored AS (
  SELECT c.query_id, c.vec_id AS neighbor_id,
         ROUND({_cosine("a.e", "b.e")}, 6) AS cosine
  FROM cand c
  JOIN v a ON a.vec_id = c.query_id
  JOIN v b ON b.vec_id = c.vec_id),
{_top_k_sql(k)}"""


ORACLE_ANN_IVFPQ = _ivfpq_oracle()


# ---------------------------------------------------------------------------
# IVFPQ with DISTRIBUTED full-corpus codebook training (VERDICT r14 #1)
# ---------------------------------------------------------------------------

FT_NC = 16         # coarse centroids
FT_NP = 10         # probed buckets per query
FT_M = 16          # PQ subspaces over the 64-dim residual (dsub = 4)
FT_CODES = 16      # codewords per subspace
FT_CANDS = 80      # ADC candidates fed to the exact rerank
FT_K = 5
FT_SAMPLE = 256    # the sampled-training budget this entry EXCEEDS


def q_ann_ivfpq_fulltrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC with codebooks trained DISTRIBUTED over the ENTIRE
    corpus (VERDICT r14 #1) — the entry that retires the
    corpus<=sample_size oracle-parity seam by demonstration: the
    corpus here (500 vectors at sf0.01, 2000 at sf0.1) EXCEEDS the
    256-row sampled-training budget, so the old driver-side sampled
    Lloyd would train on half the data or less and silently diverge
    from the whole-corpus SQL oracle; ``train_scope="full"`` instead
    runs each Lloyd update as ONE broadcast-assignment Arrow pass plus
    ONE partial-combined groupBy shuffle (coarse: groupBy(bucket) with
    map-side partial sums; residual PQ: per-batch partial sums capped
    at m x n_codes rows per Arrow batch, then groupBy(j, cell)), and
    the driver finalizes <= n_centroids + m x n_codes 6dp-rounded
    means per iteration — codebook training is now corpus-scale, the
    FAISS train()-on-a-sample contract becomes an optimization choice
    instead of a correctness bound. Determinism rules unchanged
    (md5-order seeds, lowest-id ties, HALF_UP 6dp means, empty cells
    keep seeds), so the oracle below replays the distributed
    iterations EXACTLY — it is the same whole-corpus recipe as
    `ann_ivfpq`'s, at this entry's geometry (16 centroids / 10 probes
    / 16 subspaces of width 4 / 80 candidates; recall@5 vs brute
    force pinned >= 0.7 in tests, measured 0.82 at sf0.01). The guard
    asserts the
    corpus really is LARGER than the sampled budget so the
    demonstration can't silently degenerate into the covered-by-sample
    regime."""
    from ..operators.similarity import cosine_topk_ivfpq

    emb = _t(spark, sf_dir, "embeddings")
    n = emb.count()
    if n <= FT_SAMPLE:
        raise AssertionError(
            f"ann_ivfpq_fulltrain exists to exercise full-scope "
            f"training BEYOND the {FT_SAMPLE}-row sampled budget; "
            f"embeddings has only {n} rows"
        )
    queries = emb.where(F.col("vec_id") < 10)
    return cosine_topk_ivfpq(
        emb, queries, k=FT_K, n_centroids=FT_NC, n_probe=FT_NP,
        m=FT_M, n_codes=FT_CODES, n_candidates=FT_CANDS,
        lloyd_iters=1, sample_size=FT_SAMPLE, train_scope="full",
    )


ORACLE_ANN_IVFPQ_FULLTRAIN = _ivfpq_oracle(
    nc=FT_NC, n_probe=FT_NP, m=FT_M, n_codes=FT_CODES,
    n_cands=FT_CANDS, k=FT_K,
)


# ---------------------------------------------------------------------------
# Learned quality classifier: hashed-feature Naive Bayes (VERDICT r14 #4)
# ---------------------------------------------------------------------------

NBQ_BUCKETS = 512          # hashed feature space (2^9 token buckets)
NBQ_SPLIT_HEX = "80000000"  # md5 half-split: the training seed set
NBQ_LABEL_CHARS = 250      # seed label: n_chars >= 250 -> positive class
NBQ_PPM = 1_000_000


def q_doc_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality classifier (VERDICT r14 #4) — the
    fastText/CCNet-shaped counterpart to the heuristic
    `doc_quality` score: train a hashed-feature Naive Bayes on a
    deterministic seed set, then score EVERY document, all under the
    family's exact-integer replay discipline (no SGD, no floats, no
    RNG):

    - Seed set: the deterministic md5 half-split (the
      `hash_sample_split` coordinate, salt ``nbq_``) — train docs are
      those whose 8-hex bucket < '80000000'. Seed labels are the crisp
      proxy ``n_chars >= 250`` (long documents as the high-quality
      class — the CCNet trick of using an available signal as weak
      supervision; ~60% positive on the fixtures).
    - Features: each token hashes to one of 512 buckets via the
      32-bit md5-prefix integer mod 512 — the hashing trick, so the
      model is a FIXED 512-row table regardless of vocabulary size.
    - Training = counting (the NB closed form): per bucket, token
      occurrences in positive / negative seed docs (ONE shuffle on the
      bucket id with map-side partial aggregation), plus the two class
      totals (an agg over the 512-row count table, cross-joined back
      as a 1-row constants relation — bm25's allowlisted shape).
    - Scoring, log-free (the `doc_bigram_lm_score` arithmetic):
      instead of summing log-likelihood ratios (transcendental, float
      association), each token contributes the INTEGER ppm-scaled
      Laplace-smoothed likelihood ratio
      ``((n_pos_h + 1) * (n_neg + 512) * 1e6) div
      ((n_neg_h + 1) * (n_pos + 512))`` — an exact BIGINT both
      engines agree on; a document's score is the associative BIGINT
      SUM over its tokens, its mean ``sum div n``, and the predicted
      class ``mean >= 1e6`` (ratio >= 1). Monotone in the
      geometric-mean NB posterior for ranking/cutting.

    Scale shape: the model is a 512-row dim BROADCAST into the corpus
    scan — scoring is one narrow map-side join + one groupBy(doc_id),
    no shuffle of the model, no join-back; training is one keyed
    shuffle over seed tokens (r17: the seed label and membership are
    expressions of scan columns, computed per document before the
    token explode — no doc-keyed label join at all; only the bounded
    model relation is ever joined, as a broadcast). The shared hashed
    token stream is persisted and eagerly materialized — it feeds both
    the training and scoring passes. BIGINT envelope: the ppm products
    stay
    exact while per-class token totals < ~3e9 (a 100x-Wikipedia seed
    set); larger seed corpora would drop to per-mille scaling or
    DECIMAL. A pure-Python replay test pins the arithmetic end to end
    (tests/test_rank.py)."""
    docs = _t(spark, sf_dir, "documents")
    # r17 (guide §2.4 + §5). Two structural changes, results identical:
    #
    # 1. The seed label (n_chars >= threshold) and seed membership
    #    (md5 half-split of doc_id) are PURE EXPRESSIONS of scan
    #    columns, so the r15 doc_id-keyed shuffle join that attached
    #    them to the token stream was a shuffle for something the scan
    #    already knows — compute both BEFORE the token explode (once
    #    per document, not per token) and carry them as two tiny
    #    columns. Training becomes a map-side filter + one keyed
    #    aggregation; the only join left in the classifier is the
    #    bounded 512-row model broadcast.
    # 2. The hashed token stream feeds BOTH the seed-count pass and
    #    the scoring pass; persist the narrow relation (no extra
    #    shuffle — unlike the r16-rejected (doc_id, h, tf)
    #    pre-aggregation whose keyed shuffle cost more than the second
    #    tokenize it saved) and materialize EAGERLY so the model's
    #    broadcast-build job and the scoring job never race to
    #    populate the cache (the r16 pagerank cache-race finding).
    tok = F.explode(_text_tokens(F.col("text"))).alias("term")
    pre = docs.select(
        "doc_id",
        "text",
        F.when(F.col("n_chars") >= NBQ_LABEL_CHARS, F.lit(1))
        .otherwise(F.lit(0))
        .alias("pos"),
        (
            F.substring(
                F.md5(
                    F.concat(F.lit("nbq_"), F.col("doc_id").cast("string"))
                ),
                1, 8,
            )
            < NBQ_SPLIT_HEX
        ).alias("seed"),
    )
    toks = pre.select("doc_id", "pos", "seed", tok).select(
        "doc_id",
        "pos",
        "seed",
        (
            F.conv(F.substring(F.md5("term"), 1, 8), 16, 10)
            .cast("long") % NBQ_BUCKETS
        ).alias("h"),
    ).persist()
    toks.count()
    seed_counts = (
        toks.where(F.col("seed"))
        .groupBy("h")
        .agg(
            F.sum("pos").alias("n_ph"),
            F.sum(F.lit(1) - F.col("pos")).alias("n_nh"),
        )
    )
    totals = seed_counts.agg(
        F.coalesce(F.sum("n_ph"), F.lit(0)).alias("n_p"),
        F.coalesce(F.sum("n_nh"), F.lit(0)).alias("n_n"),
    )
    spine = spark.range(NBQ_BUCKETS).select(F.col("id").cast("long").alias("h"))
    model = (
        spine.join(seed_counts, "h", "left")
        .select(
            "h",
            F.coalesce("n_ph", F.lit(0)).alias("n_ph"),
            F.coalesce("n_nh", F.lit(0)).alias("n_nh"),
        )
        .crossJoin(totals)  # 1-row constants (allowlisted shape)
        .select(
            "h",
            F.expr(
                f"((n_ph + 1) * (n_n + {NBQ_BUCKETS}) * {NBQ_PPM}) div "
                f"((n_nh + 1) * (n_p + {NBQ_BUCKETS}))"
            ).alias("r_ppm"),
        )
    )
    scored = toks.select("doc_id", "h").join(F.broadcast(model), "h")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("r_ppm").alias("sum_ratio_ppm"),
    ).select(
        "doc_id",
        "n_tokens",
        "sum_ratio_ppm",
        F.expr("sum_ratio_ppm div n_tokens").alias("mean_ratio_ppm"),
        F.expr(
            f"CAST(sum_ratio_ppm div n_tokens >= {NBQ_PPM} AS INT)"
        ).alias("pred_hi"),
    )


ORACLE_DOC_QUALITY_CLASSIFIER = rf"""
WITH toks AS MATERIALIZED (
  SELECT doc_id,
         CAST('0x' || substr(md5(term), 1, 8) AS BIGINT)
           % {NBQ_BUCKETS} AS h
  FROM ({_TOKS_SQL})),
seed_docs AS (
  SELECT doc_id,
         CASE WHEN n_chars >= {NBQ_LABEL_CHARS} THEN 1 ELSE 0 END AS pos
  FROM documents
  WHERE substr(md5('nbq_' || CAST(doc_id AS VARCHAR)), 1, 8)
          < '{NBQ_SPLIT_HEX}'),
seed_counts AS (
  SELECT h, SUM(pos)::BIGINT AS n_ph, SUM(1 - pos)::BIGINT AS n_nh
  FROM toks JOIN seed_docs USING (doc_id)
  GROUP BY h),
totals AS (
  SELECT COALESCE(SUM(n_ph), 0)::BIGINT AS n_p,
         COALESCE(SUM(n_nh), 0)::BIGINT AS n_n
  FROM seed_counts),
model AS (
  SELECT s.h,
         ((COALESCE(c.n_ph, 0) + 1) * (t.n_n + {NBQ_BUCKETS})
            * {NBQ_PPM})
           // ((COALESCE(c.n_nh, 0) + 1) * (t.n_p + {NBQ_BUCKETS}))
           AS r_ppm
  FROM (SELECT unnest(range(0, {NBQ_BUCKETS})) AS h) s
  LEFT JOIN seed_counts c ON s.h = c.h
  CROSS JOIN totals t)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       SUM(r_ppm)::BIGINT AS sum_ratio_ppm,
       (SUM(r_ppm) // COUNT(*))::BIGINT AS mean_ratio_ppm,
       CASE WHEN SUM(r_ppm) // COUNT(*) >= {NBQ_PPM} THEN 1 ELSE 0 END
         AS pred_hi
FROM toks JOIN model USING (h)
GROUP BY doc_id
"""


NBQ_EVAL_THRESHOLDS = [
    250_000, 500_000, 750_000, 1_000_000,
    1_250_000, 1_500_000, 1_750_000, 2_000_000,
]


def q_classifier_pr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HELD-OUT evaluation of the learned quality classifier — the
    train/test hygiene a production curation filter ships with: the
    model trains on the md5 half-split seed set (inside
    `doc_quality_classifier`), and THIS entry measures it only on the
    COMPLEMENT half (bucket >= '80000000' — documents the trainer
    never saw), sweeping 8 FIXED ppm decision thresholds and emitting
    the confusion matrix + integer-ppm precision/recall/accuracy per
    threshold. Fixed thresholds (not quantile cuts) keep the sweep
    order-free and engine-exact; ALL three ratios (precision, recall,
    and — r15 ADVICE — accuracy) are BIGINT floor divisions with
    explicit zero-denominator guards on BOTH engines, so even the
    structurally unreachable empty-holdout case (every fixture SF
    leaves both md5 halves non-empty) cannot divide by zero under the
    gated ANSI axis.

    Scale shape: scores come from the classifier's own plan (512-row
    model broadcast into the corpus scan, one groupBy(doc)); the
    holdout join is doc-keyed (both sides doc-scale — NOT broadcast);
    the sweep is ONE complete aggregate with 8x4 conditional sums
    (map-side partial, one 1-row result) unrolled to 8 rows by
    inline() — no per-threshold rescan, no fanout of the test set."""
    scored = q_doc_quality_classifier(spark, sf_dir).select(
        "doc_id", "mean_ratio_ppm"
    )
    docs = _t(spark, sf_dir, "documents")
    test = docs.select(
        "doc_id",
        F.when(F.col("n_chars") >= NBQ_LABEL_CHARS, F.lit(1))
        .otherwise(F.lit(0))
        .alias("label"),
    ).where(
        F.substring(
            F.md5(F.concat(F.lit("nbq_"), F.col("doc_id").cast("string"))),
            1, 8,
        )
        >= NBQ_SPLIT_HEX
    )
    j = scored.join(test, "doc_id")
    aggs = []
    for t in NBQ_EVAL_THRESHOLDS:
        pos = F.col("label") == 1
        pred = F.col("mean_ratio_ppm") >= t
        aggs += [
            F.sum(F.when(pos & pred, 1).otherwise(0)).alias(f"tp_{t}"),
            F.sum(F.when(~pos & pred, 1).otherwise(0)).alias(f"fp_{t}"),
            F.sum(F.when(pos & ~pred, 1).otherwise(0)).alias(f"fn_{t}"),
            F.sum(F.when(~pos & ~pred, 1).otherwise(0)).alias(f"tn_{t}"),
        ]
    one = j.agg(*aggs)
    cells = F.array(
        *[
            F.struct(
                F.lit(t).alias("threshold_ppm"),
                F.col(f"tp_{t}").alias("tp"),
                F.col(f"fp_{t}").alias("fp"),
                F.col(f"fn_{t}").alias("fn"),
                F.col(f"tn_{t}").alias("tn"),
            )
            for t in NBQ_EVAL_THRESHOLDS
        ]
    )
    return one.select(F.inline(cells)).select(
        "threshold_ppm",
        "tp",
        "fp",
        "fn",
        "tn",
        F.expr(
            f"CASE WHEN tp + fp = 0 THEN CAST(0 AS BIGINT) "
            f"ELSE (tp * {NBQ_PPM}) div (tp + fp) END"
        ).alias("precision_ppm"),
        F.expr(
            f"CASE WHEN tp + fn = 0 THEN CAST(0 AS BIGINT) "
            f"ELSE (tp * {NBQ_PPM}) div (tp + fn) END"
        ).alias("recall_ppm"),
        F.expr(
            f"CASE WHEN tp + fp + fn + tn = 0 THEN CAST(0 AS BIGINT) "
            f"ELSE ((tp + tn) * {NBQ_PPM}) div (tp + fp + fn + tn) END"
        ).alias("accuracy_ppm"),
    )


ORACLE_CLASSIFIER_PR_EVAL = rf"""
WITH scored AS MATERIALIZED (
  SELECT doc_id, mean_ratio_ppm FROM ({ORACLE_DOC_QUALITY_CLASSIFIER})),
test AS (
  SELECT doc_id,
         CASE WHEN n_chars >= {NBQ_LABEL_CHARS} THEN 1 ELSE 0 END AS label
  FROM documents
  WHERE substr(md5('nbq_' || CAST(doc_id AS VARCHAR)), 1, 8)
          >= '{NBQ_SPLIT_HEX}'),
j AS (SELECT s.mean_ratio_ppm, t.label
      FROM scored s JOIN test t USING (doc_id)),
th AS (SELECT unnest({NBQ_EVAL_THRESHOLDS}) AS threshold_ppm),
cm AS (
  SELECT th.threshold_ppm,
         SUM(CASE WHEN label = 1 AND mean_ratio_ppm >= threshold_ppm
                  THEN 1 ELSE 0 END)::BIGINT AS tp,
         SUM(CASE WHEN label = 0 AND mean_ratio_ppm >= threshold_ppm
                  THEN 1 ELSE 0 END)::BIGINT AS fp,
         SUM(CASE WHEN label = 1 AND mean_ratio_ppm < threshold_ppm
                  THEN 1 ELSE 0 END)::BIGINT AS fn,
         SUM(CASE WHEN label = 0 AND mean_ratio_ppm < threshold_ppm
                  THEN 1 ELSE 0 END)::BIGINT AS tn
  FROM j CROSS JOIN th
  GROUP BY 1)
SELECT threshold_ppm, tp, fp, fn, tn,
       CASE WHEN tp + fp = 0 THEN 0
            ELSE (tp * {NBQ_PPM}) // (tp + fp) END::BIGINT
         AS precision_ppm,
       CASE WHEN tp + fn = 0 THEN 0
            ELSE (tp * {NBQ_PPM}) // (tp + fn) END::BIGINT AS recall_ppm,
       CASE WHEN tp + fp + fn + tn = 0 THEN 0
            ELSE ((tp + tn) * {NBQ_PPM}) // (tp + fp + fn + tn)
       END::BIGINT AS accuracy_ppm
FROM cm
"""


# ---------------------------------------------------------------------------
# Tokenized training export: trained tokenizer -> id stream -> packed
# context windows -> sharded parquet (the end-to-end payload twin of
# training_export_rollup)
# ---------------------------------------------------------------------------

TET_CAPACITY = 256  # token ids per context window
TET_SHARDS = 8


def q_training_export_tokenized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL-payload completion of the export story: where
    `training_export_rollup` packs whitespace-token COUNTS, this entry
    ships what a training job actually mounts — context windows of
    TOKEN IDS from a tokenizer trained in-pipeline. Train 8 BPE merges
    (`bpe_train_merges`), encode the vocabulary with the Arrow kernel
    (`bpe_apply_merges_arrow` — the production rule-count path), mint
    symbol ids deterministically (distinct encoded symbols, ROW_NUMBER
    by symbol ASC), flatten the corpus token stream (document order,
    token position, symbol position) into ids, cut it into 256-id
    windows within 8 doc_id-mod shards (TET_CAPACITY / TET_SHARDS),
    and EXPORT each window as one row (shard, pack_id, ids ARRAY) of a
    shard-partitioned parquet dataset. The rollup reads the written
    shards BACK and reduces each pack's id array with an
    ORDER-SENSITIVE checksum (sum of (pos+1)*(id+1) via
    aggregate/zip_with — a transposition changes it), so the oracle —
    which replays train -> encode -> vocab -> stream -> cut entirely
    in SQL — verifies the physical payload's CONTENT AND ORDER, plus
    the one-file-per-shard layout via the FS manifest (the
    `training_export_rollup` grounding pattern).

    Scale shape: corpus-scale work is one token-count shuffle (the
    word table), ONE broadcast-dictionary join (the encoded vocab —
    KB-scale even at production vocabulary sizes) + one broadcast
    vocab-id join on the symbol stream, and ONE token-scale shuffle on
    the shard key (the pack window; the (shard, pack_id) groupBy and
    the dynamic-partition write reuse its hash layout — the structural
    one-file-per-shard argument). The vocab-id mint is a ROW_NUMBER
    over the bounded distinct-symbol set (single-partition exchange of
    <= base-chars + merges rows). Charset contract: the id stream
    covers the ^[a-z]+$ len>=2 tokens the trainer's word table is
    pinned to (the `bpe_train_merges` engine-agnostic subset) —
    position indices still count ALL whitespace tokens, so filtered
    gaps are observable in neither engine's packing (both drop them
    before the cumsum)."""
    import os

    from ..operators.bpe import bpe_apply_merges_arrow

    docs = _t(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory(
        prefix="trainexp_tok_", ignore_cleanup_errors=True
    ) as store:
        wf = _word_freq(docs).localCheckpoint(eager=True)
        rules = bpe_train_merges(wf, iterations=BPE_STEPS, checkpoint_every=0)
        enc = bpe_apply_merges_arrow(wf, rules).select("token", "encoded")
        vocab = (
            enc.select(F.explode(F.split("encoded", " ")).alias("sym"))
            .distinct()
            .select(
                "sym",
                (F.row_number().over(Window.orderBy("sym")) - 1)
                .cast("long").alias("sym_id"),
            )
        )
        toks_arr = _text_tokens(F.col("text"))
        stream = (
            docs.select("doc_id", F.posexplode(toks_arr).alias("pos", "term"))
            .where(
                (F.length("term") >= 2) & F.col("term").rlike("^[a-z]+$")
            )
        )
        syms = (
            stream.join(F.broadcast(enc), stream.term == enc.token)
            .select(
                "doc_id",
                "pos",
                F.posexplode(F.split("encoded", " ")).alias(
                    "sym_idx", "sym"
                ),
            )
        )
        ids = (
            syms.join(F.broadcast(vocab), "sym")
            .select(
                (F.col("doc_id") % TET_SHARDS).cast("int").alias("shard"),
                "doc_id",
                "pos",
                "sym_idx",
                "sym_id",
            )
        )
        w = Window.partitionBy("shard").orderBy("doc_id", "pos", "sym_idx")
        off = F.row_number().over(w) - 1
        packs = (
            ids.withColumn("off", off)
            .select(
                "shard",
                F.expr(f"off div {TET_CAPACITY}").alias("pack_id"),
                (F.col("off") % TET_CAPACITY).alias("ppos"),
                "sym_id",
            )
            .groupBy("shard", "pack_id")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ppos", "sym_id"))
                    ),
                    lambda x: x["sym_id"],
                ).alias("ids")
            )
        )
        out_path = os.path.join(store, "shards")
        packs.write.mode("overwrite").partitionBy("shard").parquet(out_path)

        # FS manifest (one listing per shard dir)
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        root = jvm.org.apache.hadoop.fs.Path(out_path)
        fs = root.getFileSystem(hconf)
        manifest = []
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if not name.startswith("shard="):
                continue
            n_files = sum(
                1
                for f in fs.listStatus(st.getPath())
                if f.getPath().getName().endswith(".parquet")
            )
            manifest.append((int(name.split("=", 1)[1]), n_files))
        mdf = spark.createDataFrame(manifest, "shard long, file_count long")

        # order-sensitive per-pack checksum over the READ-BACK arrays
        back = (
            spark.read.parquet(out_path)
            .select(
                F.col("shard").cast("long").alias("shard"),
                F.size("ids").alias("n_ids"),
                F.expr(
                    "aggregate(ids, CAST(0 AS BIGINT), (a, x) -> a + x)"
                ).alias("id_sum"),
                F.expr(
                    "aggregate(zip_with(ids, sequence(1, size(ids)), "
                    "(x, i) -> CAST(i AS BIGINT) * (x + 1)), "
                    "CAST(0 AS BIGINT), (a, b) -> a + b)"
                ).alias("ord_checksum"),
            )
            .groupBy("shard")
            .agg(
                F.count(F.lit(1)).alias("n_packs"),
                F.sum("n_ids").cast("long").alias("n_ids"),
                F.sum("id_sum").cast("long").alias("id_sum"),
                F.sum("ord_checksum").cast("long").alias("ord_checksum"),
            )
        )
        out = mdf.join(back, "shard").select(
            "shard", "file_count", "n_packs", "n_ids", "id_sum",
            "ord_checksum",
        )
        return _snapshot(out)


def _tet_oracle() -> str:
    """Replay of the tokenized export in closed form: the 8-step
    encode chain (`_bpe_encode_oracle`'s CTE recurrence), symbol-id
    mint by symbol ASC, positional token stream, per-shard cumsum cut
    every 256 ids, and the same order-sensitive checksum — plus the
    predicted one-file-per-shard count."""
    # reuse the encode chain body through w8 (strip its final SELECT)
    enc = _bpe_encode_oracle(BPE_STEPS)
    body = enc[: enc.rindex("SELECT token, freq")].rstrip()
    # _bpe_encode_oracle strips the chain's trailing comma before its
    # final SELECT — restore it to keep appending CTEs
    assert body.endswith("ON TRUE)"), body[-40:]
    return body + "," + rf"""
vocab AS MATERIALIZED (
  SELECT sym, (ROW_NUMBER() OVER (ORDER BY sym) - 1)::BIGINT AS sym_id
  FROM (SELECT DISTINCT unnest(string_split(w, ' ')) AS sym
        FROM w{BPE_STEPS})),
stream AS (
  SELECT d.doc_id, u.i - 1 AS pos, d.t[u.i] AS term
  FROM (SELECT doc_id,
               list_filter(string_split(trim(regexp_replace(lower(text),
                                        '\s+', ' ', 'g')), ' '),
                           x -> x <> '') AS t
        FROM documents) d,
       UNNEST(range(1, len(d.t) + 1)) AS u(i)
  WHERE len(d.t[u.i]) >= 2 AND regexp_matches(d.t[u.i], '^[a-z]+$')),
wsyms AS (
  SELECT e.doc_id, e.pos, v.i - 1 AS sym_idx, e.sy[v.i] AS sym
  FROM (SELECT s.doc_id, s.pos, string_split(w8.w, ' ') AS sy
        FROM stream s JOIN w{BPE_STEPS} w8 ON w8.token = s.term) e,
       UNNEST(range(1, len(e.sy) + 1)) AS v(i)),
ids AS (
  SELECT doc_id % {TET_SHARDS} AS shard, doc_id, pos, sym_idx, sym_id
  FROM wsyms JOIN vocab USING (sym)),
offs AS (
  SELECT shard, sym_id,
         ROW_NUMBER() OVER (PARTITION BY shard
                            ORDER BY doc_id, pos, sym_idx) - 1 AS off
  FROM ids),
pk AS (
  SELECT shard, off // {TET_CAPACITY} AS pack_id,
         COUNT(*) AS n_ids,
         SUM(sym_id)::BIGINT AS id_sum,
         SUM((off % {TET_CAPACITY} + 1) * (sym_id + 1))::BIGINT
           AS ord_checksum
  FROM offs GROUP BY 1, 2)
SELECT shard::BIGINT AS shard,
       CAST(1 AS BIGINT) AS file_count,
       COUNT(*) AS n_packs,
       SUM(n_ids)::BIGINT AS n_ids,
       SUM(id_sum)::BIGINT AS id_sum,
       SUM(ord_checksum)::BIGINT AS ord_checksum
FROM pk GROUP BY shard
"""


ORACLE_TRAINING_EXPORT_TOKENIZED = _tet_oracle()


# ---------------------------------------------------------------------------
# Learned language ID: multi-class hashed Naive Bayes (VERDICT r15 #4)
# ---------------------------------------------------------------------------

NBL_BUCKETS = 512          # hashed feature space (shared with NBQ)
NBL_SPLIT_HEX = "80000000"  # md5 half-split, salt nbl_
NBL_MICRO = 1_000_000
NBL_MAX_LANGS = 64         # driver-collect bound on the class set


def q_doc_lang_id_learned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned language identification (VERDICT r15 #4) — the
    fastText-lid-shaped counterpart to the character-class heuristic
    `text.lang_id_heuristic`, built on the r15 hashed-NB machinery
    generalized to MULTI-class: the `lang` column of the md5 half-split
    train half (salt ``nbl_``) supervises per-language token-bucket
    counts, and every document is scored by the argmax of exact BIGINT
    micro-nat sums.

    - Features: the `doc_quality_classifier` coordinate — each token
      hashes to one of 512 buckets via the 32-bit md5-prefix integer
      mod 512, so the model is a FIXED langs x 512 table regardless of
      vocabulary.
    - Training = counting in ONE keyed shuffle (r17: the seed label
      `lang` and seed membership are scan columns / doc_id
      expressions, computed per document before the token explode —
      no doc-keyed label join at all): a map-side seed filter, then
      ONE groupBy(lang, bucket) with map-side partial aggregation;
      per-language totals reduce that bounded table. The shared
      hashed token stream is persisted and eagerly materialized — it
      feeds both the training counts and the scoring pass.
    - Likelihoods, integer micro-nats (the bm25 micro-ln contract):
      ``ROUND(1e6 * ln((n_lh + 1) / (n_l + 512)))`` — both engines
      feed libm the same exact-ratio double (~1e-9/row flip envelope,
      documented); class priors ``ROUND(1e6 * ln(n_docs_l / total))``
      are computed in-plan from the same seed relation (1-row
      constants cross join, bm25's allowlisted shape).
    - Scoring: the bounded langs x 512 model BROADCASTS into the token
      scan (equi join on the bucket id), per-language scores fold into
      ONE groupBy(doc_id) of conditional BIGINT sums, and the argmax
      is row-local (array_max over (score, -class_idx) structs =
      score DESC, lang ASC ties — the lowest-class-id contract).

    Driver contract: ONE bounded collect — the distinct train-half
    class set, capped at {NBL_MAX_LANGS} (limit cap+1, raise on
    overflow); the model itself never leaves the executors."""
    docs = _t(spark, sf_dir, "documents")
    # r17 (guide §2.4 + §5, the doc_quality_classifier treatment): the
    # seed label (`lang`) and seed membership (md5 half-split of
    # doc_id) are scan columns / expressions of scan columns, so the
    # r15 token-scale seed shuffle join is replaced by computing both
    # per DOCUMENT before the token explode; the shared hashed token
    # stream feeds the training counts AND the scoring pass, so it is
    # persisted and eagerly materialized (cache-race discipline).
    tok = F.explode(_text_tokens(F.col("text"))).alias("term")
    pre = docs.select(
        "doc_id",
        "text",
        "lang",
        (
            F.substring(
                F.md5(
                    F.concat(F.lit("nbl_"), F.col("doc_id").cast("string"))
                ),
                1, 8,
            )
            < NBL_SPLIT_HEX
        ).alias("seed"),
    )
    toks = pre.select("doc_id", "lang", "seed", tok).select(
        "doc_id",
        "lang",
        "seed",
        (
            F.conv(F.substring(F.md5("term"), 1, 8), 16, 10)
            .cast("long") % NBL_BUCKETS
        ).alias("h"),
    ).persist()
    toks.count()
    seed = docs.select("doc_id", "lang").where(
        F.substring(
            F.md5(F.concat(F.lit("nbl_"), F.col("doc_id").cast("string"))),
            1, 8,
        )
        < NBL_SPLIT_HEX
    )
    lang_rows = (
        seed.select("lang").distinct().orderBy("lang")
        .limit(NBL_MAX_LANGS + 1).collect()
    )
    if len(lang_rows) > NBL_MAX_LANGS:
        raise ValueError(
            f"doc_lang_id_learned: >{NBL_MAX_LANGS} distinct languages "
            "in the train half — raise NBL_MAX_LANGS deliberately"
        )
    langs = [r.lang for r in lang_rows]
    if not langs:
        raise ValueError("doc_lang_id_learned: empty train half")
    counts = (
        toks.where(F.col("seed"))
        .groupBy("lang", "h")
        .agg(F.count(F.lit(1)).alias("n_lh"))
    )
    ltot = counts.groupBy("lang").agg(F.sum("n_lh").alias("n_l"))
    # complete (lang, h) spine via row-local explode — no cross join
    model = (
        ltot.select(
            "lang",
            "n_l",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"),
                    F.lit(NBL_BUCKETS - 1).cast("long"),
                )
            ).alias("h"),
        )
        .join(counts, ["lang", "h"], "left")
        .select(
            "lang",
            "h",
            F.round(
                F.lit(float(NBL_MICRO))
                * F.log(
                    (F.coalesce("n_lh", F.lit(0)) + 1)
                    / (F.col("n_l") + NBL_BUCKETS)
                )
            ).cast("long").alias("llh_micro"),
        )
    )
    lpri = seed.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs_l"))
    tot = lpri.agg(F.sum("n_docs_l").alias("total"))
    pri_row = (
        lpri.crossJoin(tot)  # 1-row constants (allowlisted shape)
        .select(
            "lang",
            F.round(
                F.lit(float(NBL_MICRO))
                * F.log(F.col("n_docs_l") / F.col("total"))
            ).cast("long").alias("prior_micro"),
        )
        .agg(
            *[
                F.sum(
                    F.when(F.col("lang") == l, F.col("prior_micro"))
                    .otherwise(0)
                ).alias(f"p_{i}")
                for i, l in enumerate(langs)
            ]
        )
    )
    per_doc = (
        toks.select("doc_id", "h").join(F.broadcast(model), "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            *[
                F.sum(
                    F.when(F.col("lang") == l, F.col("llh_micro"))
                    .otherwise(0)
                ).alias(f"s_{i}")
                for i, l in enumerate(langs)
            ],
        )
    )
    best = F.array_max(
        F.array(
            *[
                F.struct(
                    (F.col(f"s_{i}") + F.col(f"p_{i}")).alias("sc"),
                    F.lit(-i).cast("int").alias("nr"),
                )
                for i in range(len(langs))
            ]
        )
    )
    return (
        per_doc.crossJoin(F.broadcast(pri_row))  # 1-row constants
        .select(
            "doc_id",
            F.expr(f"n_rows div {len(langs)}").alias("n_tokens"),
            best.alias("_b"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.element_at(
                F.array(*[F.lit(l) for l in langs]),
                (F.lit(1) - F.col("_b.nr")).cast("int"),
            ).alias("pred_lang"),
            F.col("_b.sc").alias("score_micro"),
        )
    )


ORACLE_DOC_LANG_ID = rf"""
WITH toks AS MATERIALIZED (
  SELECT doc_id,
         CAST('0x' || substr(md5(term), 1, 8) AS BIGINT)
           % {NBL_BUCKETS} AS h
  FROM ({_TOKS_SQL})),
seed AS (
  SELECT doc_id, lang FROM documents
  WHERE substr(md5('nbl_' || CAST(doc_id AS VARCHAR)), 1, 8)
          < '{NBL_SPLIT_HEX}'),
counts AS (
  SELECT lang, h, COUNT(*)::BIGINT AS n_lh
  FROM toks JOIN seed USING (doc_id)
  GROUP BY 1, 2),
ltot AS (SELECT lang, SUM(n_lh)::BIGINT AS n_l FROM counts GROUP BY 1),
model AS MATERIALIZED (
  SELECT lt.lang, s.h,
         CAST(ROUND({NBL_MICRO} * ln(
             (COALESCE(c.n_lh, 0) + 1) / (lt.n_l + {NBL_BUCKETS})
         )) AS BIGINT) AS llh_micro
  FROM ltot lt
  CROSS JOIN (SELECT unnest(range(0, {NBL_BUCKETS})) AS h) s
  LEFT JOIN counts c ON c.lang = lt.lang AND c.h = s.h),
lpri AS (SELECT lang, COUNT(*)::BIGINT AS n_docs_l FROM seed GROUP BY 1),
tot AS (SELECT SUM(n_docs_l)::BIGINT AS total FROM lpri),
pri AS (
  SELECT lang,
         CAST(ROUND({NBL_MICRO} * ln(n_docs_l / t.total)) AS BIGINT)
           AS prior_micro
  FROM lpri CROSS JOIN tot t),
scores AS (
  SELECT t.doc_id, m.lang,
         COUNT(*)::BIGINT AS n_rows,
         (p.prior_micro + SUM(m.llh_micro))::BIGINT AS score_micro
  FROM toks t
  JOIN model m USING (h)
  JOIN pri p ON p.lang = m.lang
  GROUP BY t.doc_id, m.lang, p.prior_micro),
ranked AS (
  SELECT doc_id, lang, n_rows, score_micro,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score_micro DESC, lang ASC) AS rn
  FROM scores)
SELECT doc_id,
       n_rows AS n_tokens,
       lang AS pred_lang,
       score_micro
FROM ranked WHERE rn = 1
"""


def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HELD-OUT confusion matrix for the learned language classifier —
    the `classifier_pr_eval` shape at multi-class (VERDICT r15 #4):
    predictions come from the classifier's own plan, ground truth is
    the `lang` column of the COMPLEMENT md5 half (documents the
    trainer never saw), and the matrix is one groupBy(true, pred)
    with per-true-language totals and integer-ppm row shares folded
    in by a window over the (bounded, <= langs^2-row) matrix itself.

    Scale shape: the holdout join is doc-keyed (both sides doc-scale
    — NOT broadcast, the pr_eval discipline); everything after the
    matrix aggregate operates on a classes^2-bounded relation."""
    scored = q_doc_lang_id_learned(spark, sf_dir).select(
        "doc_id", "pred_lang"
    )
    docs = _t(spark, sf_dir, "documents")
    test = docs.select(
        "doc_id", F.col("lang").alias("true_lang")
    ).where(
        F.substring(
            F.md5(F.concat(F.lit("nbl_"), F.col("doc_id").cast("string"))),
            1, 8,
        )
        >= NBL_SPLIT_HEX
    )
    cm = (
        scored.join(test, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w = Window.partitionBy("true_lang")
    return cm.select(
        "true_lang",
        "pred_lang",
        "n_docs",
        F.sum("n_docs").over(w).alias("n_true"),
        F.expr(f"(n_docs * {NBL_MICRO})").cast("long").alias("_num"),
    ).select(
        "true_lang",
        "pred_lang",
        "n_docs",
        "n_true",
        F.expr("_num div n_true").alias("share_ppm"),
    )


ORACLE_LANG_ID_CONFUSION = rf"""
WITH scored AS MATERIALIZED (
  SELECT doc_id, pred_lang FROM ({ORACLE_DOC_LANG_ID})),
test AS (
  SELECT doc_id, lang AS true_lang FROM documents
  WHERE substr(md5('nbl_' || CAST(doc_id AS VARCHAR)), 1, 8)
          >= '{NBL_SPLIT_HEX}'),
cm AS (
  SELECT t.true_lang, s.pred_lang, COUNT(*)::BIGINT AS n_docs
  FROM scored s JOIN test t USING (doc_id)
  GROUP BY 1, 2)
SELECT true_lang, pred_lang, n_docs,
       SUM(n_docs) OVER (PARTITION BY true_lang)::BIGINT AS n_true,
       ((n_docs * {NBL_MICRO})
          // SUM(n_docs) OVER (PARTITION BY true_lang))::BIGINT
         AS share_ppm
FROM cm
"""


# ---------------------------------------------------------------------------
# Streaming IVFPQ index maintenance (VERDICT r14 #5)
# ---------------------------------------------------------------------------

SIX_NC = 16     # coarse centroids (frozen after training on the base)
SIX_M = 8       # PQ subspaces (dsub = 8 over the 64-dim residual)
SIX_CODES = 16  # codewords per subspace


def q_streaming_ivfpq_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN index maintenance (VERDICT r14 #5) — the index
    a 100 TB pipeline actually OPERATES is maintained, not rebuilt:
    codebooks train ONCE on the already-indexed base corpus (vec_id %
    4 != 0) and are then FROZEN (the FAISS operational contract —
    retraining would re-encode every stored vector); arriving vectors
    (vec_id % 4 == 0) stream through foreachBatch, each micro-batch is
    encoded against the frozen coarse/PQ codebooks with ONE broadcast
    + ONE Arrow mapInPandas pass (`operators.similarity.ivfpq_encode`,
    the same kernel `cosine_topk_ivfpq` scans with), and the (vid,
    bucket, codes) posting rows append to a persisted store through
    `merge_into_store`'s atomic version swap — a reader always
    resolves a complete index version, never a half-written one.

    Training is `_ivfpq_train` at full scope (the DISTRIBUTED `_lloyd`,
    VERDICT r14 #1): seeds/ties/6dp-mean rules unchanged, so the oracle
    below replays training-on-base + encode-at-arrival over the WHOLE
    input exactly (stream-equals-batch, the `streaming_countmin`
    pattern — encode is per-row deterministic given frozen codebooks,
    hence trivially independent of micro-batch boundaries; the
    split-independence test varies maxFilesPerTrigger). Output: one
    row per arrived vector with its bucket and the 8 PQ codes as
    columns (the posting-list payload, ~8 bytes per vector vs 512
    bytes of raw floats)."""
    from ..operators.similarity import _ann_src, _ivfpq_train, ivfpq_encode
    from ..streaming.sinks import merge_into_store

    emb = _t(spark, sf_dir, "embeddings")
    base_src = _ann_src(
        emb.where(F.col("vec_id") % 4 != 0), "vec_id", "embedding"
    ).persist()
    Cn, rc, books = _ivfpq_train(base_src, SIX_NC, SIX_M, SIX_CODES, 1, "full")

    with tempfile.TemporaryDirectory(
        prefix="stream_ivfpq_", ignore_cleanup_errors=True
    ) as d:
        store = f"{d}/store"
        try:
            incoming = emb.where(F.col("vec_id") % 4 == 0).select(
                "vec_id", "embedding"
            )
            stream = _staged_stream(spark, incoming, f"{d}/src")

            def index_batch(batch_df: DataFrame, _batch_id: int) -> None:
                postings = ivfpq_encode(batch_df, Cn, rc, books)
                merge_into_store(store, _batch_id, postings)

            drain(stream.writeStream.foreachBatch(index_batch), f"{d}/ckpt")

            got = spark.read.parquet(f"{store}/live").select(
                F.col("vid").alias("vec_id"),
                "bucket",
                *[
                    F.element_at("codes", j + 1).alias(f"c{j}")
                    for j in range(SIX_M)
                ],
            )
            return _snapshot(got)
        finally:
            base_src.unpersist()


def _six_oracle() -> str:
    """Whole-input replay of `streaming_ivfpq_index`: train the coarse
    quantizer + residual PQ codebooks on the base corpus (one Lloyd
    round each, md5-order seeds, 6dp means, lowest-id ties), then
    encode every arrived vector against the frozen codebooks — the
    same recipe as `_ivfpq_oracle` with the train/encode relations
    split (cor trains, inc encodes) and the codes pivoted to columns."""
    dsub = 64 // SIX_M
    code_cols = ",\n       ".join(
        f"MAX(CASE WHEN j = {j} THEN pcid END)::INT AS c{j}"
        for j in range(SIX_M)
    )
    sub_cb = f"qres.rq[pcb.j*{dsub}+1 : pcb.j*{dsub}+{dsub}]"
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
cor AS (SELECT * FROM v WHERE vec_id % 4 <> 0),
inc AS (SELECT * FROM v WHERE vec_id % 4 = 0),
corn AS MATERIALIZED (
  SELECT vec_id, e,
         list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS u
  FROM cor),
seeds AS (
  SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
           - 1 AS cid, e
  FROM cor ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {SIX_NC}),
a1 AS (
  SELECT vec_id, cid FROM (
    SELECT c.vec_id, s.cid,
           ROW_NUMBER() OVER (
             PARTITION BY c.vec_id
             ORDER BY {_cosine("c.e", "s.e")} DESC, s.cid) AS rn
    FROM cor c, seeds s) WHERE rn = 1),
cm AS (
  SELECT a1.cid, dd.d, ROUND(AVG(c.e[dd.d]), 6) AS mv
  FROM a1 JOIN cor c USING (vec_id)
  CROSS JOIN (SELECT unnest(range(1, 65)) AS d) dd
  GROUP BY 1, 2),
{_COARSE_CENT},
a2 AS (
  SELECT vec_id, cid FROM (
    SELECT c.vec_id, ct.cid,
           ROW_NUMBER() OVER (
             PARTITION BY c.vec_id
             ORDER BY {_cosine("c.e", "ct.e")} DESC, ct.cid) AS rn
    FROM cor c, cent ct) WHERE rn = 1),
res AS MATERIALIZED (
  SELECT corn.vec_id,
         list_transform(list_zip(corn.u, crc.rc), x -> x[1] - x[2]) AS r
  FROM corn JOIN a2 USING (vec_id) JOIN crc ON crc.cid = a2.cid),
{_pq_train(SIX_M, SIX_CODES)},
incb AS (
  SELECT vec_id, cid AS bucket FROM (
    SELECT i.vec_id, ct.cid,
           ROW_NUMBER() OVER (
             PARTITION BY i.vec_id
             ORDER BY {_cosine("i.e", "ct.e")} DESC, ct.cid) AS rn
    FROM inc i, cent ct) WHERE rn = 1),
qres AS MATERIALIZED (
  SELECT i.vec_id, b.bucket,
         list_transform(
           list_zip(list_transform(
                      i.e, x -> x / sqrt(list_dot_product(i.e, i.e))),
                    crc.rc),
           x -> x[1] - x[2]) AS rq
  FROM inc i JOIN incb b USING (vec_id) JOIN crc ON crc.cid = b.bucket),
qcodes AS (
  SELECT vec_id, j, pcid FROM (
    SELECT qres.vec_id, pcb.j, pcb.pcid,
           ROW_NUMBER() OVER (
             PARTITION BY qres.vec_id, pcb.j
             ORDER BY {_d2(sub_cb, "pcb.c")} ASC, pcb.pcid ASC) AS rn
    FROM qres, pcb) WHERE rn = 1)
SELECT q.vec_id, ANY_VALUE(b.bucket)::INT AS bucket,
       {code_cols}
FROM qcodes q JOIN incb b USING (vec_id)
GROUP BY q.vec_id
"""


ORACLE_STREAMING_IVFPQ_INDEX = _six_oracle()


# ---------------------------------------------------------------------------
# IVFPQ posting-store compaction (VERDICT r15 #6)
# ---------------------------------------------------------------------------

IXC_VERSIONS = 4        # delta versions in the append log
IXC_ROWS_PER_FILE = 50  # compaction target (ceil(n_live / 50) files)


def q_ivfpq_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting-store COMPACTION — the lifecycle step
    `streaming_ivfpq_index` leaves open (VERDICT r15 #6): a maintained
    ANN index accretes versioned posting deltas (upserts re-encoding
    moved vectors, tombstones for deleted ones); compaction folds the
    K-version append log into ONE published snapshot by keeping each
    vector's LATEST posting row (the `dedup_keep_first` W3 shape over
    code rows, version DESC) and dropping vectors whose latest op is a
    tombstone, then rewrites the survivor set into
    ceil(n_live / {IXC_ROWS_PER_FILE}) files and publishes it through
    the SAME `_publish_version` atomic-swap publisher the streaming
    maintainer uses — readers never see a half-compacted store.

    The delta log is built deterministically from the embeddings ids
    so the oracle replays the WHOLE lifecycle in closed form: version
    t (t = 0..{IXC_VERSIONS - 1}) carries vectors with vid % 3 ==
    t % 3 (so % 3 == 0 vectors appear in BOTH v0 and v3 and
    keep-latest must actually choose), the payload (bucket = (vid + t)
    % 16, eight md5-derived 4-bit codes) depends on the version (a
    stale-row leak changes the sums), and a row is a tombstone iff its
    salted md5 nibble < '2' (~1/8). The rollup reads the PUBLISHED
    compacted store back (per-bucket vector counts + id/code sums) and
    joins the Hadoop-FS manifest file count — which the oracle
    PREDICTS from the live-row count, the `training_export_rollup`
    grounding pattern.

    Scale shape: keep-latest is ONE window shuffle on vid over code
    rows (~10 bytes each — the whole point of PQ postings), the
    tombstone drop is a map-side filter, and the rewrite is one
    round-robin repartition (`compact_parquet`'s shape — no key
    shuffle, no sort). Driver traffic: one bounded count (n_live) for
    the file-count arithmetic."""
    import math
    import os

    from ..operators.dedup import dedup_keep_first
    from ..streaming.sinks import _publish_version

    emb = _t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("vid")
    )
    with tempfile.TemporaryDirectory(
        prefix="ivfpq_compact_", ignore_cleanup_errors=True
    ) as store:
        def version_rows(t: int) -> DataFrame:
            salt_del = F.concat(
                F.lit("del_"), F.col("vid").cast("string"), F.lit(f"_{t}")
            )
            code = lambda j: (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("code_"),
                                F.col("vid").cast("string"),
                                F.lit(f"_{t}"),
                            )
                        ),
                        j * 2 + 1,
                        2,
                    ),
                    16,
                    10,
                ).cast("long") % 16
            )
            return emb.where(F.col("vid") % 3 == t % 3).select(
                "vid",
                F.lit(t).alias("version"),
                ((F.col("vid") + t) % 16).cast("int").alias("bucket"),
                F.when(
                    F.substring(F.md5(salt_del), 1, 1) < "2", F.lit("d")
                ).otherwise(F.lit("u")).alias("op"),
                *[code(j).alias(f"c{j}") for j in range(8)],
            )

        delta_paths = []
        for t in range(IXC_VERSIONS):
            p = os.path.join(store, "delta", f"v{t}")
            version_rows(t).write.mode("overwrite").parquet(p)
            delta_paths.append(p)

        log = spark.read.parquet(*delta_paths)
        latest = dedup_keep_first(
            log, keys=["vid"], order_by=[F.col("version").desc()]
        )
        live = latest.where(F.col("op") == "u").drop("op")
        n_live = live.count()
        n_files = max(1, math.ceil(n_live / IXC_ROWS_PER_FILE))
        # the file count here is the QUERY RESULT (the oracle predicts
        # ceil(n_live / rows_per_file)), so the repartition is the layout
        _publish_version(store, IXC_VERSIONS, live.repartition(n_files), None)

        # manifest grounding: the published snapshot really has the
        # predicted layout (the metadata_scan S8 listing pattern)
        live_dir = os.path.realpath(os.path.join(store, "live"))
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(live_dir)
        fs = p.getFileSystem(hconf)
        file_count = sum(
            1
            for st in fs.listStatus(p)
            if st.getPath().getName().endswith(".parquet")
        )
        code_sum = sum(F.col(f"c{j}") for j in range(8))
        out = (
            spark.read.parquet(live_dir)
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("n_vecs"),
                F.sum("vid").alias("vid_sum"),
                F.sum(code_sum).alias("code_sum"),
            )
            .withColumn("file_count", F.lit(file_count).cast("long"))
            .select("bucket", "n_vecs", "vid_sum", "code_sum", "file_count")
        )
        return _snapshot(out)


def _ixc_code_sql() -> str:
    return " + ".join(
        f"(CAST('0x' || substr(md5('code_' || CAST(vid AS VARCHAR) "
        f"|| '_' || CAST(t AS VARCHAR)), {j * 2 + 1}, 2) AS BIGINT) % 16)"
        for j in range(8)
    )


ORACLE_IVFPQ_INDEX_COMPACT = f"""
WITH vids AS (SELECT vec_id AS vid FROM embeddings),
vers AS (
  SELECT v.vid, t.t
  FROM vids v
  CROSS JOIN (SELECT unnest(range(0, {IXC_VERSIONS})) AS t) t
  WHERE v.vid % 3 = t.t % 3),
log AS (
  SELECT vid, t AS version,
         ((vid + t) % 16)::INT AS bucket,
         CASE WHEN substr(md5('del_' || CAST(vid AS VARCHAR)
                            || '_' || CAST(t AS VARCHAR)), 1, 1) < '2'
              THEN 'd' ELSE 'u' END AS op,
         ({_ixc_code_sql()})::BIGINT AS code_sum
  FROM vers),
latest AS (
  SELECT vid, bucket, op, code_sum FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vid
                                 ORDER BY version DESC) AS rn
    FROM log) WHERE rn = 1),
live AS (SELECT * FROM latest WHERE op = 'u'),
nl AS (
  SELECT CAST(
    CASE WHEN COUNT(*) = 0 THEN 1
         ELSE (COUNT(*) + {IXC_ROWS_PER_FILE - 1}) // {IXC_ROWS_PER_FILE}
    END AS BIGINT) AS file_count
  FROM live)
SELECT l.bucket,
       COUNT(*) AS n_vecs,
       SUM(l.vid)::BIGINT AS vid_sum,
       SUM(l.code_sum)::BIGINT AS code_sum,
       nl.file_count
FROM live l CROSS JOIN nl
GROUP BY l.bucket, nl.file_count
"""


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer training (SentencePiece-shape, VERDICT r14 #8)
# ---------------------------------------------------------------------------

UNI_SEED_K = 120   # multi-char seed pieces (plus every single char)
UNI_VOCAB_K = 96   # multi-char pieces kept after the prune
UNI_MAXP = 4       # max piece length
UNI_LMAX = 16      # unrolled Viterbi DP bound (fixture max word len 8)


def q_unigram_train_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer training (VERDICT r14 #8) — the
    SentencePiece-family completion of the tokenizer-training surface
    (BPE covers the merge family char- and byte-level): seed a vocab
    with every single character plus the 120 most frequent substrings
    (length <= 4, overlapping occurrences weighted by word frequency),
    then run the FIXED schedule E(cost0) -> prune to chars + top-96 ->
    M (Laplace re-cost) -> E(cost1) -> usage report, with piece costs
    in integer MICRO-NATS (HALF_UP-rounded -ln — the `bm25_top_docs`
    transcendental envelope) so every Viterbi DP value is an exact
    BIGINT sum and ties resolve by the longer piece. Word table =
    the `bpe_train_merges` contract (ASCII ^[a-z]+$, len >= 2).

    Scale shape: corpus-scale work is the one token-count shuffle;
    training then runs over the WORD table — one substring-explode
    groupBy plus, per E-step, ONE Arrow mapInPandas Viterbi pass with
    the bounded cost table broadcast and one usage groupBy. Driver
    traffic is bounded by contract (seed/kept vocab tables, never
    words). The oracle unrolls BOTH Viterbi passes as 16 chained CTEs
    each, carrying the argmin segmentation STRING forward so no
    backtrace pass exists on either engine."""
    from ..operators.unigram import unigram_train

    docs = _t(spark, sf_dir, "documents")
    wf = _word_freq(docs)
    return unigram_train(
        wf, seed_k=UNI_SEED_K, vocab_k=UNI_VOCAB_K,
        max_piece_len=UNI_MAXP, lmax=UNI_LMAX,
    )


def _viterbi_ctes(pre: str, costs: str) -> str:
    """The unrolled Viterbi DP as chained CTEs: {pre}dp0..{pre}dp{L},
    {pre}fin (each word's segmentation picked at its own length) and
    {pre}u (frequency-weighted piece usage). dp{k} carries the argmin
    segmentation STRING so no backtrace is needed; ties are
    (total ASC, piece_len DESC) — the kernel's rule."""
    parts = [f"""{pre}dp0 AS (
  SELECT token, freq, strlen(token)::INT AS L, 0::BIGINT AS total,
         '' AS seg
  FROM wf),"""]
    for k in range(1, UNI_LMAX + 1):
        branches = []
        for ln in range(1, min(UNI_MAXP, k) + 1):
            branches.append(f"""      SELECT d.token, d.freq, d.L,
             d.total + v.cost AS total,
             CASE WHEN d.seg = '' THEN v.piece
                  ELSE d.seg || ' ' || v.piece END AS seg,
             {ln} AS pl
      FROM {pre}dp{k - ln} d
      JOIN {costs} v ON v.piece = substr(d.token, {k - ln + 1}, {ln})
      WHERE d.L >= {k}""")
        union = "\n      UNION ALL\n".join(branches)
        parts.append(f"""{pre}dp{k} AS MATERIALIZED (
  SELECT token, freq, L, total, seg FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY token ORDER BY total ASC, pl DESC) AS rn
    FROM (
{union}
    )) WHERE rn = 1),""")
    fins = "\n  UNION ALL\n".join(
        f"  SELECT token, freq, seg FROM {pre}dp{k} WHERE L = {k}"
        for k in range(1, UNI_LMAX + 1)
    )
    parts.append(f"""{pre}fin AS MATERIALIZED (
{fins}),""")
    parts.append(f"""{pre}u AS MATERIALIZED (
  SELECT piece, SUM(freq)::BIGINT AS u
  FROM (SELECT unnest(string_split(seg, ' ')) AS piece, freq
        FROM {pre}fin)
  GROUP BY piece),""")
    return "\n".join(parts)


def q_unigram_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram tokenizer APPLICATION — the `bpe_encode_corpus` twin
    for the SentencePiece family: train to the post-prune cost table
    (the `unigram_train_vocab` schedule, same constants) and emit
    every word's minimum-cost Viterbi segmentation with its piece
    count. The encode pass is the same ONE Arrow mapInPandas Viterbi
    stage as the E-steps; the oracle reuses the training oracle's
    unrolled DP chain and simply reports the final segmentation
    instead of the usage rollup."""
    from ..operators.unigram import unigram_encode

    docs = _t(spark, sf_dir, "documents")
    wf = _word_freq(docs)
    return unigram_encode(
        wf, seed_k=UNI_SEED_K, vocab_k=UNI_VOCAB_K,
        max_piece_len=UNI_MAXP, lmax=UNI_LMAX,
    )


def _unigram_oracle(final: str = "report") -> str:
    if final == "report":
        tail = """shares AS (
  SELECT c1.piece, COALESCE(e2u.u, 0)::BIGINT AS usage,
         c1.cost AS cost_micro
  FROM c1 LEFT JOIN e2u USING (piece))
SELECT piece, usage,
       ((usage * 1000000)
          // (CASE WHEN SUM(usage) OVER () = 0 THEN 1
                   ELSE SUM(usage) OVER () END))::BIGINT AS share_ppm,
       cost_micro
FROM shares"""
    else:  # the encode twin: report the final segmentations
        tail = """terminator AS (SELECT 1)  -- closes the DP chain's trailing comma
SELECT token, freq, seg AS encoded,
       len(string_split(seg, ' '))::INT AS n_pieces
FROM e2fin"""
    return f"""
WITH toks AS MATERIALIZED ({_TOKS_SQL}),
wf AS MATERIALIZED (
  SELECT term AS token, COUNT(*) AS freq
  FROM toks
  WHERE {_WF_FILTER_CHARS}
  GROUP BY term),
pos AS (
  SELECT token, freq, CAST(u.s AS INT) AS s
  FROM wf, UNNEST(range(1, strlen(token) + 1)) AS u(s)),
cand AS MATERIALIZED (
  SELECT substr(token, s, CAST(l.l AS INT)) AS piece,
         SUM(freq)::BIGINT AS c
  FROM pos,
       UNNEST(range(1, least({UNI_MAXP}, strlen(token) - s + 1) + 1))
         AS l(l)
  GROUP BY 1),
v0 AS MATERIALIZED (
  SELECT piece, c FROM cand WHERE strlen(piece) = 1
  UNION ALL
  SELECT piece, c FROM (
    SELECT piece, c,
           ROW_NUMBER() OVER (ORDER BY c DESC, piece ASC) AS rn
    FROM cand WHERE strlen(piece) >= 2) WHERE rn <= {UNI_SEED_K}),
ctot AS (SELECT SUM(c)::BIGINT AS c_tot FROM v0),
c0 AS MATERIALIZED (
  SELECT piece,
         CAST(floor(-ln(c::DOUBLE / c_tot) * 1000000 + 0.5) AS BIGINT)
           AS cost
  FROM v0, ctot),
{_viterbi_ctes("e1", "c0")}
kept AS MATERIALIZED (
  SELECT piece FROM v0 WHERE strlen(piece) = 1
  UNION ALL
  SELECT piece FROM (
    SELECT v0.piece,
           ROW_NUMBER() OVER (
             ORDER BY COALESCE(e1u.u, 0) DESC, v0.piece ASC) AS rn
    FROM v0 LEFT JOIN e1u ON v0.piece = e1u.piece
    WHERE strlen(v0.piece) >= 2) WHERE rn <= {UNI_VOCAB_K}),
kt AS (
  SELECT SUM(COALESCE(u, 0))::BIGINT AS ut, COUNT(*)::BIGINT AS nk
  FROM kept LEFT JOIN e1u USING (piece)),
c1 AS MATERIALIZED (
  SELECT kept.piece,
         CAST(floor(-ln((COALESCE(u, 0) + 1)::DOUBLE / (ut + nk))
                    * 1000000 + 0.5) AS BIGINT) AS cost
  FROM kept LEFT JOIN e1u USING (piece), kt),
{_viterbi_ctes("e2", "c1")}
{tail}
"""


ORACLE_UNIGRAM_TRAIN_VOCAB = _unigram_oracle()
ORACLE_UNIGRAM_ENCODE_CORPUS = _unigram_oracle(final="encode")


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of BM25 + ANN cosine
# ---------------------------------------------------------------------------

RRF_K0 = 60        # the standard RRF damping constant
RRF_N_SEM = 15     # semantic list length (mirrors BM25_TOP_K = 15)
RRF_TOP_K = 10
RRF_QUERY_VEC = 0  # the query: document/vector id 0's embedding


def q_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: the BM25 lexical top-15 (`bm25_top_docs`'
    exact machinery) fused with the exact-cosine semantic top-15 for
    document 0's embedding by reciprocal-rank fusion
    (`operators.rank_fusion.rrf_fuse` — exact integer-nano
    reciprocals via BIGINT floor division, so the fused score is an
    order-free integer sum both engines reproduce bit for bit).
    Output: (doc_id, rank_lex, rank_sem — NULL where one ranker
    missed, rrf_nano, rank), top-10 by (rrf_nano DESC, doc_id).
    Scale shape: the rankers do the heavy work; fusion is one hash
    aggregate over <= 30 bounded rows."""
    from ..operators.rank_fusion import rrf_fuse
    from ..operators.similarity import cosine_topk_bruteforce

    lex_w = Window.orderBy(F.desc("score_micro"), F.asc("doc_id"))
    lex = (
        q_bm25_top_docs(spark, sf_dir)
        .select("doc_id", "score_micro")
        .withColumn("rank", F.row_number().over(lex_w))
    )
    emb = _t(spark, sf_dir, "embeddings")
    sem = cosine_topk_bruteforce(
        emb, emb.where(F.col("vec_id") == RRF_QUERY_VEC), k=RRF_N_SEM
    ).select(F.col("neighbor_id").alias("doc_id"), "rank")
    return rrf_fuse(
        {"lex": lex.select("doc_id", "rank"), "sem": sem},
        k0=RRF_K0,
        top_k=RRF_TOP_K,
    )


ORACLE_HYBRID_RRF = (
    _BM25_STATS + ",\n"
    "bm AS (\n"
    "  SELECT doc_id, ("
    + "\n        + ".join(_bm25_term_sql(t) for t in BM25_TERMS)
    + ") AS score_micro\n"
    "  FROM pd CROSS JOIN g CROSS JOIN n\n"
    f"  ORDER BY score_micro DESC, doc_id ASC LIMIT {BM25_TOP_K}),\n"
    "lex AS (\n"
    "  SELECT doc_id,\n"
    "         ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id ASC)\n"
    "           AS rank\n"
    "  FROM bm),\n"
    "sem AS (\n"
    "  SELECT neighbor_id AS doc_id, rank FROM (\n"
    "    SELECT c.vec_id AS neighbor_id,\n"
    "           ROW_NUMBER() OVER (ORDER BY\n"
    "             ROUND(\n"
    "               list_sum(list_transform(range(1, len(q.embedding) + 1),\n"
    "                 i -> q.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE))\n"
    "               / (sqrt(list_sum(list_transform(\n"
    "                    range(1, len(q.embedding) + 1),\n"
    "                    i -> q.embedding[i]::DOUBLE * q.embedding[i]::DOUBLE)))\n"
    "                  * sqrt(list_sum(list_transform(\n"
    "                    range(1, len(c.embedding) + 1),\n"
    "                    i -> c.embedding[i]::DOUBLE * c.embedding[i]::DOUBLE)))),\n"
    "               6) DESC, c.vec_id ASC) AS rank\n"
    "    FROM embeddings q, embeddings c\n"
    f"    WHERE q.vec_id = {RRF_QUERY_VEC} AND c.vec_id <> {RRF_QUERY_VEC})\n"
    f"  WHERE rank <= {RRF_N_SEM}),\n"
    "u AS (\n"
    "  SELECT doc_id, 'lex' AS ranker, rank FROM lex\n"
    "  UNION ALL\n"
    "  SELECT doc_id, 'sem' AS ranker, rank FROM sem),\n"
    "fused AS (\n"
    "  SELECT doc_id,\n"
    f"         SUM(1000000000 // ({RRF_K0} + rank))::BIGINT AS rrf_nano,\n"
    "         MAX(CASE WHEN ranker = 'lex' THEN rank END)::BIGINT AS rank_lex,\n"
    "         MAX(CASE WHEN ranker = 'sem' THEN rank END)::BIGINT AS rank_sem\n"
    "  FROM u GROUP BY doc_id),\n"
    "fin AS (\n"
    "  SELECT doc_id, rank_lex, rank_sem, rrf_nano,\n"
    "         ROW_NUMBER() OVER (ORDER BY rrf_nano DESC, doc_id ASC) AS rank\n"
    "  FROM fused)\n"
    "SELECT doc_id, rank_lex, rank_sem, rrf_nano, rank::INT AS rank\n"
    f"FROM fin WHERE rank <= {RRF_TOP_K}"
)
