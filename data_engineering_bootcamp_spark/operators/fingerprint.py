"""Winnowing document fingerprints — rolling-hash (Rabin-Karp) k-gram
hashing + window-min selection (the MOSS algorithm; Schleimer, Wilkerson
& Aiken, SIGMOD'03).  Training-pipeline capability: "document
fingerprinting (rolling hash)".

Pipeline (all deterministic, cross-engine exact):

1. normalize: ``lower`` then strip ``[^a-z0-9]`` — done in Catalyst so
   the JVM and the oracle share one definition and the UDF only ever
   sees plain ASCII bytes.
2. k-gram polynomial hash: ``h_i = sum_j ord(s[i+j]) * B^(k-1-j) mod M``
   with B=257, M=2^31-1.  Integer arithmetic only, so numpy (vectorized
   convolution) and ANSI SQL (ord×weight join-aggregate) agree bit-for-
   bit — same cross-engine recipe as the md5-derived LSH constants.
3. winnowing: sliding window of ``w`` consecutive gram hashes, keep the
   per-window minimum; the DISTINCT set of window minima is the
   document's fingerprint set.  Guarantees any shared substring of
   length >= w + k - 1 between two documents yields a shared
   fingerprint.

Scale: one Arrow batch pass per partition, O(len) per document (k is a
small constant), no shuffle — the same cost class as MinHash shingling.
The fingerprint set is reduced to (count, xor, min) per document here;
a dedup join would instead explode the minima and equi-join on the
fingerprint value (identical shape to the LSH band join in
``operators/dedup.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

K = 8  # gram length (chars)
W = 25  # winnow window (grams)
B = 257
M = (1 << 31) - 1  # Mersenne 2^31-1: products stay inside int64
POWS = [pow(B, K - 1 - j, M) for j in range(K)]  # B^(k-1-j) mod M


def normalized_text(text: Column | str) -> Column:
    """The shared normalization both engines apply before hashing."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(F.lower(c), "[^a-z0-9]", "")


def winnow_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = K,
    w: int = W,
) -> DataFrame:
    """Per-document winnowed fingerprint summary.

    Output: (id_col, n_fp INT, fp_xor BIGINT, fp_min BIGINT) where the
    stats are over the DISTINCT window-min gram hashes.  Documents whose
    normalized text is shorter than one full window (k + w - 1 chars)
    are dropped — they have no complete window.
    """
    out = _winnowed(docs, text_col, id_col, k, w)
    return out.select(
        id_col,
        F.col("_fp.n_fp").alias("n_fp"),
        F.col("_fp.fp_xor").alias("fp_xor"),
        F.col("_fp.fp_min").alias("fp_min"),
    )


def winnow_fingerprint_set(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = K,
    w: int = W,
) -> DataFrame:
    """Exploded fingerprint set: one (id_col, fp BIGINT) row per distinct
    window-min hash.  This is the dedup-join shape — equi-joining two
    corpora on ``fp`` surfaces every pair sharing a substring of length
    >= w + k - 1, the same banded-candidate pattern as LSH."""
    out = _winnowed(docs, text_col, id_col, k, w)
    return out.select(id_col, F.explode("_fp.fps").alias("fp"))


def _winnowed(
    docs: DataFrame, text_col: str, id_col: str, k: int, w: int
) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    pows = POWS if k == K else [pow(B, k - 1 - j, M) for j in range(k)]
    mod = M

    @pandas_udf("struct<n_fp:int,fp_xor:bigint,fp_min:bigint,fps:array<bigint>>")
    def _win(texts):
        import numpy as _np
        import pandas as _pd

        pw = _np.array(pows, dtype=_np.int64)
        n_fp, fp_xor, fp_min, fp_set = [], [], [], []
        for t in texts:
            b = _np.frombuffer(t.encode(), dtype=_np.uint8).astype(_np.int64)
            n = len(b) - k + 1
            h = _np.zeros(n, dtype=_np.int64)
            for j in range(k):
                h += b[j : j + n] * pw[j]
            h %= mod
            mins = (
                _pd.Series(h)
                .rolling(w)
                .min()
                .to_numpy()[w - 1 :]
                .astype(_np.int64)
            )
            fps = _np.unique(mins)
            n_fp.append(len(fps))
            fp_xor.append(int(_np.bitwise_xor.reduce(fps)))
            fp_min.append(int(fps[0]))
            fp_set.append(fps.tolist())
        return _pd.DataFrame(
            {"n_fp": n_fp, "fp_xor": fp_xor, "fp_min": fp_min, "fps": fp_set}
        )

    base = docs.select(
        id_col, normalized_text(text_col).alias("_s")
    ).where(F.length("_s") >= k + w - 1)
    return base.select(id_col, _win(F.col("_s")).alias("_fp"))


def winnow_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = K,
    w: int = W,
    min_shared: int = 5,
) -> DataFrame:
    """Near-dup candidate pairs by shared winnowed fingerprint — the
    dedup-join shape fingerprinting exists for.  Equi self-join on the
    fingerprint value (hash join, same banded-candidate pattern as LSH;
    a fingerprint shared by an exact-duplicate cluster fans out
    |cluster|² like any blocking key — AQE skew handling applies, and a
    production run would cap pathological buckets first).  Output:
    (doc_id_a, doc_id_b, n_shared BIGINT), doc_id_a < doc_id_b,
    n_shared = number of distinct shared fingerprints, kept when
    >= min_shared (a single shared 32-char run is common in natural
    text; several distinct shared runs is the near-dup signal).

    The fingerprint base is computed ONCE and persisted (both join
    sides read it).
    """
    fps = winnow_fingerprint_set(docs, text_col, id_col, k, w).persist()
    left = fps.withColumnRenamed(id_col, "doc_id_a")
    right = fps.withColumnRenamed(id_col, "doc_id_b")
    return (
        left.join(right, "fp")
        .where(F.col("doc_id_a") < F.col("doc_id_b"))
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def _winnow_cte_prefix(k: int, w: int) -> str:
    pows = [pow(B, k - 1 - j, M) for j in range(k)]
    weights = ", ".join(f"({j}, {p})" for j, p in enumerate(pows))
    return f"""
WITH d AS (
  SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
  FROM documents
),
dd AS (
  SELECT doc_id, s, length(s) AS len
  FROM d WHERE length(s) >= {k + w - 1}
),
c0 AS (
  SELECT doc_id, len, s, UNNEST(range(1, len + 1)) AS pos FROM dd
),
c AS (
  SELECT doc_id, len, pos, ord(substr(s, pos::INT, 1)) AS o FROM c0
),
g AS (
  SELECT doc_id, len, pos - j AS i, SUM(o::BIGINT * wt) % {M} AS h
  FROM c CROSS JOIN (VALUES {weights}) wts(j, wt)
  WHERE pos - j >= 1 AND pos - j <= len - {k - 1}
  GROUP BY doc_id, len, pos - j
),
m AS (
  SELECT doc_id, len, i,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS mn
  FROM g
)"""


def winnow_oracle_sql(k: int = K, w: int = W) -> str:
    """DuckDB SQL that replays the exact fingerprint computation (chars
    → ord×weight gram hashes → window minima → distinct-set stats)."""
    return (
        _winnow_cte_prefix(k, w)
        + f"""
SELECT doc_id,
       COUNT(DISTINCT mn)::INT AS n_fp,
       bit_xor(DISTINCT mn)::BIGINT AS fp_xor,
       MIN(mn)::BIGINT AS fp_min
FROM m
WHERE i <= len - {k + w - 2}
GROUP BY doc_id
"""
    )


def winnow_pairs_oracle_sql(
    k: int = K, w: int = W, min_shared: int = 5
) -> str:
    """DuckDB SQL replaying `winnow_pairs`: distinct per-doc fingerprint
    sets, self-joined on the fingerprint value."""
    return (
        _winnow_cte_prefix(k, w)
        + f""",
sets AS (
  SELECT DISTINCT doc_id, mn FROM m WHERE i <= len - {k + w - 2}
)
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       COUNT(*) AS n_shared
FROM sets a JOIN sets b ON a.mn = b.mn AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= {min_shared}
"""
    )
