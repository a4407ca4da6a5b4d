"""Unigram-LM tokenizer training (SentencePiece-shape, VERDICT r14 #8).

The OTHER production tokenizer family beside BPE (Kudo 2018,
"Subword Regularization"; the SentencePiece unigram trainer): seed a
vocabulary with frequent substrings, then alternate (E) Viterbi
segmentation of the corpus under the current piece costs with (M)
re-estimating piece costs from usage, pruning the vocabulary between
rounds. This module implements a FIXED-round, integer-cost variant
under the repo's exact-replay discipline:

- **Seed vocab**: every single character plus the `seed_k` most
  frequent substrings of length 2..`max_piece_len` (occurrence count
  weighted by word frequency, counting overlapping positions), ties
  broken by piece ASC. Single characters are always kept so every
  word stays segmentable.
- **Costs in integer MICRO-NATS**: cost(p) = HALF_UP(-ln(c_p / C) *
  1e6) — the one transcendental, rounded into integer micro-units
  exactly like `bm25_top_docs`' idf (documented cross-engine envelope:
  a last-ulp libm difference flips a cost with probability ~1e-9).
  Every Viterbi DP value is then an exact BIGINT SUM of micro-costs.
- **Viterbi**: minimize total cost over segmentations with pieces of
  length <= `max_piece_len`; ties prefer the LONGER last piece at each
  position (deterministic leftmost-longest-flavored rule both engines
  replay: ORDER BY total ASC, piece_len DESC).
- **Prune**: after the first E-step keep all single characters plus
  the top `vocab_k` multi-char pieces by (usage DESC, piece ASC);
  M-step re-costs the kept set with +1 Laplace smoothing so unused
  pieces stay finite: cost1(p) = HALF_UP(-ln((u_p + 1) /
  (U_kept + N_kept)) * 1e6).
- **Fixed schedule**: E(cost0) -> prune -> M -> E(cost1) -> usage
  report. No RNG, no convergence test — the DuckDB oracle unrolls the
  identical recurrence (the Viterbi DP as `lmax` chained CTEs carrying
  the argmin segmentation STRING forward, so no backtrace pass is
  needed).

Scale shape: the corpus-scale work is the word-frequency groupBy the
caller feeds in (one shuffle over the token stream); everything here
runs over the WORD table — one substring-explode groupBy (shuffle on
piece), and per E-step ONE Arrow mapInPandas pass with the bounded
cost table broadcast plus ONE usage groupBy. The model tables that
cross the driver are bounded by contract (`seed_k` + alphabet,
`vocab_k` + alphabet); the word table itself never collects.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

MICRO = 1_000_000


def _cost_micro(num: int, den: int) -> int:
    """HALF_UP integer micro-nats of -ln(num/den) — num < den, both
    exact BIGINTs, so both engines feed libm the identical double."""
    return int(math.floor(-math.log(num / den) * MICRO + 0.5))


def substring_weights(
    wf: DataFrame, max_piece_len: int = 4
) -> DataFrame:
    """(piece, c): total weighted occurrences of every substring of
    length 1..max_piece_len across the word table — overlapping
    positions count, each weighted by the word's corpus frequency.
    One JVM-side explode + one groupBy; no Python."""
    pieces = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.length("token")),
            lambda s: F.transform(
                F.sequence(
                    F.lit(1),
                    F.least(
                        F.lit(max_piece_len),
                        F.length("token") - s + 1,
                    ),
                ),
                lambda ln: F.col("token").substr(s, ln),
            ),
        )
    )
    return (
        wf.select(F.explode(pieces).alias("piece"), "freq")
        .groupBy("piece")
        .agg(F.sum("freq").alias("c"))
    )


def viterbi_segment(
    wf: DataFrame, costs: dict[str, int], max_piece_len: int = 4
) -> DataFrame:
    """One E-step: segment every word by minimum total micro-cost
    (ties: longer last piece wins at each DP position). Output
    (token, freq, seg) with seg = space-joined pieces. ONE Arrow
    mapInPandas pass; the cost table ships once as a broadcast."""
    spark = wf.sparkSession
    bc = spark.sparkContext.broadcast((dict(costs), int(max_piece_len)))

    def run(batches):
        cost, maxp = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            segs = []
            for tok in pdf["token"]:
                n = len(tok)
                # dp[i] = (total, seg) for prefix of length i
                dp: list = [None] * (n + 1)
                dp[0] = (0, "")
                for i in range(1, n + 1):
                    best = None
                    best_l = 0
                    for ln in range(1, min(maxp, i) + 1):
                        prev = dp[i - ln]
                        if prev is None:
                            continue
                        c = cost.get(tok[i - ln:i])
                        if c is None:
                            continue
                        tot = prev[0] + c
                        if (
                            best is None
                            or tot < best[0]
                            or (tot == best[0] and ln > best_l)
                        ):
                            piece = tok[i - ln:i]
                            best = (
                                tot,
                                piece
                                if prev[1] == ""
                                else prev[1] + " " + piece,
                            )
                            best_l = ln
                    dp[i] = best
                if dp[n] is None:
                    raise ValueError(
                        f"viterbi_segment: {tok!r} not segmentable — "
                        "the vocab must contain every single character"
                    )
                segs.append(dp[n][1])
            res = pdf.copy()
            res["seg"] = segs
            yield res

    return wf.select("token", "freq").mapInPandas(
        run, schema="token string, freq long, seg string"
    )


def piece_usage(segmented: DataFrame) -> DataFrame:
    """(piece, u): frequency-weighted piece usage of an E-step output
    — one explode + one groupBy, output bounded by the vocab size."""
    return (
        segmented.select(
            F.explode(F.split("seg", " ")).alias("piece"), "freq"
        )
        .groupBy("piece")
        .agg(F.sum("freq").alias("u"))
    )


def _train_costs(
    wf: DataFrame,
    seed_k: int,
    vocab_k: int,
    max_piece_len: int,
    lmax: int,
) -> dict[str, int]:
    """The shared training schedule up to the final cost table:
    seed -> cost0 -> E-step 1 -> prune -> Laplace M-step. Returns the
    post-prune cost table (piece -> micro-nats) the final E-step and
    the encoder both run with."""
    stats = wf.agg(
        F.max(F.length("token")).alias("ml"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    if stats["n"] == 0:
        raise ValueError("unigram_train: empty word table")
    if stats["ml"] > lmax:
        raise ValueError(
            f"unigram_train: word length {stats['ml']} exceeds the "
            f"unrolled DP bound lmax={lmax} — raise lmax (the oracle "
            "unrolls the same bound)"
        )

    cand = substring_weights(wf, max_piece_len)
    # bounded model fetches (quantizer-training contract): the single
    # characters (alphabet-bounded) and the top seed_k multi-char
    # pieces by (c DESC, piece ASC) — a TakeOrdered, never a full sort
    singles = cand.where(F.length("piece") == 1).collect()
    multis = (
        cand.where(F.length("piece") >= 2)
        .orderBy(F.desc("c"), F.asc("piece"))
        .limit(seed_k)
        .collect()
    )
    seed = {r["piece"]: int(r["c"]) for r in [*singles, *multis]}
    c_tot = sum(seed.values())
    cost0 = {p: _cost_micro(c, c_tot) for p, c in seed.items()}

    # E-step 1 + usage (bounded by |seed|)
    u1 = {
        r["piece"]: int(r["u"])
        for r in piece_usage(
            viterbi_segment(wf, cost0, max_piece_len)
        ).collect()
    }
    # prune: all single chars + top vocab_k multi-char by (u DESC, ASC)
    multi_ranked = sorted(
        (p for p in seed if len(p) >= 2),
        key=lambda p: (-u1.get(p, 0), p),
    )[:vocab_k]
    kept = sorted(p for p in seed if len(p) == 1) + multi_ranked
    u_kept_tot = sum(u1.get(p, 0) for p in kept)
    n_kept = len(kept)
    return {
        p: _cost_micro(u1.get(p, 0) + 1, u_kept_tot + n_kept)
        for p in kept
    }


def unigram_train(
    wf: DataFrame,
    seed_k: int = 120,
    vocab_k: int = 96,
    max_piece_len: int = 4,
    lmax: int = 16,
) -> DataFrame:
    """Full fixed-schedule unigram-LM training over a (token, freq)
    word table. Returns one row per KEPT vocab piece:
    (piece, usage, share_ppm, cost_micro) — usage from the final
    E-step, share_ppm the exact integer ppm of total usage,
    cost_micro the post-prune Laplace cost the final E-step ran with.
    """
    spark = wf.sparkSession
    cost1 = _train_costs(wf, seed_k, vocab_k, max_piece_len, lmax)
    kept = sorted(cost1)

    # final E-step under the pruned/re-estimated costs
    u2 = piece_usage(viterbi_segment(wf, cost1, max_piece_len))
    kept_df = spark.createDataFrame(
        [(p, cost1[p]) for p in kept], "piece string, cost_micro long"
    )
    w_all = Window.partitionBy()  # global window over <= |kept| rows
    return (
        kept_df.join(u2, "piece", "left")
        .withColumn("usage", F.coalesce("u", F.lit(0)))
        .withColumn("tot", F.sum("usage").over(w_all))
        .select(
            "piece",
            "usage",
            F.expr(
                f"(usage * {MICRO}) div "
                "(CASE WHEN tot = 0 THEN 1 ELSE tot END)"
            ).alias("share_ppm"),
            "cost_micro",
        )
    )


def unigram_encode(
    wf: DataFrame,
    seed_k: int = 120,
    vocab_k: int = 96,
    max_piece_len: int = 4,
    lmax: int = 16,
) -> DataFrame:
    """Tokenizer APPLICATION for the unigram family — the
    `bpe_apply_merges` twin: run the same fixed training schedule to
    the post-prune cost table, then Viterbi-segment every word under
    it. Returns (token, freq, encoded, n_pieces) where encoded is the
    space-joined minimum-cost segmentation (ties to the longer piece)
    — exactly the final E-step's segmentation, so the oracle reuses
    the training oracle's DP chain verbatim."""
    cost1 = _train_costs(wf, seed_k, vocab_k, max_piece_len, lmax)
    seg = viterbi_segment(wf, cost1, max_piece_len)
    return seg.select(
        "token",
        "freq",
        F.col("seg").alias("encoded"),
        F.size(F.split("seg", " ")).alias("n_pieces"),
    )


def unigram_train_python(
    words: list[tuple[str, int]],
    seed_k: int = 120,
    vocab_k: int = 96,
    max_piece_len: int = 4,
) -> dict[str, tuple[int, int, int]]:
    """Pure-Python replay twin of `unigram_train` (for tests):
    {piece: (usage, share_ppm, cost_micro)}."""
    cand: dict[str, int] = {}
    for tok, f in words:
        n = len(tok)
        for s in range(n):
            for ln in range(1, min(max_piece_len, n - s) + 1):
                p = tok[s:s + ln]
                cand[p] = cand.get(p, 0) + f
    singles = {p: c for p, c in cand.items() if len(p) == 1}
    multis = sorted(
        ((p, c) for p, c in cand.items() if len(p) >= 2),
        key=lambda kv: (-kv[1], kv[0]),
    )[:seed_k]
    seed = {**singles, **dict(multis)}
    c_tot = sum(seed.values())
    cost0 = {p: _cost_micro(c, c_tot) for p, c in seed.items()}

    def viterbi(tok: str, cost: dict[str, int]) -> list[str]:
        n = len(tok)
        dp: list = [None] * (n + 1)
        dp[0] = (0, [])
        for i in range(1, n + 1):
            best, best_l = None, 0
            for ln in range(1, min(max_piece_len, i) + 1):
                prev = dp[i - ln]
                if prev is None:
                    continue
                c = cost.get(tok[i - ln:i])
                if c is None:
                    continue
                tot = prev[0] + c
                if best is None or tot < best[0] or (
                    tot == best[0] and ln > best_l
                ):
                    best = (tot, prev[1] + [tok[i - ln:i]])
                    best_l = ln
            dp[i] = best
        assert dp[n] is not None
        return dp[n][1]

    def usage(cost: dict[str, int]) -> dict[str, int]:
        u: dict[str, int] = {}
        for tok, f in words:
            for p in viterbi(tok, cost):
                u[p] = u.get(p, 0) + f
        return u

    u1 = usage(cost0)
    multi_ranked = sorted(
        (p for p in seed if len(p) >= 2), key=lambda p: (-u1.get(p, 0), p)
    )[:vocab_k]
    kept = sorted(p for p in seed if len(p) == 1) + multi_ranked
    u_kept_tot = sum(u1.get(p, 0) for p in kept)
    cost1 = {
        p: _cost_micro(u1.get(p, 0) + 1, u_kept_tot + len(kept))
        for p in kept
    }
    u2 = usage(cost1)
    tot = sum(u2.get(p, 0) for p in kept) or 1
    return {
        p: (
            u2.get(p, 0),
            (u2.get(p, 0) * MICRO) // tot,
            cost1[p],
        )
        for p in kept
    }
