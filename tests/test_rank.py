"""BPE merge training and BM25 scoring (round-13 additions): every
numeric claim checked against an INDEPENDENT pure-Python replay, not
against the Spark code's own arithmetic."""

import math
import re

import pytest
from pyspark.sql import functions as F


def _python_bpe(words, iters):
    """Reference BPE trainer: dict-of-symbol-tuples, greedy
    non-overlapping left-to-right merge, argmax on
    (total DESC, lhs ASC, rhs ASC)."""
    w = {}
    for t, f in words:
        w[tuple(t)] = w.get(tuple(t), 0) + f
    out = []
    for step in range(1, iters + 1):
        counts = {}
        for syms, f in w.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = (
                    counts.get((syms[i], syms[i + 1]), 0) + f
                )
        if not counts:
            break
        (l, r), tot = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        out.append((step, l, r, l + r, tot))
        new = {}
        for syms, f in w.items():
            res, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    res.append(l + r)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            new[tuple(res)] = new.get(tuple(res), 0) + f
        w = new
    return out


def test_merge_pair_greedy_semantics(spark):
    """The double-space replace trick must implement exactly greedy
    non-overlapping left-to-right merging — including the overlap
    ('a a a') and repeat ('a b a b') cases where naive padded replace
    gets it wrong."""
    from data_engineering_bootcamp_spark.operators.bpe import merge_pair

    cases = [
        ("a a a", "a", "a", "aa a"),
        ("a a a a", "a", "a", "aa aa"),
        ("x a b a b x", "a", "b", "x ab ab x"),
        ("a b", "a", "b", "ab"),
        ("b a b a", "a", "b", "b ab a"),
        ("q w e", "a", "b", "q w e"),
    ]
    df = spark.createDataFrame(cases, "w string, l string, r string, want string")
    got = df.select(
        "want", merge_pair(F.col("w"), F.col("l"), F.col("r")).alias("got")
    ).collect()
    assert all(r.got == r.want for r in got), [
        (r.want, r.got) for r in got if r.got != r.want
    ]


def test_bpe_train_merges_matches_python_replay(spark):
    from data_engineering_bootcamp_spark.operators.bpe import bpe_train_merges

    words = [("lower", 3), ("lowest", 2), ("newer", 5), ("wider", 1), ("low", 4)]
    df = spark.createDataFrame(words, "token string, freq long")
    got = [tuple(r) for r in bpe_train_merges(df, 6).orderBy("step").collect()]
    assert got == _python_bpe(words, 6)
    # lazy composition (checkpoint_every=0) must be result-identical
    lazy = [
        tuple(r)
        for r in bpe_train_merges(df, 6, checkpoint_every=0)
        .orderBy("step")
        .collect()
    ]
    assert lazy == got


def test_bpe_early_stop_and_guards(spark):
    from data_engineering_bootcamp_spark.operators.bpe import bpe_train_merges

    # vocabulary exhausts after one merge: later steps emit nothing and
    # must not corrupt the run (the empty-winner crossJoin hazard)
    df = spark.createDataFrame([("ab", 7)], "token string, freq long")
    got = [tuple(r) for r in bpe_train_merges(df, 5).collect()]
    assert got == [(1, "a", "b", "ab", 7)]
    # no pairs at all -> schema-stable empty result
    df1 = spark.createDataFrame([("a", 1)], "token string, freq long")
    empty = bpe_train_merges(df1, 3)
    assert empty.count() == 0
    assert empty.columns == ["step", "lhs", "rhs", "merged", "total"]
    with pytest.raises(ValueError, match="iterations"):
        bpe_train_merges(df, 0)


def test_bm25_top_docs_matches_python_replay(spark, sf_small):
    """The full catalog entry replayed in pure Python from the parquet
    bytes: tokenization, tf/dl/df/T, the integer-fraction tf part, the
    ln-based idf, micro rounding (half-away-from-zero, matching both
    engines' ROUND), integer score sum, and top-k ordering."""
    import pyarrow.parquet as pq

    from data_engineering_bootcamp_spark.plans.catalog_rank import (
        BM25_TERMS,
        BM25_TOP_K,
        q_bm25_top_docs,
    )

    tbl = pq.read_table(f"{sf_small}/documents.parquet", columns=["doc_id", "text"])
    docs = list(zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()))
    n_docs = len(docs)
    per_doc = {}
    for doc_id, text in docs:
        toks = [t for t in re.sub(r"\s+", " ", text.lower()).strip().split(" ") if t]
        if not toks:
            continue
        tf = {t: sum(1 for x in toks if x == t) for t in BM25_TERMS}
        per_doc[doc_id] = (len(toks), tf)
    t_tokens = sum(dl for dl, _ in per_doc.values())
    df_t = {
        t: sum(1 for _, tf in per_doc.values() if tf[t] > 0) for t in BM25_TERMS
    }
    rows = []
    for doc_id, (dl, tf) in per_doc.items():
        score = 0
        for t in BM25_TERMS:
            if tf[t] == 0:
                continue
            idf = math.log(2 * n_docs + 2) - math.log(2 * df_t[t] + 1)
            num = 44 * tf[t] * t_tokens
            den = 20 * tf[t] * t_tokens + 6 * t_tokens + 18 * n_docs * dl
            score += int(math.floor(1000000.0 * idf * (num / den) + 0.5))
        n_terms = sum(1 for t in BM25_TERMS if tf[t] > 0)
        rows.append(
            (doc_id, dl, *(tf[t] for t in BM25_TERMS), n_terms, score)
        )
    rows.sort(key=lambda r: (-r[-1], r[0]))
    expected = rows[:BM25_TOP_K]

    got = [tuple(r) for r in q_bm25_top_docs(spark, sf_small).collect()]
    assert got == expected
    # sanity on the fixture: scores vary and every top doc matched >= 1 term
    assert len({r[-1] for r in got}) > 1
    assert all(r[-2] >= 1 for r in got)


def test_bpe_apply_merges_matches_python_replay(spark):
    """ENCODE replayed in pure Python: train 5 rules, apply them in
    step order with the greedy non-overlapping loop, compare the full
    encoded vocabulary — and prove the early-stop safety (a trainer
    that stopped at 1 rule must leave words unchanged for the missing
    steps, not empty the table)."""
    from data_engineering_bootcamp_spark.operators.bpe import (
        bpe_apply_merges,
        bpe_train_merges,
    )

    words = [("lower", 3), ("lowest", 2), ("newer", 5), ("wider", 1), ("low", 4)]
    df = spark.createDataFrame(words, "token string, freq long")
    rules = bpe_train_merges(df, 5)
    got = {
        r["token"]: (r["encoded"], r["n_syms"])
        for r in bpe_apply_merges(df, rules, 5).collect()
    }

    merges = [(l, r) for _, l, r, _, _ in _python_bpe(words, 5)]

    def encode(tok):
        syms = list(tok)
        for l, r in merges:
            res, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    res.append(l + r)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            syms = res
        return " ".join(syms), len(syms)

    assert got == {t: encode(t) for t, _ in words}

    # early stop: only 1 rule learnable, apply asked for 4 steps
    df2 = spark.createDataFrame([("ab", 7), ("cd", 1)], "token string, freq long")
    rules2 = bpe_train_merges(df2, 4)  # learns (a,b) then (c,d): 2 rules
    enc2 = {
        r["token"]: r["encoded"]
        for r in bpe_apply_merges(df2, rules2, 4).collect()
    }
    assert enc2 == {"ab": "ab", "cd": "cd"}
    with pytest.raises(ValueError, match="steps"):
        bpe_apply_merges(df2, rules2, 0)


def test_pq_adc_recall_and_determinism(spark, sf_dir):
    """The PQ/ADC path (third ANN scale path): recall@5 vs brute force
    pinned >= 0.7 at the catalog entry's parameters (measured 0.88 at
    sf0.01 — random synthetic embeddings are PQ's hardest case), result
    invariant to input partitioning, and the codebook trainer's
    determinism rules spot-checked (means rounded to 6dp, empty cells
    keep seeds)."""
    import numpy as np
    from pyspark.sql import functions as F

    from data_engineering_bootcamp_spark.operators.dedup import (
        release_caches,
    )
    from data_engineering_bootcamp_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_pq,
        pq_codebooks,
    )
    from data_engineering_bootcamp_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    bf = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_bruteforce(emb, q, k=5).collect()
    }
    got_rows = cosine_topk_pq(
        emb, q, k=5, m=16, n_codes=16, n_candidates=50
    ).collect()
    release_caches()
    got = {(r.query_id, r.neighbor_id) for r in got_rows}
    assert len(got_rows) == 50  # 10 queries x top-5
    assert len(bf & got) / len(bf) >= 0.7

    # partitioning invariance: same result from a 7-partition layout
    got2 = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_pq(
            emb.repartition(7), q, k=5, m=16, n_codes=16, n_candidates=50
        ).collect()
    }
    release_caches()
    assert got2 == got

    # codebook contract: 6dp-rounded cells, correct shape, and a
    # non-divisible dimension split fails fast
    B = pq_codebooks(emb, m=16, n_codes=16)
    assert B.shape == (16, 16, 4)
    assert np.allclose(B, np.round(B, 6))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not divisible"):
        pq_codebooks(emb, m=7)


def test_ivfpq_recall_and_determinism(spark, sf_dir):
    """IVFADC (IVF coarse + PQ residuals): recall@5 vs brute force
    pinned >= 0.7 at the catalog entry's parameters (measured 0.80 at
    sf0.01 — probe-bound on random synthetic embeddings; the ADC
    ranking itself loses nothing vs raw-float IVF at these settings),
    and the result invariant to input partitioning."""
    from pyspark.sql import functions as F

    from data_engineering_bootcamp_spark.operators.dedup import (
        release_caches,
    )
    from data_engineering_bootcamp_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivfpq,
    )
    from data_engineering_bootcamp_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    bf = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_bruteforce(emb, q, k=5).collect()
    }
    got_rows = cosine_topk_ivfpq(
        emb, q, k=5, n_centroids=32, n_probe=10, m=16, n_codes=16,
        n_candidates=80,
    ).collect()
    release_caches()
    got = {(r.query_id, r.neighbor_id) for r in got_rows}
    assert len(got_rows) == 50  # 10 queries x top-5
    assert len(bf & got) / len(bf) >= 0.7

    # partitioning invariance: same result from a 7-partition layout
    got2 = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_ivfpq(
            emb.repartition(7), q, k=5, n_centroids=32, n_probe=10,
            m=16, n_codes=16, n_candidates=80,
        ).collect()
    }
    release_caches()
    assert got2 == got


def test_rrf_fuse_exact_semantics(spark):
    """RRF fusion law on a hand-computable fixture: exact integer-nano
    reciprocals (floor division), NULL rank for a ranker that missed a
    doc, ties broken by id, and input validation."""
    import pytest

    from data_engineering_bootcamp_spark.operators.rank_fusion import (
        rrf_fuse,
    )

    lex = spark.createDataFrame(
        [(1, 1), (2, 2), (3, 3)], "doc_id long, rank long"
    )
    sem = spark.createDataFrame(
        [(2, 1), (4, 2)], "doc_id long, rank long"
    )
    out = {
        r.doc_id: r
        for r in rrf_fuse({"lex": lex, "sem": sem}, k0=60, top_k=10)
        .collect()
    }
    # doc 2: lex rank 2 + sem rank 1 -> 10^9//62 + 10^9//61
    assert out[2].rrf_nano == 1_000_000_000 // 62 + 1_000_000_000 // 61
    assert (out[2].rank_lex, out[2].rank_sem) == (2, 1)
    # doc 1: lex only; sem rank is NULL
    assert out[1].rrf_nano == 1_000_000_000 // 61
    assert out[1].rank_sem is None
    # fused order: doc2 (two lists) first, then doc1, doc4, doc3...
    assert [r.doc_id for r in sorted(out.values(), key=lambda r: r.rank)] \
        == [2, 1, 4, 3]
    # doc4 (sem 2 -> //62) beats doc3 (lex 3 -> //63)
    assert out[4].rank < out[3].rank

    # top_k cut applies after fusion
    cut = rrf_fuse({"lex": lex, "sem": sem}, top_k=2).collect()
    assert len(cut) == 2

    with pytest.raises(ValueError, match="non-empty"):
        rrf_fuse({})
    with pytest.raises(ValueError, match=">= 1"):
        rrf_fuse({"lex": lex}, k0=0)
    # ADVICE r14: string ids must error, not silently cast to NULL
    # and collapse into one fused group
    str_ids = spark.createDataFrame(
        [("docA", 1), ("docB", 2)], "doc_id string, rank long"
    )
    with pytest.raises(TypeError, match="non-integral"):
        rrf_fuse({"lex": str_ids})


def _ref_byte_bpe(words: dict, iterations: int):
    """Pure-Python byte-level BPE reference: hex-pair base vocab,
    greedy non-overlapping left-to-right merges, winner by
    (total DESC, lhs ASC, rhs ASC)."""
    vocab = {
        tuple(f"{b:02X}" for b in w.encode("utf-8")): f
        for w, f in words.items()
    }
    rules = []
    for step in range(1, iterations + 1):
        counts = {}
        for syms, f in vocab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (lhs, rhs), total = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        rules.append((step, lhs, rhs, lhs + rhs, total))
        nxt = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == lhs and syms[i + 1] == rhs:
                    out.append(lhs + rhs)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nxt[tuple(out)] = nxt.get(tuple(out), 0) + f
        vocab = nxt
    return rules, vocab


def test_byte_bpe_non_ascii_fidelity(spark):
    """VERDICT r13 #4: byte-level BPE must train correctly on
    non-ASCII text (the character-level entry pins ^[a-z]+$ precisely
    because engines disagree there). Train on a mixed ASCII/Latin-1/
    CJK/emoji fixture and compare every learned rule — and the final
    encoded forms — against the pure-Python reference."""
    from pyspark.sql import functions as F

    from data_engineering_bootcamp_spark.operators.bpe import (
        bpe_apply_merges,
        bpe_train_merges,
        spaced_utf8_bytes,
    )

    words = {
        "héllo": 12, "héllò": 7, "naïve": 9, "naïf": 5,
        "日本語": 6, "日本": 8, "señor": 4, "schön": 4,
        "crème": 3, "🙂ok": 2, "ok": 10, "données": 5,
    }
    ref_rules, ref_vocab = _ref_byte_bpe(words, 6)
    assert len(ref_rules) == 6

    df = spark.createDataFrame(
        list(words.items()), "token string, freq long"
    )
    got = (
        bpe_train_merges(
            df, iterations=6, checkpoint_every=0,
            segmenter=spaced_utf8_bytes,
        )
        .orderBy("step")
        .collect()
    )
    assert [
        (r.step, r.lhs, r.rhs, r.merged, r.total) for r in got
    ] == ref_rules

    # encode round trip: applying the learned rules reproduces the
    # reference's final symbol sequences, and the hex concatenation
    # still decodes to the original word (merges preserve bytes)
    rules_df = bpe_train_merges(
        df, iterations=6, checkpoint_every=0, segmenter=spaced_utf8_bytes
    )
    enc = {
        r.token: r.encoded
        for r in bpe_apply_merges(
            df, rules_df, 6, segmenter=spaced_utf8_bytes
        ).collect()
    }
    ref_enc = {}
    for syms, _f in ref_vocab.items():
        word = bytes.fromhex("".join(syms)).decode("utf-8")
        ref_enc[word] = " ".join(syms)
    assert enc == ref_enc
    for tok, e in enc.items():
        assert bytes.fromhex(e.replace(" ", "")).decode("utf-8") == tok


def test_bpe_arrow_encode_matches_expression_chain(spark, sf_dir):
    """The production-rule-count encode path (one Arrow mapInPandas
    stage with the whole broadcast merge table) must encode exactly
    like the expression-chain form, on both segmenters — the scale
    seam bpe_apply_merges documents, now pinned instead of promised."""
    from pyspark.sql import functions as F

    from data_engineering_bootcamp_spark.operators.bpe import (
        bpe_apply_merges,
        bpe_apply_merges_arrow,
        bpe_train_merges,
        spaced_utf8_bytes,
    )
    from data_engineering_bootcamp_spark.plans.catalog_rank import _tokens
    from data_engineering_bootcamp_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    wf = (
        _tokens(docs)
        .groupBy(F.col("term").alias("token"))
        .agg(F.count(F.lit(1)).alias("freq"))
        .where((F.length("token") >= 2) & F.col("token").rlike("^[a-z]+$"))
        .localCheckpoint(eager=True)
    )
    rules = bpe_train_merges(wf, iterations=8, checkpoint_every=0)
    chain = {
        (r.token, r.encoded, r.n_syms)
        for r in bpe_apply_merges(wf, rules, 8).collect()
    }
    arrow = {
        (r.token, r.encoded, r.n_syms)
        for r in bpe_apply_merges_arrow(wf, rules).collect()
    }
    assert arrow == chain

    # byte-level segmenter too, on a non-ASCII fixture
    df = spark.createDataFrame(
        [("héllo", 3), ("héllò", 2), ("日本語", 4), ("naïve", 1)],
        "token string, freq long",
    )
    brules = bpe_train_merges(
        df, iterations=4, checkpoint_every=0, segmenter=spaced_utf8_bytes
    )
    chain_b = {
        (r.token, r.encoded)
        for r in bpe_apply_merges(
            df, brules, 4, segmenter=spaced_utf8_bytes
        ).collect()
    }
    arrow_b = {
        (r.token, r.encoded)
        for r in bpe_apply_merges_arrow(
            df, brules, segmenter=spaced_utf8_bytes
        ).collect()
    }
    assert arrow_b == chain_b

    # an empty merge table is identity (encoded = base segmentation)
    assert bpe_apply_merges_arrow(df, brules.limit(0)).count() == 4

    # ADVICE r14: NULL words flow through both paths identically
    # (NULL encoded / -1 n_syms) instead of crashing the Arrow kernel
    nul = spark.createDataFrame(
        [("héllo", 3), (None, 1)], "token string, freq long"
    )
    chain_n = {
        (r.token, r.encoded, r.n_syms)
        for r in bpe_apply_merges(
            nul, brules, 4, segmenter=spaced_utf8_bytes
        ).collect()
    }
    arrow_n = {
        (r.token, r.encoded, r.n_syms)
        for r in bpe_apply_merges_arrow(
            nul, brules, segmenter=spaced_utf8_bytes
        ).collect()
    }
    assert arrow_n == chain_n
    assert (None, None, -1) in arrow_n


def test_full_scope_training_matches_sampled_when_covered(spark, sf_dir):
    """VERDICT r14 #1: `train_scope="full"` (distributed Lloyd — one
    broadcast-assignment Arrow pass + one partial-combined groupBy per
    iteration) must produce BIT-IDENTICAL codebooks and IVFPQ results
    to the sampled driver-side numpy path whenever the md5 sample
    covers the corpus: same seeds, same assignment, same 6dp-rounded
    means, different execution substrate. Checked at 1 and 2 Lloyd
    iterations (2 exercises the loop re-broadcast). The full-scope half
    runs again with 7-row Arrow batches: the pico-integer reduce must
    not depend on how the corpus is cut into batches."""
    import numpy as np
    import pytest
    from pyspark.sql import functions as F

    from data_engineering_bootcamp_spark.operators.dedup import (
        release_caches,
    )
    from data_engineering_bootcamp_spark.operators.similarity import (
        cosine_topk_ivfpq,
        ivf_centroids,
        pq_codebooks,
    )
    from data_engineering_bootcamp_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    kw = dict(
        k=5, n_centroids=32, n_probe=10, m=16, n_codes=16,
        n_candidates=80,
    )
    Cs = {it: ivf_centroids(emb, 32, it) for it in (1, 2)}
    Bs = {it: pq_codebooks(emb, m=16, n_codes=16, lloyd_iters=it)
          for it in (1, 2)}
    a = sorted(map(tuple, cosine_topk_ivfpq(emb, q, **kw).collect()))
    release_caches()

    def check_full_scope():
        for iters in (1, 2):
            Cf = ivf_centroids(emb, 32, iters, train_scope="full")
            assert np.array_equal(Cs[iters], Cf), (
                f"coarse diverged at iters={iters}"
            )
            Bf = pq_codebooks(
                emb, m=16, n_codes=16, lloyd_iters=iters,
                train_scope="full",
            )
            assert np.array_equal(Bs[iters], Bf), (
                f"pq diverged at iters={iters}"
            )
        b = sorted(
            map(
                tuple,
                cosine_topk_ivfpq(
                    emb, q, train_scope="full", **kw
                ).collect(),
            )
        )
        release_caches()
        assert a == b

    check_full_scope()
    batch_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    spark.conf.set(batch_key, "7")
    try:
        check_full_scope()
    finally:
        spark.conf.unset(batch_key)

    with pytest.raises(ValueError, match="train_scope"):
        ivf_centroids(emb, 8, 1, train_scope="bogus")
    with pytest.raises(ValueError, match="train_scope"):
        pq_codebooks(emb, train_scope="bogus")


#: sha256 of the trained arrays' bytes at sf0.01, sample_size=60.
QUANTIZER_DIGESTS = {
    "ivf/sample/1": "5cd73c1b295bbd8a07b0d41e9466704f"
                    "e2ab0f081d51c073631a7f6ab52f37e0",
    "ivf/sample/2": "5cd73c1b295bbd8a07b0d41e9466704f"
                    "e2ab0f081d51c073631a7f6ab52f37e0",
    "ivf/full/1": "67100d775d3af08ddb13555243fcc636"
                  "a1108712153c40b4e486cb6bce599114",
    "ivf/full/2": "d9dc0d7e72c49a28706f36f549183e49"
                  "596e5bc6eca93907c67538b75d05f034",
    "pq/sample/1": "503d0194a1483f849f0f1d4705aad51d"
                   "c22f783351f2f83dd24d9e0a8f674a1b",
    "pq/sample/2": "abc183412646fe450346f98721e2313d"
                   "9752a2dce55246c2a79415fea970fc72",
    "pq/full/1": "f434c991e0589755cc1da43636f51770"
                 "1281aa9c14047c2dcd177f7e66742865",
    "pq/full/2": "3241b59b5636cff23ab91e6cdfd35121"
                 "58412e7e1a8c71d2612a8d52a9f72485",
}


def test_quantizer_training_digests(spark, sf_dir):
    """Bit-identity pin for quantizer training: `ivf_centroids` and
    `pq_codebooks` at sample_size=60 — an md5 sample SMALLER than the
    500-row sf0.01 corpus, so the two scopes train on different rows —
    at both train scopes, 1 and 2 Lloyd iterations. Any change to the
    seeds, assignment ties, 6dp rounding or the pico reduce moves a
    digest."""
    import hashlib

    import numpy as np

    from data_engineering_bootcamp_spark.operators.similarity import (
        ivf_centroids,
        pq_codebooks,
    )
    from data_engineering_bootcamp_spark.sources.readers import load_table

    def sha(a):
        return hashlib.sha256(np.ascontiguousarray(a).tobytes()).hexdigest()

    emb = load_table(spark, sf_dir, "embeddings")
    got = {}
    for scope in ("sample", "full"):
        for iters in (1, 2):
            C = ivf_centroids(
                emb, 32, iters, sample_size=60, train_scope=scope
            )
            B = pq_codebooks(
                emb, m=16, n_codes=16, lloyd_iters=iters, sample_size=60,
                train_scope=scope,
            )
            assert C.shape == (32, 64) and B.shape == (16, 16, 4)
            got[f"ivf/{scope}/{iters}"] = sha(C)
            got[f"pq/{scope}/{iters}"] = sha(B)
    assert got == QUANTIZER_DIGESTS


def test_ivfpq_fulltrain_recall(spark, sf_dir):
    """The `ann_ivfpq_fulltrain` geometry (16 centroids / 10 probes /
    16 subspaces / 80 candidates), trained FULL-scope on a corpus
    larger than its 256-row sampled budget: recall@5 vs brute force
    pinned >= 0.7 (measured 0.82 at sf0.01)."""
    from pyspark.sql import functions as F

    from data_engineering_bootcamp_spark.operators.dedup import (
        release_caches,
    )
    from data_engineering_bootcamp_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivfpq,
    )
    from data_engineering_bootcamp_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    assert emb.count() > 256  # the beyond-sample demonstration premise
    q = emb.where(F.col("vec_id") < 10)
    bf = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_bruteforce(emb, q, k=5).collect()
    }
    got_rows = cosine_topk_ivfpq(
        emb, q, k=5, n_centroids=16, n_probe=10, m=16, n_codes=16,
        n_candidates=80, sample_size=256, train_scope="full",
    ).collect()
    release_caches()
    got = {(r.query_id, r.neighbor_id) for r in got_rows}
    assert len(got_rows) == 50
    assert len(bf & got) / len(bf) >= 0.7


def test_doc_quality_classifier_python_replay(spark, sf_dir):
    """Pure-Python replay of the hashed-NB quality classifier
    (VERDICT r14 #4): recompute the seed split, labels, bucket
    counts, ppm likelihood ratios, and per-doc scores with hashlib +
    dict arithmetic and require bit-identical agreement with the
    catalog entry — training is counting and scoring is integer
    floor division, so there is no tolerance, only equality."""
    import hashlib
    import re as _re

    from data_engineering_bootcamp_spark.plans.catalog_rank import (
        NBQ_BUCKETS,
        NBQ_LABEL_CHARS,
        NBQ_PPM,
        NBQ_SPLIT_HEX,
        q_doc_quality_classifier,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()

    def buckets(text):
        toks = [
            t
            for t in _re.sub(r"\s+", " ", text.lower()).strip().split(" ")
            if t
        ]
        return [
            int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % NBQ_BUCKETS
            for t in toks
        ]

    n_ph = [0] * NBQ_BUCKETS
    n_nh = [0] * NBQ_BUCKETS
    for r in docs:
        key = hashlib.md5(f"nbq_{r.doc_id}".encode()).hexdigest()[:8]
        if key >= NBQ_SPLIT_HEX:
            continue
        tgt = n_ph if r.n_chars >= NBQ_LABEL_CHARS else n_nh
        for h in buckets(r.text):
            tgt[h] += 1
    n_p, n_n = sum(n_ph), sum(n_nh)
    r_ppm = [
        ((n_ph[h] + 1) * (n_n + NBQ_BUCKETS) * NBQ_PPM)
        // ((n_nh[h] + 1) * (n_p + NBQ_BUCKETS))
        for h in range(NBQ_BUCKETS)
    ]
    want = {}
    for r in docs:
        hs = buckets(r.text)
        if not hs:
            continue
        s = sum(r_ppm[h] for h in hs)
        want[r.doc_id] = (
            len(hs), s, s // len(hs), int(s // len(hs) >= NBQ_PPM)
        )

    got = {
        r.doc_id: (r.n_tokens, r.sum_ratio_ppm, r.mean_ratio_ppm, r.pred_hi)
        for r in q_doc_quality_classifier(spark, sf_dir).collect()
    }
    assert got == want


def test_streaming_ivfpq_index_split_independence(spark, sf_dir):
    """Stream-equals-batch for the IVFPQ index maintainer (VERDICT
    r14 #5): the catalog entry runs the stream in 4 one-file
    micro-batches through the atomic-swap store; encoding the whole
    arrival set in ONE batch call against identically-trained frozen
    codebooks must yield the identical posting rows — encode is
    per-row deterministic given the codebooks, so the index is
    independent of how arrivals were micro-batched."""
    from pyspark.sql import functions as F

    from data_engineering_bootcamp_spark.operators.dedup import (
        release_caches,
    )
    from data_engineering_bootcamp_spark.operators.similarity import (
        _ann_src,
        _ivfpq_train,
        ivfpq_encode,
    )
    from data_engineering_bootcamp_spark.plans.catalog_rank import (
        SIX_CODES,
        SIX_M,
        SIX_NC,
        q_streaming_ivfpq_index,
    )

    streamed = {
        tuple(r)
        for r in q_streaming_ivfpq_index(spark, sf_dir).collect()
    }

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    base_src = _ann_src(
        emb.where(F.col("vec_id") % 4 != 0), "vec_id", "embedding"
    ).persist()
    Cn, rc, books = _ivfpq_train(
        base_src, SIX_NC, SIX_M, SIX_CODES, 1, "full"
    )
    one_shot = {
        (r.vid, r.bucket, *r.codes)
        for r in ivfpq_encode(
            emb.where(F.col("vec_id") % 4 == 0), Cn, rc, books
        ).collect()
    }
    release_caches()
    assert streamed == one_shot
    assert len(streamed) == emb.where(F.col("vec_id") % 4 == 0).count()


def test_classifier_pr_eval_python_replay(spark, sf_dir):
    """Held-out PR sweep replayed in pure Python: recompute the
    classifier scores on the TEST half (the complement of the seed
    split) and the confusion matrix + ppm ratios at every fixed
    threshold — exact equality."""
    import hashlib
    import re as _re

    from data_engineering_bootcamp_spark.plans.catalog_rank import (
        NBQ_BUCKETS,
        NBQ_EVAL_THRESHOLDS,
        NBQ_LABEL_CHARS,
        NBQ_PPM,
        NBQ_SPLIT_HEX,
        q_classifier_pr_eval,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()

    def buckets(text):
        toks = [
            t
            for t in _re.sub(r"\s+", " ", text.lower()).strip().split(" ")
            if t
        ]
        return [
            int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % NBQ_BUCKETS
            for t in toks
        ]

    n_ph = [0] * NBQ_BUCKETS
    n_nh = [0] * NBQ_BUCKETS
    split = {
        r.doc_id: hashlib.md5(f"nbq_{r.doc_id}".encode()).hexdigest()[:8]
        for r in docs
    }
    for r in docs:
        if split[r.doc_id] >= NBQ_SPLIT_HEX:
            continue
        tgt = n_ph if r.n_chars >= NBQ_LABEL_CHARS else n_nh
        for h in buckets(r.text):
            tgt[h] += 1
    n_p, n_n = sum(n_ph), sum(n_nh)
    r_ppm = [
        ((n_ph[h] + 1) * (n_n + NBQ_BUCKETS) * NBQ_PPM)
        // ((n_nh[h] + 1) * (n_p + NBQ_BUCKETS))
        for h in range(NBQ_BUCKETS)
    ]
    rows = []
    for r in docs:
        if split[r.doc_id] < NBQ_SPLIT_HEX:
            continue
        hs = buckets(r.text)
        if not hs:
            continue
        mean = sum(r_ppm[h] for h in hs) // len(hs)
        rows.append((mean, 1 if r.n_chars >= NBQ_LABEL_CHARS else 0))
    want = {}
    for t in NBQ_EVAL_THRESHOLDS:
        tp = sum(1 for m, y in rows if y == 1 and m >= t)
        fp = sum(1 for m, y in rows if y == 0 and m >= t)
        fn = sum(1 for m, y in rows if y == 1 and m < t)
        tn = sum(1 for m, y in rows if y == 0 and m < t)
        want[t] = (
            tp, fp, fn, tn,
            0 if tp + fp == 0 else tp * NBQ_PPM // (tp + fp),
            0 if tp + fn == 0 else tp * NBQ_PPM // (tp + fn),
            (tp + tn) * NBQ_PPM // (tp + fp + fn + tn),
        )
    got = {
        r.threshold_ppm: (
            r.tp, r.fp, r.fn, r.tn,
            r.precision_ppm, r.recall_ppm, r.accuracy_ppm,
        )
        for r in q_classifier_pr_eval(spark, sf_dir).collect()
    }
    assert got == want
    # the sweep must be monotone where it should be: recall
    # non-increasing as the threshold rises
    rs = [got[t][5] for t in NBQ_EVAL_THRESHOLDS]
    assert all(a >= b for a, b in zip(rs, rs[1:]))


def test_doc_lang_id_learned_python_replay(spark, sf_dir):
    """Pure-Python replay of the multi-class hashed-NB language
    classifier (VERDICT r15 #4): recompute the seed split, per-language
    bucket counts, micro-nat likelihoods/priors (math.log + the HALF_UP
    integer twin), and per-doc argmax with hashlib + dict arithmetic —
    bit-identical agreement required (the only floats are the ln calls,
    rounded into micro units on both sides from the same exact ratios,
    and the fixture sits nowhere near a .5-micro boundary)."""
    import hashlib
    import math
    import re as _re

    from data_engineering_bootcamp_spark.plans.catalog_rank import (
        NBL_BUCKETS,
        NBL_MICRO,
        NBL_SPLIT_HEX,
        q_doc_lang_id_learned,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()

    def round_half_up(x):
        return int(math.copysign(math.floor(abs(x) + 0.5), x))

    def buckets(text):
        toks = [
            t
            for t in _re.sub(r"\s+", " ", text.lower()).strip().split(" ")
            if t
        ]
        return [
            int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % NBL_BUCKETS
            for t in toks
        ]

    counts: dict = {}
    n_docs_l: dict = {}
    for r in docs:
        key = hashlib.md5(f"nbl_{r.doc_id}".encode()).hexdigest()[:8]
        if key >= NBL_SPLIT_HEX:
            continue
        n_docs_l[r.lang] = n_docs_l.get(r.lang, 0) + 1
        tab = counts.setdefault(r.lang, [0] * NBL_BUCKETS)
        for h in buckets(r.text):
            tab[h] += 1
    langs = sorted(counts)
    total = sum(n_docs_l.values())
    llh = {
        lang: [
            round_half_up(
                NBL_MICRO
                * math.log((counts[lang][h] + 1) / (n_l + NBL_BUCKETS))
            )
            for h in range(NBL_BUCKETS)
        ]
        for lang in langs
        for n_l in [sum(counts[lang])]
    }
    pri = {
        lang: round_half_up(NBL_MICRO * math.log(n_docs_l[lang] / total))
        for lang in langs
    }
    want = {}
    for r in docs:
        hs = buckets(r.text)
        if not hs:
            continue
        scores = {
            lang: pri[lang] + sum(llh[lang][h] for h in hs)
            for lang in langs
        }
        # argmax, ties to the LOWEST lang (ascending scan keeps first)
        best = max(langs, key=lambda l: (scores[l], [-ord(c) for c in l]))
        want[r.doc_id] = (len(hs), best, scores[best])

    got = {
        r.doc_id: (r.n_tokens, r.pred_lang, r.score_micro)
        for r in q_doc_lang_id_learned(spark, sf_dir).collect()
    }
    assert got == want


def test_bpe_batched_k1_equals_single(spark, sf_dir):
    """VERDICT r15 #8: with k = 1 the batched trainer degenerates to
    the single-pair trainer exactly — same rules, same counts, same
    step numbering — on the real corpus word table."""
    from pyspark.sql import functions as F

    from data_engineering_bootcamp_spark.operators.bpe import (
        bpe_train_merges,
        bpe_train_merges_batched,
    )
    from data_engineering_bootcamp_spark.plans.catalog_rank import _tokens

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    wf = (
        _tokens(docs)
        .groupBy(F.col("term").alias("token"))
        .agg(F.count(F.lit(1)).alias("freq"))
        .where((F.length("token") >= 2) & F.col("token").rlike("^[a-z]+$"))
    )
    single = [
        tuple(r)
        for r in bpe_train_merges(wf, 4, checkpoint_every=0)
        .orderBy("step").collect()
    ]
    batched = [
        tuple(r)
        for r in bpe_train_merges_batched(wf, rounds=4, k=1,
                                          checkpoint_every=0)
        .orderBy("step").collect()
    ]
    assert batched == single


def test_bpe_batched_rank_order_semantics(spark):
    """Pin the batching trade on a word where it is OBSERVABLE: for
    'abc', round 1 counts (a,b) and (b,c) once each BEFORE any merge,
    so both become rules (rank order: lhs ASC breaks the tie), but
    applying rank 1 consumes the 'b' and rank 2 matches nothing; the
    single-pair trainer instead recounts and learns (ab,c). Round 2
    of the batched trainer then learns (ab,c) as rank 1 with rank 2
    exhausted — the missing-rank LEFT JOIN must leave words intact,
    not empty the table."""
    from data_engineering_bootcamp_spark.operators.bpe import (
        bpe_train_merges,
        bpe_train_merges_batched,
    )

    wf = spark.createDataFrame([("abc", 1)], "token string, freq long")
    got = [
        tuple(r)
        for r in bpe_train_merges_batched(wf, rounds=2, k=2)
        .orderBy("step").collect()
    ]
    assert got == [
        (1, "a", "b", "ab", 1),
        (2, "b", "c", "bc", 1),
        (3, "ab", "c", "abc", 1),
    ]
    single = [
        tuple(r)
        for r in bpe_train_merges(wf, 2).orderBy("step").collect()
    ]
    assert single == [
        (1, "a", "b", "ab", 1),
        (2, "ab", "c", "abc", 1),
    ]
