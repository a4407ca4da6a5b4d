"""Unit tests for the round-5 operators: weighted_mix quota edges,
int8 quantization invariants, and chunk-level dedup + rebuild."""

import pyspark.sql.functions as F
import pytest

from data_engineering_bootcamp_spark.operators.chunking import (
    dedup_chunks_rebuild,
)
from data_engineering_bootcamp_spark.operators.quantize import (
    quantization_error,
    quantize_int8,
)
from data_engineering_bootcamp_spark.operators.sampling import weighted_mix


def test_weighted_mix_quota_is_integer_ceiling(spark):
    # 7 rows at 30% -> ceil(2.1) = 3 kept; 100% keeps all; tiny rates
    # keep at least one row (ceil never rounds a positive quota to 0).
    df = spark.createDataFrame(
        [(i, "g") for i in range(7)], ["k", "g"]
    )
    assert weighted_mix(df, ["g"], "k", F.lit(30)).count() == 3
    assert weighted_mix(df, ["g"], "k", F.lit(100)).count() == 7
    assert weighted_mix(df, ["g"], "k", F.lit(1)).count() == 1


def test_weighted_mix_is_deterministic_and_nested(spark):
    # membership depends only on (group, key): re-runs agree, and a
    # lower rate selects a subset of a higher rate's selection.
    df = spark.createDataFrame(
        [(i, f"g{i % 3}") for i in range(60)], ["k", "g"]
    )
    lo = {
        (r.g, r.k)
        for r in weighted_mix(df, ["g"], "k", F.lit(25)).collect()
    }
    hi = {
        (r.g, r.k)
        for r in weighted_mix(df, ["g"], "k", F.lit(75)).collect()
    }
    assert lo < hi
    again = {
        (r.g, r.k)
        for r in weighted_mix(df, ["g"], "k", F.lit(25)).collect()
    }
    assert lo == again


def test_quantize_int8_bounds_and_zero_vector(spark):
    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 0.0])],
        ["vec_id", "embedding"],
    )
    rows = {
        r.vec_id: r
        for r in quantize_int8(df, "embedding").collect()
    }
    # max-abs element maps to exactly +/-127; everything within int8
    assert min(rows[1].q8) == -127
    assert all(-127 <= q <= 127 for q in rows[1].q8)
    # zero vector: scale 1.0, all-zero codes (no inf/NaN)
    assert rows[2].q_scale == 1.0
    assert rows[2].q8 == [0, 0, 0]


def test_quantization_error_small_for_smooth_vectors(spark):
    df = spark.createDataFrame(
        [(1, 0, [float(i) / 64.0 for i in range(-32, 32)])],
        ["vec_id", "label", "embedding"],
    )
    r = quantization_error(df, ["vec_id", "label"], "embedding").head()
    assert r.dim == 64
    # int8 symmetric: per-element error <= 0.5/scale = max_abs/254
    # (reported values are rounded to 6 dp, hence the 5e-7 slack)
    assert r.max_abs_err <= 0.5 / r.q_scale + 5e-7
    assert r.sse < 64 * (0.5 / r.q_scale) ** 2 + 5e-7


def test_chunk_dedup_rebuild_drops_repeated_chunks(spark):
    a = " ".join(f"w{i}" for i in range(32))       # chunk A
    b = " ".join(f"x{i}" for i in range(32))       # chunk B
    doc1 = a + " " + b                              # chunks: A, B
    doc2 = a + " " + " ".join(f"y{i}" for i in range(5))  # A, short tail
    docs = spark.createDataFrame(
        [(1, doc1), (2, doc2)], ["doc_id", "text"]
    )
    rows = {
        r.doc_id: r
        for r in dedup_chunks_rebuild(docs, chunk_tokens=32).collect()
    }
    # doc1 owns both chunks (first occurrence); doc2 loses chunk A
    assert rows[1].n_chunks == 2 and rows[1].n_kept == 2
    assert rows[1].kept_tokens == 64
    assert rows[2].n_chunks == 2 and rows[2].n_kept == 1
    assert rows[2].kept_tokens == 5


def test_chunk_dedup_rebuild_total_loss_yields_empty_md5(spark):
    import hashlib

    t = " ".join(f"z{i}" for i in range(32))
    docs = spark.createDataFrame(
        [(1, t), (2, t)], ["doc_id", "text"]
    )
    rows = {
        r.doc_id: r
        for r in dedup_chunks_rebuild(docs, chunk_tokens=32).collect()
    }
    assert rows[2].n_kept == 0 and rows[2].kept_tokens == 0
    assert rows[2].rebuilt_md5 == hashlib.md5(b"").hexdigest()
    assert rows[1].n_kept == 1


def test_q8_rerank_matches_bruteforce_on_separated_clusters(spark):
    # two well-separated directions: quantization noise must not change
    # top-k membership, so q8+rerank == exact brute force
    import math

    from data_engineering_bootcamp_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_q8_rerank,
    )

    rows = []
    for i in range(40):
        ang = 0.02 * (i % 20) + (0.0 if i < 20 else math.pi / 2)
        rows.append(
            (i, [math.cos(ang), math.sin(ang), 0.1 * (i % 3), 0.05])
        )
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qs = emb.where(F.col("vec_id") < 3)
    exact = {
        (r.query_id, r.rank): r.neighbor_id
        for r in cosine_topk_bruteforce(emb, qs, k=3).collect()
    }
    q8 = {
        (r.query_id, r.rank): r.neighbor_id
        for r in cosine_topk_q8_rerank(
            emb, qs, k=3, n_candidates=10
        ).collect()
    }
    assert q8 == exact


def test_q8_rerank_backends_identical(spark, sf_dir):
    # the vectorized (numpy matmul + map-side prune) and pure-Catalyst
    # scorers must return IDENTICAL rows: integer dots are exact, so
    # the scoring backend is result-invisible by construction
    from data_engineering_bootcamp_spark.operators.similarity import (
        cosine_topk_q8_rerank,
    )
    from data_engineering_bootcamp_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 5)
    a = sorted(
        map(
            tuple,
            cosine_topk_q8_rerank(
                emb, qs, k=5, n_candidates=20, dim=64, vectorized=True
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            cosine_topk_q8_rerank(
                emb, qs, k=5, n_candidates=20, dim=64, vectorized=False
            ).collect(),
        )
    )
    assert a == b


def test_upsert_batch_writer_is_batch_split_independent(spark, tmp_path):
    # merging in two micro-batches must equal one-shot: max over the
    # order tuple is associative, so batching cannot change the store
    import os
    from datetime import datetime, timedelta

    from data_engineering_bootcamp_spark.streaming.sinks import (
        upsert_batch_writer,
    )

    rows = [
        (1, 10, "a"), (1, 30, "c"), (1, 20, "b"),
        (2, 5, "x"), (2, 6, "y"),
    ]
    df = spark.createDataFrame(rows, ["k", "seq", "val"])

    def run(df, order, batches, restart=False):
        # restart=True builds a NEW writer over the existing store for
        # every batch, as a restarted query does
        d = tmp_path / f"store_{len(os.listdir(tmp_path))}"
        os.makedirs(d)
        w = None
        for i, b in enumerate(batches):
            if w is None or restart:
                w = upsert_batch_writer(str(d), ["k"], order)
            w(b, i)
        # the store is read back with the batch rows' own schema, so
        # merge must keep their column names and types (simpleString
        # ignores nullability)
        assert w.merge(df).schema.simpleString() == df.schema.simpleString()
        out = spark.read.parquet(str(d / "live"))
        return {tuple(r) for r in out.select(*df.columns).collect()}

    one_shot = run(df, ["seq"], [df])
    split = run(
        df,
        ["seq"],
        [df.where(F.col("seq") <= 10), df.where(F.col("seq") > 10)],
    )
    assert one_shot == split == {(1, 30, "c"), (2, 6, "y")}

    # restart over an existing store, with a timestamp order column and
    # null payload values (one winning, one losing)
    t0 = datetime(2024, 3, 10, 1, 30)
    rows = [
        (1, t0, 10, "a"), (1, t0 + timedelta(hours=2), 20, None),
        (1, t0 + timedelta(hours=1), 30, "c"),
        (2, t0, 5, None), (2, t0, 6, "y"),
    ]
    tdf = spark.createDataFrame(
        rows, "k long, ts timestamp, seq long, val string"
    )
    one_shot = run(tdf, ["ts", "seq"], [tdf])
    restarted = run(
        tdf,
        ["ts", "seq"],
        [tdf.where("seq IN (10, 6)"), tdf.where("seq NOT IN (10, 6)")],
        restart=True,
    )
    assert one_shot == restarted
    assert {(k, seq, val) for k, _, seq, val in restarted} == {
        (1, 20, None), (2, 6, "y")
    }


def test_dup_spans_islands_and_within_doc_exclusion(spark):
    # two docs share a 6-token run -> one maximal span each; a window
    # repeated only WITHIN one doc is not flagged; two disjoint shared
    # runs in one doc stay two separate spans
    from data_engineering_bootcamp_spark.operators.dedup import dup_spans

    docs = spark.createDataFrame(
        [
            (1, "w1 w2 C1 C2 C3 C4 C5 C6 x1 x2"),
            (2, "C1 C2 C3 C4 C5 C6 y1 y2 y3"),
            (3, "r1 r2 r3 r4 z1 r1 r2 r3 r4 z2"),
            (4, "E1 E2 E3 E4 g1 g2 g3 F1 F2 F3 F4"),
            (5, "F1 F2 F3 F4 h1 h2 h3 E1 E2 E3 E4"),
        ],
        ["doc_id", "text"],
    )
    expected = {
        (1, 3, 6),
        (2, 1, 6),
        (4, 1, 4),
        (4, 8, 4),
        (5, 1, 4),
        (5, 8, 4),
    }
    for detect in ("window", "joinback"):
        got = {
            tuple(r)
            for r in dup_spans(docs, k=4, detect=detect)
            .select("doc_id", "span_start", "span_tokens")
            .collect()
        }
        assert got == expected, detect


def test_dup_span_removal_canonical_holder(spark):
    # the minimum doc id holding an island's first window keeps the
    # span; every other holder has it cut and the md5 witnesses the
    # rebuilt token stream (tokens are lowercased by normalization)
    import hashlib

    from data_engineering_bootcamp_spark.operators.dedup import (
        dup_span_removal,
    )

    docs = spark.createDataFrame(
        [
            (1, "w1 w2 C1 C2 C3 C4 C5 C6 x1 x2"),
            (2, "C1 C2 C3 C4 C5 C6 y1 y2 y3"),
            (3, "r1 r2 r3 r4 z1 r1 r2 r3 r4 z2"),
            (4, "E1 E2 E3 E4 g1 g2 g3 F1 F2 F3 F4"),
            (5, "F1 F2 F3 F4 h1 h2 h3 E1 E2 E3 E4"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.clean_md5)
        for r in dup_span_removal(docs, k=4).collect()
    }

    def h(s):
        return hashlib.md5(s.encode()).hexdigest()

    assert got == {
        1: (10, 0, h("w1 w2 c1 c2 c3 c4 c5 c6 x1 x2")),
        2: (9, 6, h("y1 y2 y3")),
        3: (10, 0, h("r1 r2 r3 r4 z1 r1 r2 r3 r4 z2")),
        4: (11, 0, h("e1 e2 e3 e4 g1 g2 g3 f1 f2 f3 f4")),
        5: (11, 8, h("h1 h2 h3")),
    }


def test_dup_span_removal_holder_survives_island_absorption(spark):
    # ADVICE r5 regression: under the old per-island-first-window rule
    # the span "x y z" (held by doc 2) was deleted from EVERY document
    # because doc 2's island starts with "a b x" held by doc 1. The
    # per-window + keep-wins contract must keep "x y z" intact in doc 2.
    import hashlib

    from data_engineering_bootcamp_spark.operators.dedup import (
        dup_span_removal,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b x q1 q2"),   # holds "a b x"
            (2, "a b x y z"),     # one island pos 1..3; holds "x y z","b x y"
            (3, "b x y t1 t2"),   # makes "b x y" cross-doc (holder: doc 2)
            (4, "p1 x y z p2"),   # second holder of "x y z" (cut here)
        ],
        ["doc_id", "text"],
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.clean_md5)
        for r in dup_span_removal(docs, k=3).collect()
    }

    def h(s):
        return hashlib.md5(s.encode()).hexdigest()

    assert got == {
        1: (5, 0, h("a b x q1 q2")),   # min-holder of "a b x": untouched
        2: (5, 1, h("b x y z")),       # "a" cut; protected span survives
        3: (5, 3, h("t1 t2")),         # "b x y" held by doc 2 -> cut here
        4: (5, 3, h("p1 p2")),         # "x y z" held by doc 2 -> cut here
    }


def test_dup_spans_and_removal_match_python_reference(spark):
    # seeded random corpora over a 4-token alphabet (dense window
    # collisions: adjacent islands, k-boundary docs, within-doc
    # repeats) checked against an independent pure-Python replay of
    # the contract
    import hashlib
    import random

    from data_engineering_bootcamp_spark.operators.dedup import (
        dup_span_removal,
        dup_spans,
    )

    k = 3
    for seed in (7, 41, 1337):
        rng = random.Random(seed)
        docs = [
            (i, " ".join(rng.choice("abcd") for _ in range(rng.randint(0, 12))))
            for i in range(30)
        ]

        toks = {i: t.split() if t else [] for i, t in docs}
        wins = {}  # window string -> list[(doc, pos)]  (pos 1-based)
        for i, tk in toks.items():
            for p in range(len(tk) - k + 1):
                wins.setdefault(" ".join(tk[p : p + k]), []).append((i, p + 1))
        dup = {
            w: occ
            for w, occ in wins.items()
            if len({d for d, _ in occ}) >= 2
        }
        hitpos = {}  # doc -> set of dup-window positions (for spans)
        rem_pos = {}  # doc -> removed window positions (not min-holder)
        keep_pos = {}  # doc -> protected window positions (min-holder)
        for w, occ in dup.items():
            mn = min(d for d, _ in occ)
            for d, p in occ:
                hitpos.setdefault(d, set()).add(p)
                (keep_pos if d == mn else rem_pos).setdefault(d, set()).add(p)
        exp_spans = set()
        for d, ps in hitpos.items():
            ps = sorted(ps)
            run = [ps[0]]
            for p in ps[1:]:
                if p == run[-1] + 1:
                    run.append(p)
                else:
                    exp_spans.add((d, run[0], run[-1] - run[0] + k))
                    run = [p]
            exp_spans.add((d, run[0], run[-1] - run[0] + k))

        # removal contract (r6): token cut iff covered by a removed
        # window's [p, p+k-1] AND not covered by any protected window
        def covered(j, ps):
            return any(p <= j <= p + k - 1 for p in ps)

        exp_rows = {}
        kept_by_doc = {}
        for d, tk in toks.items():
            rem = rem_pos.get(d, set())
            kee = keep_pos.get(d, set())
            kept = [
                t
                for j, t in enumerate(tk, start=1)
                if not covered(j, rem) or covered(j, kee)
            ]
            kept_by_doc[d] = kept
            exp_rows[d] = (
                len(tk),
                len(tk) - len(kept),
                hashlib.md5(" ".join(kept).encode()).hexdigest(),
            )

        # the r6 SURVIVAL GUARANTEE, asserted directly: every
        # cross-document duplicated window appears verbatim
        # (contiguously) in its min-id holder's cleaned output
        def contains_run(hay, needle):
            n = len(needle)
            return any(
                hay[i : i + n] == needle for i in range(len(hay) - n + 1)
            )

        for w, occ in dup.items():
            mn = min(d for d, _ in occ)
            assert contains_run(kept_by_doc[mn], w.split()), (
                seed, w, mn, kept_by_doc[mn],
            )

        sdf = spark.createDataFrame(docs, ["doc_id", "text"])
        got_spans = {
            tuple(r) for r in dup_spans(sdf, k=k).collect()
        }
        assert got_spans == exp_spans, f"seed {seed}"
        got_rows = {
            r.doc_id: (r.n_tokens, r.n_removed, r.clean_md5)
            for r in dup_span_removal(sdf, k=k).collect()
        }
        assert got_rows == exp_rows, f"seed {seed}"


def test_similarity_driver_bound_guards_raise(spark):
    # VERDICT r5 #2: every bounded-by-contract driver collect must
    # RAISE past its cap instead of OOMing the driver at scale
    import math

    import pytest

    from data_engineering_bootcamp_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_q8_rerank,
        neardup_embedding_cosine,
    )

    rows = [
        (i, [math.cos(0.1 * i), math.sin(0.1 * i), 0.2, 0.1])
        for i in range(8)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])

    with pytest.raises(ValueError, match="driver-side bound"):
        cosine_topk_bruteforce(emb, emb, k=2, max_queries=3).collect()
    with pytest.raises(ValueError, match="driver-side bound"):
        cosine_topk_q8_rerank(emb, emb, k=2, max_queries=3).collect()
    with pytest.raises(ValueError, match="driver-side bound"):
        neardup_embedding_cosine(emb, 0.9, max_vectors=3).collect()


def test_q8_rerank_empty_queries_short_circuits(spark):
    # ADVICE r5: an empty queries side must yield an empty result with
    # the contract schema, not a numpy concatenate ValueError
    import math

    from data_engineering_bootcamp_spark.operators.similarity import (
        cosine_topk_q8_rerank,
    )

    rows = [
        (i, [math.cos(0.1 * i), math.sin(0.1 * i), 0.2, 0.1])
        for i in range(6)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = cosine_topk_q8_rerank(emb, emb.where("vec_id < 0"), k=2)
    assert out.columns == ["query_id", "neighbor_id", "cosine", "rank"]
    assert out.count() == 0


def test_q8_rerank_vectorized_rejects_non_integral_ids(spark):
    # ADVICE r5: the vectorized scorer hardcodes int64 ids — fail fast
    # on string ids instead of silently mangling them
    import pytest

    emb = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])], ["vec_id", "embedding"]
    )
    from data_engineering_bootcamp_spark.operators.similarity import (
        cosine_topk_q8_rerank,
    )

    with pytest.raises(TypeError, match="integral"):
        cosine_topk_q8_rerank(emb, emb, k=1, vectorized=True)


def test_upsert_batch_writer_stale_tmp_and_version_retention(
    spark, tmp_path
):
    # ADVICE r5: (a) a stale .live_tmp_<id> from a crashed attempt must
    # not fail the batch retry; (b) the immediately-previous version
    # stays on disk for concurrent readers, older versions are reaped
    import os

    from data_engineering_bootcamp_spark.streaming.sinks import (
        upsert_batch_writer,
    )

    d = tmp_path / "store"
    os.makedirs(d)
    w = upsert_batch_writer(str(d), ["k"], ["seq"])
    df = spark.createDataFrame([(1, 10, "a")], ["k", "seq", "val"])

    # simulate a crashed batch-0 attempt that left its tmp link behind
    os.symlink("/nonexistent-target", str(d / ".live_tmp_0"))
    w(df, 0)  # retry must succeed, not FileExistsError
    assert {tuple(r) for r in spark.read.parquet(str(d / "live")).collect()}

    w(spark.createDataFrame([(1, 20, "b")], ["k", "seq", "val"]), 1)
    versions = sorted(p for p in os.listdir(d) if p.startswith("v_"))
    # previous version retained (staging names carry an attempt suffix)
    assert len(versions) == 2
    assert {v.split("_")[1] for v in versions} == {"0", "1"}

    w(spark.createDataFrame([(2, 5, "x")], ["k", "seq", "val"]), 2)
    versions = sorted(p for p in os.listdir(d) if p.startswith("v_"))
    # batch-0 version now unreachable -> reaped
    assert len(versions) == 2
    assert {v.split("_")[1] for v in versions} == {"1", "2"}
    got = {
        tuple(r)
        for r in spark.read.parquet(str(d / "live"))
        .select("k", "seq", "val")
        .collect()
    }
    assert got == {(1, 20, "b"), (2, 5, "x")}


def test_weighted_mix_quota_is_true_integer_division(spark):
    # the quota contract is (n * pct + 99) DIV 100 in INTEGER math;
    # spot-check quotas around rounding boundaries
    from pyspark.sql import functions as SF

    from data_engineering_bootcamp_spark.operators.sampling import (
        weighted_mix,
    )

    rows = []
    for g, n, pct in (("a", 7, 50), ("b", 10, 33), ("c", 3, 1)):
        rows += [(g, f"{g}{i}", pct) for i in range(n)]
    df = spark.createDataFrame(rows, ["grp", "key", "pct"])
    out = (
        weighted_mix(df, ["grp"], "key", SF.col("pct"))
        .groupBy("grp")
        .count()
        .collect()
    )
    got = {r.grp: r["count"] for r in out}
    # ceil(7*50/100)=4, ceil(10*33/100)=4, ceil(3*1/100)=1
    assert got == {"a": 4, "b": 4, "c": 1}


def test_png_resize_roundtrip_pixel_exact():
    # pure-kernel check, no Spark: a 4x4 image with a distinct color
    # per pixel; NN downsample by 2 must select exactly pixels
    # (0,0),(0,2),(2,0),(2,2), and the re-encoded PNG must decode back
    # to those bytes
    from data_engineering_bootcamp_spark.operators.multimodal import (
        _decode_png_pixels,
        encode_png_rgb,
        png_resize_roundtrip,
    )

    px = bytearray()
    for y in range(4):
        for x in range(4):
            px.extend((y * 40 + x * 10, 100 + y, 200 + x))
    png = encode_png_rgb(4, 4, px)

    in_w, in_h, out_w, out_h, n_bytes, mr, mg, mb = png_resize_roundtrip(
        png, factor=2
    )
    assert (in_w, in_h, out_w, out_h) == (4, 4, 2, 2)
    # selected pixels: (y,x) in {0,2} x {0,2}
    sel = [(0, 0), (0, 2), (2, 0), (2, 2)]
    exp = []
    for y, x in sel:
        exp.extend((y * 40 + x * 10, 100 + y, 200 + x))
    assert mr == round(sum(exp[0::3]) / 4 / 255.0, 6)
    assert mg == round(sum(exp[1::3]) / 4 / 255.0, 6)
    assert mb == round(sum(exp[2::3]) / 4 / 255.0, 6)

    # and the resized PNG itself (re-encode) decodes to the selected
    # pixel bytes exactly — checked via a manual re-encode of exp
    w2, h2, ch2, px2 = _decode_png_pixels(encode_png_rgb(2, 2, bytes(exp)))
    assert (w2, h2, ch2) == (2, 2, 3) and bytes(px2) == bytes(exp)


def test_synth_png_bands_decodes_to_bands():
    from data_engineering_bootcamp_spark.operators.multimodal import (
        _decode_png_pixels,
        synth_png_bands,
    )

    png = synth_png_bands(3, 4, (10, 20, 30), (40, 50, 60), 1)
    w, h, ch, px = _decode_png_pixels(png)
    assert (w, h, ch) == (3, 4, 3)
    assert bytes(px[: 3 * 3]) == bytes((10, 20, 30)) * 3
    assert bytes(px[3 * 3 :]) == bytes((40, 50, 60)) * 9


def test_rolling_time_revenue_range_frame_respects_gaps(spark, tmp_path):
    # RANGE (time-interval) frames must shrink across date gaps where a
    # ROWS frame would not: with days 1,2,10 the day-10 frame contains
    # only day 10
    import os

    from data_engineering_bootcamp_spark.plans.catalog_mix import (
        q_rolling_time_revenue,
    )

    rows = [
        (1, "1-URGENT", "1996-01-01", 10.0),
        (2, "1-URGENT", "1996-01-02", 20.0),
        (3, "1-URGENT", "1996-01-10", 40.0),
    ]
    df = spark.createDataFrame(
        rows, ["o_orderkey", "o_orderpriority", "o_orderdate", "o_totalprice"]
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("date"))
    d = tmp_path / "sf"
    os.makedirs(d)
    df.write.parquet(str(d / "orders.parquet"))
    got = {
        r.d: r.rolling_7d_cents
        for r in q_rolling_time_revenue(spark, str(d)).collect()
    }
    assert got == {
        "1996-01-01": 1000,
        "1996-01-02": 3000,   # day 1 in range
        "1996-01-10": 4000,   # days 1-2 beyond the 6-day horizon
    }


def test_doc_bigram_lm_score_matches_python_replay(spark):
    # integer parts-per-million bigram scoring replayed in pure Python
    from collections import Counter

    from data_engineering_bootcamp_spark.plans.catalog_mix import (
        q_doc_bigram_lm_score,
    )

    texts = {
        1: "the cat sat on the mat",
        2: "the cat ran",
        3: "a dog sat",
        4: "single",          # < 2 tokens -> excluded
    }
    import os
    import tempfile

    d = tempfile.mkdtemp()
    spark.createDataFrame(
        list(texts.items()), ["doc_id", "text"]
    ).write.parquet(os.path.join(d, "documents.parquet"))

    toks = {i: t.split() for i, t in texts.items()}
    bis = {
        i: list(zip(tk, tk[1:])) for i, tk in toks.items() if len(tk) >= 2
    }
    c2 = Counter(b for bb in bis.values() for b in bb)
    c1 = Counter(b[0] for bb in bis.values() for b in bb)
    exp = {}
    for i, bb in bis.items():
        ppms = [(c2[b] * 1_000_000) // c1[b[0]] for b in bb]
        exp[i] = (len(ppms), sum(ppms), sum(ppms) // len(ppms))

    got = {
        r.doc_id: (r.n_bigrams, r.sum_ppm, r.mean_ppm)
        for r in q_doc_bigram_lm_score(spark, d).collect()
    }
    import shutil

    shutil.rmtree(d, ignore_errors=True)
    assert got == exp


def test_semantic_dedup_keep_rule(spark):
    # three tight near-dup groups well-separated in angle; the keep
    # rule must retain exactly the minimum id of each group and
    # n_close_lower must count lower-id cluster-mates above threshold
    import math

    from data_engineering_bootcamp_spark.operators.similarity import (
        semantic_dedup,
    )

    rows = []
    for g, base in enumerate((0.0, 1.0, 2.0)):
        for j in range(4):
            ang = base + 0.001 * j  # within-group cosine ~1
            rows.append(
                (g * 10 + j, [math.cos(ang), math.sin(ang), 0.0, 0.0])
            )
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    res = semantic_dedup(
        emb, threshold=0.95, n_centroids=3, lloyd_iters=1
    ).collect()
    assert len(res) == 12
    vecs = {i: v for i, v in rows}

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        den = math.sqrt(sum(x * x for x in a)) * math.sqrt(
            sum(x * x for x in b)
        )
        s = num / den
        return math.copysign(math.floor(abs(s) * 1e6 + 0.5), s) / 1e6

    buckets = {r.vec_id: r.bucket for r in res}
    for r in res:
        lower_close = [
            j
            for j in vecs
            if j < r.vec_id
            and buckets[j] == r.bucket
            and cos(vecs[j], vecs[r.vec_id]) >= 0.95
        ]
        # the exact contract: count and verdict derive only from
        # lower-id cluster-mates above threshold
        assert r.n_close_lower == len(lower_close), r
        assert r.keep == (not lower_close), r
    # the minimum id of every bucket always survives
    for b in set(buckets.values()):
        members = [i for i, bb in buckets.items() if bb == b]
        assert next(r.keep for r in res if r.vec_id == min(members))


def test_snapshot_diff_classification_and_null_safety(spark):
    from data_engineering_bootcamp_spark.operators.cdc import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", None), (3, "c", 30), (4, "d", 40)],
        "k int, t string, v int",
    )
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "b", None), (3, "c", 31), (5, "e", None)],
        "k int, t string, v int",
    )
    got = {
        r.k: r.change_type
        for r in snapshot_diff(old, new, ["k"], ["t", "v"]).collect()
    }
    # k=1 identical, k=2 null==null -> both unchanged (excluded);
    # k=3 value differs; k=4 gone; k=5 arrived with a null payload
    assert got == {3: "update", 4: "delete", 5: "insert"}

    withu = {
        r.k: r.change_type
        for r in snapshot_diff(
            old, new, ["k"], ["t", "v"], include_unchanged=True
        ).collect()
    }
    assert withu[1] == "unchanged" and withu[2] == "unchanged"

    # null -> value IS an update (null-safe compare, not SQL equality)
    new2 = spark.createDataFrame([(2, "b", 99)], "k int, t string, v int")
    got2 = {
        r.k: r.change_type
        for r in snapshot_diff(
            old.where("k = 2"), new2, ["k"], ["t", "v"]
        ).collect()
    }
    assert got2 == {2: "update"}


def test_similarity_empty_inputs_and_ivf_probe_clamp(spark):
    # review r6: empty query/vector sides short-circuit (no numpy axis
    # errors), and n_probe > n_centroids clamps to probe-everything
    # instead of crashing the batched probe stage
    import math

    from data_engineering_bootcamp_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_ivf,
        neardup_embedding_cosine,
    )

    rows = [
        (i, [math.cos(0.3 * i), math.sin(0.3 * i), 0.1, 0.2])
        for i in range(12)
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    none = emb.where("vec_id < 0")

    assert cosine_topk_bruteforce(emb, none, k=3).count() == 0
    assert neardup_embedding_cosine(none, 0.9).count() == 0

    got = cosine_topk_ivf(
        emb, emb.where("vec_id < 2"), k=3, n_centroids=4, n_probe=99
    )
    # probing every centroid == brute force: full recall by definition
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk_bruteforce(
            emb, emb.where("vec_id < 2"), k=3
        ).collect()
    }
    assert {(r.query_id, r.neighbor_id) for r in got.collect()} == exact


def test_hash_sample_fraction_one_keeps_everything(spark):
    # review r6: the 1.0 threshold used to render as a 9-char hex
    # string that lexicographically excluded ~15/16 of buckets
    from data_engineering_bootcamp_spark.operators.sampling import (
        hash_sample,
        train_test_split,
    )

    df = spark.createDataFrame([(i,) for i in range(500)], ["k"])
    assert hash_sample(df, "k", 1.0).count() == 500
    assert hash_sample(df, "k", 0.0).count() == 0
    train, test = train_test_split(df, "k", 1.0)
    assert test.count() == 500 and train.count() == 0


def test_simhash_rejects_unguaranteed_hamming(spark):
    import pytest

    from data_engineering_bootcamp_spark.operators.dedup import (
        dedup_simhash,
    )

    docs = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="pigeonhole"):
        dedup_simhash(docs, max_hamming=4)


def test_asof_join_rejects_lossy_ts_cast(spark):
    import pytest

    from data_engineering_bootcamp_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01")], ["k", "lts"]
    ).withColumn("lts", F.col("lts").cast("date"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 23:59:00", "x")], ["k", "rts", "payload"]
    ).withColumn("rts", F.col("rts").cast("timestamp"))
    # timestamp state -> date probe would truncate sub-day ordering
    with pytest.raises(TypeError, match="lossy"):
        asof_join(left, right, "k", "lts", "rts", ["payload"])
    # the lossless widening (date state -> timestamp probe) still works
    widened = asof_join(
        right.select("k", F.col("rts").alias("ts"), "payload"),
        left.select("k", F.col("lts").alias("state_d")).withColumn(
            "payload2", F.lit("y")
        ),
        "k",
        "ts",
        "state_d",
        ["payload2"],
    )
    assert widened.count() == 1


def test_ngram_jaccard_rejects_block_col_with_lossless_filters(spark):
    import pytest

    from data_engineering_bootcamp_spark.operators.dedup import (
        dedup_ngram_jaccard,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d", "s1")], ["doc_id", "text", "source"]
    )
    with pytest.raises(ValueError, match="corpus-wide"):
        dedup_ngram_jaccard(docs, prefix_filtered=True)  # default block_col
    with pytest.raises(ValueError, match="corpus-wide"):
        dedup_ngram_jaccard(docs, block_col="source", length_blocked=True)


def test_with_salt_spreads_identical_rows(spark):
    from data_engineering_bootcamp_spark.operators.skew import with_salt

    # 1000 byte-identical rows (the canonical hot key): the default
    # entropy must spread them over many salts, not collapse to one
    df = spark.createDataFrame([("hot", 1)] * 1000, ["k", "v"])
    n = (
        with_salt(df.repartition(8), 16)
        .select("_salt")
        .distinct()
        .count()
    )
    assert n >= 8


def test_edge_pair_forms_agree_on_duplicate_rows(spark):
    from data_engineering_bootcamp_spark.operators.graph import (
        build_edges_pairs,
        build_edges_pairs_grouped,
    )

    # u appears twice in g1: both forms must count ONE co-occurrence
    df = spark.createDataFrame(
        [("g1", "u"), ("g1", "u"), ("g1", "v"), ("g2", "u"), ("g2", "v")],
        ["g", "id"],
    )
    joined = {
        (r.subject_identifier, r.object_identifier, r.properties["n"])
        for r in build_edges_pairs(
            df, "g", "id", "co", {"n": F.count(F.lit(1))}
        ).collect()
    }
    grouped = {
        (r.id_a, r.id_b, str(r.n_groups))
        for r in build_edges_pairs_grouped(df, "g", "id").collect()
    }
    assert joined == grouped == {("u", "v", "2")}


def test_png_decoder_rejects_interlaced(spark):
    import struct
    import zlib

    import pytest

    from data_engineering_bootcamp_spark.operators.multimodal import (
        _decode_png_pixels,
        synth_png,
    )

    png = bytearray(synth_png(4, 4, (1, 2, 3)))
    # IHDR payload starts at 16 (8 sig + 4 len + 4 tag); interlace is
    # payload byte 12; CRC covers tag+payload
    png[16 + 12] = 1
    crc = zlib.crc32(bytes(png[12:16 + 13])) & 0xFFFFFFFF
    png[16 + 13:16 + 17] = struct.pack(">I", crc)
    with pytest.raises(ValueError, match="interlac"):
        _decode_png_pixels(bytes(png))


def test_pagerank_fixed_point_matches_numpy_replay(spark):
    from data_engineering_bootcamp_spark.operators.graph import pagerank

    # path graph 1-2-3-4: hand-replay the integer recurrence
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], ["id_a", "id_b"]
    )
    got = {
        r.vertex_id: r.rank_scaled
        for r in pagerank(edges, iterations=5).collect()
    }
    # python replay of the exact integer recurrence
    adj = {1: [2], 2: [1, 3], 3: [2, 4], 4: [3]}
    deg = {v: len(ns) for v, ns in adj.items()}
    r = {v: 1_000_000 for v in adj}
    for _ in range(5):
        contrib = {v: 0 for v in adj}
        for u, ns in adj.items():
            for v in ns:
                contrib[v] += r[u] // deg[u]
        r = {v: 150_000 + (85 * c) // 100 for v, c in contrib.items()}
    assert got == r
    # symmetry: the two middle and two end vertices tie exactly
    assert got[1] == got[4] and got[2] == got[3] and got[2] > got[1]


def test_pagerank_rejects_bad_damping(spark):
    from data_engineering_bootcamp_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(1, 2)], ["id_a", "id_b"])
    with pytest.raises(ValueError, match="damping_pct"):
        pagerank(edges, damping_pct=0)
    with pytest.raises(ValueError, match="damping_pct"):
        pagerank(edges, damping_pct=100)
    # ADVICE r11: iterations=0 returns the uniform seed without ever
    # materializing `deg`, so the canonical-contract guard would be
    # pruned away — rejected up front instead
    with pytest.raises(ValueError, match="iterations"):
        pagerank(edges, iterations=0)


def test_histogram_quantiles_known_bins(spark):
    from data_engineering_bootcamp_spark.operators.profile import (
        histogram_quantiles,
    )

    # values 0..99 with width 10 -> bins 0..9 of 10 each; p50 crosses
    # in bin 4 (cum 50 >= 50), p90 in bin 8 (cum 90), p99 in bin 9,
    # p100 in the last bin
    df = spark.createDataFrame([(float(i),) for i in range(100)], ["v"])
    got = {
        r.q_pct: (r.bin_id, r.quantile_lo, r.cum_count, r.n_rows)
        for r in histogram_quantiles(df, "v", 10.0, [50, 90, 99, 100]).collect()
    }
    assert got[50] == (4, 40.0, 50, 100)
    assert got[90] == (8, 80.0, 90, 100)
    assert got[99] == (9, 90.0, 100, 100)
    assert got[100] == (9, 90.0, 100, 100)
    with pytest.raises(ValueError, match="percents"):
        histogram_quantiles(df, "v", 10.0, [0])


def test_hard_negatives_masks_same_label(spark):
    from data_engineering_bootcamp_spark.operators.similarity import (
        hard_negatives,
    )

    # anchor 0 (label A): nearest overall is 1 (same label, masked);
    # top negatives must be the differently-labeled 2 then 3
    rows = [
        (0, [1.0, 0.0], 10),
        (1, [0.99, 0.14], 10),   # same label, nearer than any negative
        (2, [0.9, 0.43], 20),    # nearest negative
        (3, [0.0, 1.0], 20),     # far negative
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    anchors = emb.where(F.col("vec_id") == 0)
    got = [
        (r.neighbor_id, r.rank)
        for r in hard_negatives(emb, anchors, k=2)
        .orderBy("rank")
        .collect()
    ]
    assert got == [(2, 1), (3, 2)]
    # empty anchors short-circuit
    assert hard_negatives(emb, emb.where(F.lit(False)), k=2).count() == 0


def test_hard_negatives_jvm_kernel_matches_arrow(spark):
    from data_engineering_bootcamp_spark.operators.similarity import (
        hard_negatives,
    )

    # deterministic pseudo-random fixture: 40 vectors, dim 8, 3 labels
    rows = [
        (
            i,
            [float((i * 7 + j * 13 + (i * j) % 11) % 17) - 8.0
             for j in range(8)],
            i % 3,
        )
        for i in range(40)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    anchors = emb.where(F.col("vec_id") < 5)

    def key(df):
        return sorted(
            (r.query_id, r.neighbor_id, r.cosine, r.rank)
            for r in df.collect()
        )

    arrow = key(hard_negatives(emb, anchors, k=4))
    jvm = key(hard_negatives(emb, anchors, k=4, kernel="jvm"))
    assert arrow == jvm
    assert len(arrow) == 5 * 4
    # jvm path: empty anchors, null labels, and the query bound behave
    # the same as the arrow kernel
    assert (
        hard_negatives(emb, emb.where(F.lit(False)), k=2, kernel="jvm")
        .count() == 0
    )
    with pytest.raises(ValueError, match="bound"):
        hard_negatives(emb, anchors, k=2, kernel="jvm", max_queries=2)
    with pytest.raises(ValueError, match="kernel"):
        hard_negatives(emb, anchors, k=2, kernel="blas")


def test_bloom_prune_no_false_negatives_and_cap(spark):
    from data_engineering_bootcamp_spark.operators.sketch import (
        bloom_prune,
    )

    fact = spark.createDataFrame([(i, i * 10) for i in range(200)], ["k", "v"])
    dim = spark.createDataFrame([(i,) for i in range(0, 200, 7)], ["dk"])
    passed = {r.k for r in bloom_prune(fact, dim, "k", "dk").collect()}
    true_keys = set(range(0, 200, 7))
    # Bloom guarantee: every true match passes; residue only adds
    assert true_keys <= passed
    # a tiny (64-bit) bitmap saturates: fp rate -> 1, but never
    # a false negative; sub-word sizes are rejected
    tiny = {r.k for r in bloom_prune(fact, dim, "k", "dk", m_bits=64).collect()}
    assert true_keys <= tiny
    with pytest.raises(ValueError, match="m_bits"):
        bloom_prune(fact, dim, "k", "dk", m_bits=1 << 25)


def test_linear_count_tracks_cardinality(spark):
    from data_engineering_bootcamp_spark.operators.sketch import (
        linear_count,
        linear_count_estimate,
    )

    df = spark.createDataFrame(
        [(i % 100,) for i in range(1000)] + [(None,)], ["u"]
    )
    row = linear_count(df, "u", m_bits=4096).collect()[0]
    assert row.m_bits == 4096
    # occupied bounded by true cardinality (nulls excluded), sketch
    # nearly injective at 100/4096 fill
    assert 90 <= row.occupied <= 100
    assert row.fill_ppm == (row.occupied * 1_000_000) // 4096
    est = linear_count_estimate(row.occupied, 4096)
    assert abs(est - 100) / 100 < 0.10
    with pytest.raises(ValueError, match="saturated"):
        linear_count_estimate(4096, 4096)


def test_bloom_prune_rejects_sub_word_bitmap(spark):
    from data_engineering_bootcamp_spark.operators.sketch import bloom_prune

    fact = spark.createDataFrame([(1,)], ["k"])
    dim = spark.createDataFrame([(1,)], ["dk"])
    with pytest.raises(ValueError, match="multiple of 64"):
        bloom_prune(fact, dim, "k", "dk", m_bits=8)


def test_zorder_key_interleaves_bits(spark):
    from data_engineering_bootcamp_spark.operators.partitioning import (
        zorder_key,
    )

    # x=0b101 (5), y=0b011 (3) -> z bits x0,y0,x1,y1,x2,y2 = 1,1,0,1,1,0
    # = 0b011011 = 27
    df = spark.createDataFrame([(5, 3)], ["x", "y"])
    got = df.select(
        zorder_key(F.col("x"), F.col("y"), bits=3).alias("z")
    ).collect()[0].z
    assert got == 27
    # python replay over a grid: interleave must be a bijection on
    # [0,8)x[0,8) and monotone in the sense that equal prefixes of
    # (x,y) share z prefixes
    grid = spark.createDataFrame(
        [(x, y) for x in range(8) for y in range(8)], ["x", "y"]
    )
    zs = [
        r.z
        for r in grid.select(
            zorder_key(F.col("x"), F.col("y"), bits=3).alias("z")
        ).collect()
    ]
    assert sorted(zs) == list(range(64))
    with pytest.raises(ValueError, match="bits"):
        zorder_key(F.col("x"), F.col("y"), bits=0)


def test_countmin_overcounts_never_undercounts(spark):
    from data_engineering_bootcamp_spark.operators.sketch import (
        countmin_estimates,
        countmin_table,
    )

    # zipf-ish stream: token t_i appears i times
    rows = [(f"t{i}",) for i in range(1, 40) for _ in range(i)]
    df = spark.createDataFrame(rows, ["tok"])
    counters = countmin_table(df, "tok", depth=4, width=64)
    probes = spark.createDataFrame(
        [(f"t{i}",) for i in range(1, 40)] + [("absent",)], ["tok"]
    )
    est = {
        r.tok: r.cm_estimate
        for r in countmin_estimates(
            counters, probes, "tok", depth=4, width=64
        ).collect()
    }
    for i in range(1, 40):
        assert est[f"t{i}"] >= i  # never undercounts
    # a 4x64 table over 39 keys: collisions exist but min-of-4 keeps
    # estimates near truth; the absent key is bounded by collisions
    assert est["absent"] <= sum(range(1, 40))
    with pytest.raises(ValueError, match="depth"):
        countmin_table(df, "tok", depth=0, width=64)


def test_merge_agg_states_equals_full_recompute(spark):
    from data_engineering_bootcamp_spark.operators.cumulate import (
        merge_agg_states,
    )

    df = spark.createDataFrame(
        [("a", i) for i in range(10)] + [("b", i * 3) for i in range(7)],
        ["k", "v"],
    )

    def st(part):
        return part.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("v").alias("s"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )

    # split three ways on an arbitrary predicate; merged == direct
    parts = [st(df.where(F.col("v") % 3 == r)) for r in range(3)]
    merged = merge_agg_states(
        parts, ["k"], {"n": "sum", "s": "sum", "lo": "min", "hi": "max"}
    )
    direct = st(df)
    as_set = lambda d: {tuple(r) for r in d.collect()}  # noqa: E731
    assert as_set(merged) == as_set(direct)
    with pytest.raises(ValueError, match="non-monoid"):
        merge_agg_states(parts, ["k"], {"n": "avg"})
    with pytest.raises(ValueError, match="at least one"):
        merge_agg_states([], ["k"], {"n": "sum"})


def test_review2_null_and_direction_semantics(spark):
    # pagerank: feeding both directions of each edge must not change
    # ranks (degrees would silently double otherwise); self-loops drop
    from data_engineering_bootcamp_spark.operators.graph import pagerank

    canon = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    both = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (3, 3)], ["id_a", "id_b"]
    )
    r1 = {r.vertex_id: r.rank_scaled for r in pagerank(canon).collect()}
    r2 = {r.vertex_id: r.rank_scaled for r in pagerank(both).collect()}
    assert r1 == r2
    # the assume_canonical fast path (skips the canonicalize-distinct
    # shuffle) must be rank-identical on already-canonical input
    r3 = {
        r.vertex_id: r.rank_scaled
        for r in pagerank(canon, assume_canonical=True).collect()
    }
    assert r3 == r1
    # ... and the contract is ENFORCED (ADVICE r9; moved off the
    # edge-scan hot path into the degree aggregate, VERDICT r10 #1):
    # mirrored / self-loop input under the flag fails the job loudly
    # instead of silently corrupting every rank
    import pytest as _pytest

    with _pytest.raises(Exception, match="(?i)canonical"):
        pagerank(both, assume_canonical=True).collect()
    # NULL-sided edges are equally a contract violation and raise too
    # (ADVICE r10) — the flag rides both union directions, so the
    # non-NULL side's vertex group carries the poison
    nulled = spark.createDataFrame(
        [(1, 2), (None, 2), (2, 3)],
        "id_a int, id_b int",
    )
    with _pytest.raises(Exception, match="(?i)canonical"):
        pagerank(nulled, assume_canonical=True).collect()

    # histogram: NULLs excluded (SQL percentile semantics)
    from data_engineering_bootcamp_spark.operators.profile import (
        histogram_quantiles,
    )

    df = spark.createDataFrame(
        [(float(i),) for i in range(100)] + [(None,)] * 50, ["v"]
    )
    got = {r.q_pct: r.n_rows for r in
           histogram_quantiles(df, "v", 10.0, [50]).collect()}
    assert got[50] == 100  # nulls not counted

    # hard negatives: NULL-labeled vectors are not negatives (SQL <>)
    from data_engineering_bootcamp_spark.operators.similarity import (
        hard_negatives,
    )

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0], 10), (1, [0.9, 0.1], None), (2, [0.0, 1.0], 20)],
        "vec_id long, embedding array<double>, label int",
    )
    got = [
        r.neighbor_id
        for r in hard_negatives(
            emb, emb.where(F.col("vec_id") == 0), k=5
        ).collect()
    ]
    assert got == [2]  # the null-labeled near vector is excluded


def test_review3_zorder_int32_and_bloom_null_dim(spark):
    # zorder: IntegerType inputs must not wrap at shift 31
    from data_engineering_bootcamp_spark.operators.partitioning import (
        zorder_key,
    )

    df = spark.createDataFrame(
        [(32768, 32768)], "x int, y int"  # bit 15 set in both dims
    )
    z = df.select(zorder_key(F.col("x"), F.col("y")).alias("z")).collect()[0].z
    assert z == 3221225472  # x bit15 -> z bit30, y bit15 -> z bit31

    # bloom: a NULL dim key contributes no bits and must not crash the
    # driver-side bitmap packing
    from data_engineering_bootcamp_spark.operators.sketch import bloom_prune

    fact = spark.createDataFrame([(1,), (2,)], ["k"])
    dim = spark.createDataFrame([(1,), (None,)], "dk int").withColumn(
        "dk", F.col("dk").cast("long")
    )
    passed = {r.k for r in bloom_prune(fact, dim, "k", "dk", m_bits=64).collect()}
    assert 1 in passed

    # histogram: non-positive widths fail fast
    from data_engineering_bootcamp_spark.operators.profile import (
        histogram_quantiles,
    )

    vdf = spark.createDataFrame([(1.0,)], ["v"])
    with pytest.raises(ValueError, match="bin_width"):
        histogram_quantiles(vdf, "v", 0.0, [50])
    with pytest.raises(ValueError, match="bin_width"):
        histogram_quantiles(vdf, "v", -5.0, [50])

    # hard negatives: non-integral label columns fail fast
    from data_engineering_bootcamp_spark.operators.similarity import (
        hard_negatives,
    )

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0], "en"), (1, [0.0, 1.0], "fr")],
        "vec_id long, embedding array<double>, label string",
    )
    with pytest.raises(TypeError, match="integral"):
        hard_negatives(emb, emb.where(F.col("vec_id") == 0), k=1)


def test_pagerank_lazy_equals_checkpointed(spark):
    from data_engineering_bootcamp_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4), (2, 4)], ["id_a", "id_b"]
    )
    eager = {r.vertex_id: r.rank_scaled
             for r in pagerank(edges, checkpoint_every=1).collect()}
    lazy = {r.vertex_id: r.rank_scaled
            for r in pagerank(edges, checkpoint_every=0).collect()}
    mixed = {r.vertex_id: r.rank_scaled
             for r in pagerank(edges, checkpoint_every=2).collect()}
    assert eager == lazy == mixed


def test_bloom_prune_xxhash_variant(spark):
    from data_engineering_bootcamp_spark.operators.sketch import bloom_prune

    fact = spark.createDataFrame([(i,) for i in range(300)], ["k"])
    dim = spark.createDataFrame([(i,) for i in range(0, 300, 11)], ["dk"])
    passed = {
        r.k
        for r in bloom_prune(
            fact, dim, "k", "dk", m_bits=1 << 12, hash_fn="xxhash64"
        ).collect()
    }
    assert set(range(0, 300, 11)) <= passed  # no false negatives
    with pytest.raises(ValueError, match="hash_fn"):
        bloom_prune(fact, dim, "k", "dk", hash_fn="sha1")


def test_drop_frequent_segments_threshold(spark):
    # "a b c d" appears in docs 1,2,3 (> max_docs=2) -> dropped from
    # ALL of them; "e f g h" appears in docs 1,2 only -> kept in both.
    # Contrast with dedup_chunks_rebuild, which would KEEP the first
    # occurrence of the frequent segment.
    from data_engineering_bootcamp_spark.operators.chunking import (
        drop_frequent_segments,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g h"),
            (3, "a b c d x y z w"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in drop_frequent_segments(
            docs, segment_tokens=4, max_docs=2
        ).collect()
    }
    assert out[1].n_segs == 2 and out[1].n_dropped == 1
    assert out[1].kept_tokens == 4
    assert out[2].n_dropped == 1
    # doc 3 keeps its unique tail, loses the shared head
    assert out[3].n_dropped == 1 and out[3].kept_tokens == 4
    import hashlib

    assert out[1].rebuilt_md5 == hashlib.md5(b"e f g h").hexdigest()
    assert out[3].rebuilt_md5 == hashlib.md5(b"x y z w").hexdigest()


def test_drop_frequent_segments_total_loss_is_md5_empty(spark):
    from data_engineering_bootcamp_spark.operators.chunking import (
        drop_frequent_segments,
    )
    import hashlib

    docs = spark.createDataFrame(
        [(i, "p q r s") for i in range(1, 5)], ["doc_id", "text"]
    )
    rows = drop_frequent_segments(
        docs, segment_tokens=4, max_docs=2
    ).collect()
    assert all(r.n_dropped == 1 and r.kept_tokens == 0 for r in rows)
    assert all(
        r.rebuilt_md5 == hashlib.md5(b"").hexdigest() for r in rows
    )


def test_kmv_sketch_small_set_is_exact_and_deterministic(spark):
    from data_engineering_bootcamp_spark.operators.sketch import (
        kmv_estimate,
        kmv_sketch,
    )

    df = spark.createDataFrame(
        [(i % 10, "g") for i in range(100)], ["k", "g"]
    )
    sk = kmv_sketch(df, "k", "g", k=64)
    rows = sk.collect()
    # 10 distinct keys < k: the sketch IS the distinct hash set
    assert len(rows) == 10
    assert kmv_estimate(10, max(r.h for r in rows), 64) == 10.0
    again = kmv_sketch(df, "k", "g", k=64).collect()
    assert sorted((r.h, r.rn) for r in rows) == sorted(
        (r.h, r.rn) for r in again
    )


def test_kmv_sketch_merge_law(spark):
    # KMV of the whole set == re-rank of the two halves' sketch-row
    # union: the mergeability that lets a 100 TB pass run as partials.
    from pyspark.sql import Window
    import pyspark.sql.functions as F
    from data_engineering_bootcamp_spark.operators.sketch import kmv_sketch

    whole = spark.createDataFrame(
        [(i, "g") for i in range(2000)], ["k", "g"]
    )
    lo = whole.where(F.col("k") < 1000)
    hi = whole.where(F.col("k") >= 1000)
    k = 32
    merged = (
        kmv_sketch(lo, "k", "g", k=k)
        .unionByName(kmv_sketch(hi, "k", "g", k=k))
        .select("g", "h")
        .distinct()
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("g").orderBy("h")),
        )
        .where(F.col("rn") <= k)
    )
    direct = kmv_sketch(whole, "k", "g", k=k)
    assert direct.exceptAll(merged).count() == 0
    assert merged.exceptAll(direct).count() == 0


def test_kmv_estimate_error_envelope(spark):
    from data_engineering_bootcamp_spark.operators.sketch import (
        kmv_estimate,
        kmv_sketch,
    )

    n, k = 5000, 256
    df = spark.createDataFrame([(i, "g") for i in range(n)], ["k", "g"])
    rows = kmv_sketch(df, "k", "g", k=k).collect()
    assert len(rows) == k
    est = kmv_estimate(k, max(r.h for r in rows), k)
    # std error ~ 1/sqrt(k-2) = 6.3%; 25% is a > 3-sigma envelope
    assert abs(est - n) / n < 0.25


def test_kmv_pair_stats_identical_and_disjoint_sets(spark):
    from data_engineering_bootcamp_spark.operators.sketch import (
        kmv_pair_stats,
        kmv_sketch,
    )

    rows = (
        [(i, "a") for i in range(500)]
        + [(i, "b") for i in range(500)]       # b == a exactly
        + [(i + 10_000, "c") for i in range(30)]  # c disjoint, small
    )
    df = spark.createDataFrame(rows, ["k", "g"])
    k = 64
    sk = kmv_sketch(df, "k", "g", k=k)
    out = {
        (r.grp_a, r.grp_b): r
        for r in kmv_pair_stats(sk, "g", k=k).collect()
    }
    ab = out[("a", "b")]
    # identical sets: union sketch == either sketch, Jaccard exactly 1
    assert ab.union_size == k and ab.inter_in_union == k
    assert ab.union_kth == ab.kth_a == ab.kth_b
    ac = out[("a", "c")]
    # disjoint: no shared hash in the union sketch
    assert ac.inter_in_union == 0
    assert ac.size_b == 30  # small side unsaturated -> exact
