"""Structured Streaming suite tests (SURVEY §2.9 T1-T8).

Strategy: replay deterministic JSON events through the file-based
micro-batch source with trigger(availableNow=True) — the same physical
plan a Kafka source would feed — and assert the streaming results equal
the batch run of the identical pipeline functions.
"""

import json
import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from data_engineering_bootcamp_spark.streaming import (
    avg_events_per_session,
    enrich_events,
    json_file_stream,
    sessionize_stream,
    tumbling_counts,
    with_event_time,
)

EVENT_SCHEMA = StructType(
    [
        StructField("ip", StringType()),
        StructField("host", StringType()),
        StructField("url", StringType()),
        StructField("event_time", StringType()),
        StructField("user_id", LongType()),
    ]
)

# two hosts, three ips; events spanning three 5-minute windows and a
# >5-minute gap that must split ip 10.0.0.1's activity into 2 sessions
EVENTS = [
    ("10.0.0.1", "www.a.com", "/", "2024-01-01T00:00:01.000Z", 1),
    ("10.0.0.1", "www.a.com", "/x", "2024-01-01T00:02:30.000Z", 1),
    ("10.0.0.2", "www.a.com", "/", "2024-01-01T00:03:10.000Z", 2),
    ("10.0.0.1", "www.a.com", "/y", "2024-01-01T00:09:00.000Z", 1),
    ("10.0.0.3", "www.b.org", "/", "2024-01-01T00:04:20.000Z", 3),
    ("10.0.0.3", "www.b.org", "/z", "2024-01-01T00:11:45.000Z", 3),
    ("10.0.0.2", "www.a.com", "/w", "2024-01-01T00:14:59.000Z", 2),
]

# late sentinel: advances the watermark past every real window/session so
# append mode flushes them; its own window stays open and is excluded
# from assertions
SENTINEL = ("10.0.0.9", "www.a.com", "/end", "2024-01-01T00:30:00.000Z", 9)
ALL_EVENTS = EVENTS + [SENTINEL]

GEO = {
    "10.0.0.1": ("US", "Boston"),
    "10.0.0.2": ("DE", "Berlin"),
    # 10.0.0.3 intentionally missing → NULL enrichment (left join)
}


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("stream_in")
    # three files → distinct micro-batch inputs under maxFilesPerTrigger;
    # the sentinel arrives last so the watermark advance happens after
    # all real data (the no-data finalization batch then evicts state)
    now = time.time()
    for i, chunk in enumerate((EVENTS[:4], EVENTS[4:], [SENTINEL])):
        path = d / f"part-{i}.json"
        with open(path, "w") as f:
            for ip, host, url, et, uid in chunk:
                f.write(
                    json.dumps(
                        {
                            "ip": ip,
                            "host": host,
                            "url": url,
                            "event_time": et,
                            "user_id": uid,
                        }
                    )
                    + "\n"
                )
        # Spark's file source orders micro-batches by modification time;
        # identical mtimes would make the sentinel's arrival order — and
        # therefore the watermark advance — nondeterministic
        os.utime(path, (now + i, now + i))
    return str(d)


@pytest.fixture(scope="module")
def batch_events(spark, events_dir):
    return with_event_time(spark.read.schema(EVENT_SCHEMA).json(events_dir))


def _drain(stream_df, tmp_path, name):
    out = os.path.join(str(tmp_path), f"{name}_out")
    ckpt = os.path.join(str(tmp_path), f"{name}_ckpt")
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return out


def test_event_time_parse(batch_events):
    row = batch_events.where(F.col("url") == "/").orderBy("ip").first()
    assert str(row["ts"]) == "2024-01-01 00:00:01"


def test_tumbling_counts_stream_matches_batch(spark, events_dir, tmp_path):
    # file 2 contains an event 4m40s older than file 1's max, so the
    # watermark delay must cover that disorder for stream == batch
    stream = with_event_time(
        json_file_stream(spark, events_dir, EVENT_SCHEMA, max_files_per_trigger=1)
    )
    out = _drain(
        tumbling_counts(stream, ["host"], watermark="5 minutes"), tmp_path, "tumble"
    )
    got = {
        (str(r["window_start"]), r["host"]): r["num_hits"]
        for r in spark.read.parquet(out).collect()
    }
    expected = {
        ("2024-01-01 00:00:00", "www.a.com"): 3,
        ("2024-01-01 00:00:00", "www.b.org"): 1,
        ("2024-01-01 00:05:00", "www.a.com"): 1,
        ("2024-01-01 00:10:00", "www.b.org"): 1,
        ("2024-01-01 00:10:00", "www.a.com"): 1,
    }
    assert got == expected


def test_watermark_drops_late_event(spark, tmp_path):
    """T2/T9: an event behind the watermark must be dropped from the
    aggregation — Spark's (and the Flink reference's) late-data policy.

    Spark filters late events against the PREVIOUS micro-batch's
    watermark (two-watermark model for chained stateful operators), so
    the late row must arrive two batches after the event that advanced
    the watermark past it: batch0 advances event time to 00:09, batch1
    locks in watermark 00:08:45, batch2's 00:04:20 row (window end
    00:05 <= 00:08:45) is then dropped.
    """
    d = tmp_path / "late_in"
    d.mkdir()
    files = [
        [("10.0.0.1", "www.a.com", "/", "2024-01-01T00:09:00.000Z", 1)],
        [SENTINEL],
        [("10.0.0.3", "www.b.org", "/", "2024-01-01T00:04:20.000Z", 3)],
    ]
    now = time.time()
    for i, chunk in enumerate(files):
        path = d / f"part-{i}.json"
        with open(path, "w") as f:
            for ip, host, url, et, uid in chunk:
                f.write(
                    json.dumps(
                        {"ip": ip, "host": host, "url": url,
                         "event_time": et, "user_id": uid}
                    )
                    + "\n"
                )
        os.utime(path, (now + i, now + i))
    stream = with_event_time(
        json_file_stream(spark, str(d), EVENT_SCHEMA, max_files_per_trigger=1)
    )
    out = _drain(
        tumbling_counts(stream, ["host"], watermark="15 seconds"),
        tmp_path,
        "tumble_late",
    )
    got = {
        (str(r["window_start"]), r["host"]): r["num_hits"]
        for r in spark.read.parquet(out).collect()
    }
    assert ("2024-01-01 00:00:00", "www.b.org") not in got  # dropped
    assert got[("2024-01-01 00:05:00", "www.a.com")] == 1


def test_session_windows_5min_gap(spark, events_dir, tmp_path):
    stream = with_event_time(json_file_stream(spark, events_dir, EVENT_SCHEMA))
    out = _drain(
        sessionize_stream(stream, ["ip", "host"]), tmp_path, "sessions"
    )
    sessions = spark.read.parquet(out)
    per_ip = {
        r["ip"]: r["n_sessions"]
        for r in sessions.groupBy("ip")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .collect()
    }
    # 10.0.0.1: 00:00-00:02:30 then 00:09 → gap >5min ⇒ 2 sessions
    # 10.0.0.3: 00:04:20 then 00:11:45 → 2 sessions
    # 10.0.0.2: 00:03:10 then 00:14:59 → 2 sessions
    assert per_ip == {"10.0.0.1": 2, "10.0.0.2": 2, "10.0.0.3": 2}

    avg = avg_events_per_session(sessions, ["host"]).collect()
    by_host = {r["host"]: (r["avg_events_per_session"], r["n_sessions"]) for r in avg}
    assert by_host["www.a.com"] == (1.25, 4)  # sessions of 2,1,1,1 events
    assert by_host["www.b.org"] == (1.0, 2)


def test_enrich_broadcast_lookup(batch_events):
    enriched = enrich_events(batch_events, GEO)
    rows = {r["ip"]: (r["country"], r["city"]) for r in enriched.collect()}
    assert rows["10.0.0.1"] == ("US", "Boston")
    assert rows["10.0.0.2"] == ("DE", "Berlin")
    assert rows["10.0.0.3"] == (None, None)
    # the plan must be a broadcast join, not a Python UDF
    plan = enriched._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_enrichment_works_on_stream(spark, events_dir, tmp_path):
    stream = with_event_time(json_file_stream(spark, events_dir, EVENT_SCHEMA))
    out = _drain(enrich_events(stream, GEO), tmp_path, "enriched")
    got = spark.read.parquet(out)
    # stateless pipe: no watermark filtering, so the sentinel flows too
    assert got.count() == len(ALL_EVENTS)
    assert got.where(F.col("country") == "US").count() == 3


def test_foreach_batch_sink(spark, events_dir, tmp_path):
    stream = with_event_time(json_file_stream(spark, events_dir, EVENT_SCHEMA))
    target = os.path.join(str(tmp_path), "fb_out")
    seen: list[int] = []

    def handle(batch_df, batch_id):
        # jdbc-sink stand-in: idempotent append keyed by batch id
        batch_df.write.mode("append").parquet(target)
        seen.append(batch_id)

    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", os.path.join(str(tmp_path), "fb_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.read.parquet(target).count() == len(ALL_EVENTS)
    assert seen  # handler actually ran


def test_checkpoint_resume_no_duplicates(spark, events_dir, tmp_path):
    """T8: restarting from the checkpoint must not re-emit drained input."""
    stream = with_event_time(json_file_stream(spark, events_dir, EVENT_SCHEMA))
    out = _drain(stream, tmp_path, "resume")
    n1 = spark.read.parquet(out).count()
    _drain(stream, tmp_path, "resume")
    n2 = spark.read.parquet(out).count()
    assert n1 == len(ALL_EVENTS)
    assert n2 == n1


def test_stateful_sessionizer_matches_session_window(spark, events_dir, tmp_path):
    # the applyInPandasWithState sessionizer must agree with the built-in
    # session_window on (key, session_start, num_events) for every closed
    # session (T5 + custom-stateful-operator path)
    from data_engineering_bootcamp_spark.streaming import sessionize_stateful

    stream = with_event_time(
        json_file_stream(spark, events_dir, EVENT_SCHEMA, max_files_per_trigger=1)
    )
    out = _drain(
        sessionize_stateful(stream, gap_seconds=300), tmp_path, "stateful_sess"
    )
    got = {
        (r.ip, r.host, str(r.session_start), r.num_events)
        for r in spark.read.parquet(out).collect()
    }

    builtin_stream = with_event_time(
        json_file_stream(spark, events_dir, EVENT_SCHEMA, max_files_per_trigger=1)
    )
    ref_out = _drain(
        sessionize_stream(builtin_stream, keys=["ip", "host"], gap="5 minutes"),
        tmp_path,
        "builtin_sess",
    )
    want = {
        (r.ip, r.host, str(r.session_start), r.num_events)
        for r in spark.read.parquet(ref_out).collect()
    }
    assert got == want
    assert len(got) >= 4  # the corpus closes at least four sessions


def test_dedup_stream_across_microbatches(spark, tmp_path):
    """dropDuplicatesWithinWatermark must emit only the FIRST occurrence
    of each key, including duplicates arriving in LATER micro-batches
    (within the watermark horizon) — the at-least-once replay contract."""
    from data_engineering_bootcamp_spark.streaming.pipelines import dedup_stream

    d = tmp_path / "dedup_in"
    d.mkdir()
    now = time.time()
    # batch 0: events 1-4; batch 1: replay of 2 and 3 plus new event 5
    chunks = [
        [(1, "2024-01-01T00:00:05.000Z"), (2, "2024-01-01T00:00:10.000Z"),
         (3, "2024-01-01T00:00:15.000Z"), (4, "2024-01-01T00:00:20.000Z")],
        [(2, "2024-01-01T00:00:10.000Z"), (3, "2024-01-01T00:00:15.000Z"),
         (5, "2024-01-01T00:00:25.000Z")],
    ]
    for i, chunk in enumerate(chunks):
        p = d / f"part-{i}.json"
        with open(p, "w") as f:
            for eid, et in chunk:
                f.write(json.dumps({"event_id": eid, "event_time": et}) + "\n")
        os.utime(p, (now + i, now + i))
    schema = StructType(
        [StructField("event_id", LongType()), StructField("event_time", StringType())]
    )
    stream = with_event_time(
        json_file_stream(spark, str(d), schema, max_files_per_trigger=1)
    )
    deduped = dedup_stream(stream, keys=["event_id"], watermark="10 minutes")
    out = _drain(deduped, tmp_path, "dedup")
    got = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 3, 4, 5]


def test_minhash_banded_stream_batch_parity(spark, sf_small, tmp_path):
    """The shared banded-LSH projection must yield IDENTICAL
    (doc_id, band, band_hash) rows on a streaming source as on the
    batch table — the contract the stream-static admission join
    relies on."""
    from pyspark.sql import functions as F

    from data_engineering_bootcamp_spark.operators.dedup import minhash_banded

    docs = (
        spark.read.parquet(f"{sf_small}/documents.parquet")
        .select("doc_id", "text")
        .limit(50)
    )
    src = str(tmp_path / "docs")
    docs.write.mode("overwrite").parquet(src)
    batch = {
        (r.doc_id, r.band, r.band_hash)
        for r in minhash_banded(spark.read.parquet(src)).select(
            "doc_id", "band", "band_hash"
        ).collect()
    }

    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).format("parquet").load(src)
    out = str(tmp_path / "banded_out")
    ckpt = str(tmp_path / "ckpt")
    q = (
        minhash_banded(stream)
        .select("doc_id", "band", "band_hash")
        .writeStream.foreachBatch(
            lambda b, _i: b.write.mode("append").parquet(out)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    streamed = {
        (r.doc_id, r.band, r.band_hash)
        for r in spark.read.parquet(out).collect()
    }
    assert streamed == batch and batch


def test_admission_stream_static_join_plan_shape(spark, sf_small, tmp_path):
    """The stream-static admission join must stay INCREMENTAL: each
    micro-batch's physical plan has to (a) read the static banded
    corpus from its persisted relation (InMemoryTableScan — no
    per-batch recompute of the corpus projection) and (b) join it to
    the micro-batch via an equi HASH join keyed on (band, band_hash) —
    never a nested-loop/cartesian shape. Captured from the running
    query's explain after processing two micro-batches."""
    from data_engineering_bootcamp_spark.operators.dedup import (
        minhash_banded,
    )

    docs = (
        spark.read.parquet(f"{sf_small}/documents.parquet")
        .select("doc_id", "text")
    )
    static_banded = (
        minhash_banded(docs.where(F.col("doc_id") % 4 != 0).limit(60))
        .select(
            F.col("doc_id").alias("corpus_id"),
            "band",
            "band_hash",
        )
        .persist()
    )
    try:
        src = str(tmp_path / "adm_src")
        incoming = docs.where(F.col("doc_id") % 4 == 0).limit(20)
        # two source files → two micro-batches under maxFilesPerTrigger=1
        incoming.where(F.col("doc_id") % 8 == 0).write.parquet(f"{src}/a")
        incoming.where(F.col("doc_id") % 8 != 0).write.parquet(f"{src}/b")
        schema = spark.read.parquet(f"{src}/a").schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .format("parquet")
            .load(f"{src}/*")
        )
        joined = minhash_banded(stream).join(
            static_banded, ["band", "band_hash"]
        ).select("doc_id", "corpus_id")
        out = str(tmp_path / "adm_out")
        q = (
            joined.writeStream.foreachBatch(
                lambda b, _i: b.write.mode("append").parquet(out)
            )
            .option("checkpointLocation", str(tmp_path / "adm_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination(120)
            plan = q._jsq.explainInternal(False)
        finally:
            q.stop()
    finally:
        static_banded.unpersist()

    assert q.lastProgress["batchId"] >= 1  # two micro-batches ran
    # static side read from the persisted relation, not recomputed
    assert "InMemoryTableScan" in plan, plan
    # equi hash join on the banding keys; no loop/cartesian fallback
    assert "HashJoin" in plan, plan
    join_line = next(
        ln for ln in plan.splitlines() if "HashJoin" in ln
    )
    assert "band" in join_line and "band_hash" in join_line, join_line
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_countmin_merge_sink_split_independent(spark, tmp_path):
    """Four micro-batches through the count-min merge sink must equal
    the whole-input sketch cell for cell (the merge law end-to-end
    through the streaming engine + symlink store)."""
    import os

    from pyspark.sql import functions as F

    from data_engineering_bootcamp_spark.operators.sketch import (
        countmin_table,
    )
    from data_engineering_bootcamp_spark.streaming.sinks import (
        countmin_merge_batch_writer,
    )

    rows = [(i, i % 37) for i in range(2000)]
    df = spark.createDataFrame(rows, ["event_id", "user_id"])
    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(store, exist_ok=True)
    df.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            countmin_merge_batch_writer(store, "user_id", depth=3, width=64)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got = spark.read.parquet(os.path.join(store, "live"))
    whole = countmin_table(df, "user_id", depth=3, width=64)
    assert got.exceptAll(whole).count() == 0
    assert whole.exceptAll(got).count() == 0
    # only current + previous versions retained
    versions = [n for n in os.listdir(store) if n.startswith("v_")]
    assert len(versions) <= 2
    # r17 (guide §6): the bounded per-trigger store write coalesces to
    # ONE file per version — N shuffle-partition files x T triggers
    # compounds into O(N*T) file opens across the run otherwise
    live_dir = os.path.realpath(os.path.join(store, "live"))
    pq = [n for n in os.listdir(live_dir) if n.endswith(".parquet")]
    assert len(pq) == 1, f"expected 1 file per published version, got {pq}"

    # restart: a NEW writer over the existing store, with batch rows
    # that carry a timestamp column and null payload values; the store
    # is read back with the cells' own schema, so merge must keep it
    tdf = df.select(
        "event_id",
        "user_id",
        F.timestamp_seconds("event_id").alias("ts"),
        F.when(F.col("event_id") % 5 != 0, F.lit("p")).alias("val"),
    )
    rstore = str(tmp_path / "restart")
    os.makedirs(rstore)
    for i, part in enumerate(
        (tdf.where("event_id < 1000"), tdf.where("event_id >= 1000"))
    ):
        w = countmin_merge_batch_writer(rstore, "user_id", depth=3, width=64)
        w(part, i)
    got = spark.read.parquet(os.path.join(rstore, "live"))
    assert got.exceptAll(whole).count() == 0
    assert whole.exceptAll(got).count() == 0
    cells = countmin_table(tdf, "user_id", depth=3, width=64)
    # simpleString: column names and types, nullability ignored
    assert w.merge(cells).schema.simpleString() == cells.schema.simpleString()


def test_store_version_file_layout(spark, tmp_path):
    """`_publish_version` writes the partitioning it is given
    (ivfpq_index_compact's file count IS its query result);
    `merge_into_store`, the streaming sinks' step, coalesces each
    bounded store version to a single file; content is identical
    either way, and no version carries a `_SUCCESS` marker."""
    import os

    from data_engineering_bootcamp_spark.streaming.sinks import (
        _publish_version,
        merge_into_store,
    )

    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    ).repartition(8)

    def live_files(store: str) -> list[str]:
        d = os.path.realpath(os.path.join(store, "live"))
        assert "_SUCCESS" not in os.listdir(d)
        return [n for n in os.listdir(d) if n.endswith(".parquet")]

    s1 = str(tmp_path / "s1")
    os.makedirs(s1)
    merge_into_store(s1, 0, df)
    assert len(live_files(s1)) == 1
    sn = str(tmp_path / "sn")
    os.makedirs(sn)
    _publish_version(sn, 0, df, None)
    assert len(live_files(sn)) == 8
    a = spark.read.parquet(os.path.join(s1, "live"))
    b = spark.read.parquet(os.path.join(sn, "live"))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_upsert_sink_runs_one_job_per_trigger(spark, tmp_path):
    """Behind `dedup_stream` (the benchmarked ingest path) the upsert
    sink's per-trigger cost is ONE Spark job: the live store is read
    with the batch's own schema (no inference job) and the batch meets
    the store in one aggregation. Stateful micro-batches run without
    AQE, so each exchange stays inside that job. The published version
    has no `_SUCCESS` marker."""
    from data_engineering_bootcamp_spark.streaming.pipelines import (
        dedup_stream,
    )
    from data_engineering_bootcamp_spark.streaming.sinks import (
        drain,
        upsert_batch_writer,
    )

    df = spark.createDataFrame(
        [(i, i % 7, i * 10, f"p{i}") for i in range(60)],
        "event_id long, user_id long, seq long, val string",
    ).withColumn("ts", F.timestamp_seconds("seq"))
    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    os.makedirs(store)
    df.repartition(3).write.parquet(src)
    writer = upsert_batch_writer(store, ["user_id"], ["seq", "event_id"])
    sc = spark.sparkContext
    groups: list[str] = []

    def sink(batch_df, batch_id: int) -> None:
        group = f"upsert_posture_{batch_id}"
        groups.append(group)
        sc.setJobGroup(group, "upsert sink posture")
        writer(batch_df, batch_id)

    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    drain(
        dedup_stream(stream, ["event_id"]).writeStream.foreachBatch(sink),
        str(tmp_path / "ckpt"),
    )
    assert len(groups) == 3, groups
    jobs = {
        g: len(sc.statusTracker().getJobIdsForGroup(g)) for g in groups
    }
    assert all(jobs[g] == 1 for g in groups[1:]), jobs
    live_dir = os.path.realpath(os.path.join(store, "live"))
    assert "_SUCCESS" not in os.listdir(live_dir)
    got = {
        tuple(r)
        for r in spark.read.parquet(live_dir)
        .select("user_id", "event_id")
        .collect()
    }
    assert got == {(u, 56 + u if u < 4 else 49 + u) for u in range(7)}


def test_streaming_bpe_encode_batch_split_independence(spark, tmp_path):
    """VERDICT r13 #7 fidelity: the streaming tokenizer application
    must produce the identical encoded vocabulary whatever the
    micro-batch split — 1-file (one batch) vs 4-file/maxFilesPerTrigger
    (four batches) vs the direct batch encode. SUM-mergeable counts +
    a FIXED broadcast rule table make this hold by construction; this
    pins it."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from data_engineering_bootcamp_spark.operators.bpe import (
        bpe_apply_merges,
        bpe_train_merges,
    )
    from data_engineering_bootcamp_spark.streaming.sinks import drain

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the dog sat on the log"),
            (3, "a cat and a dog and a rat"),
            (4, "rats chase cats and dogs chase rats"),
            (5, "the the the cat cat dog"),
        ],
        "doc_id long, text string",
    )

    def vocab_of(d: DataFrame) -> DataFrame:
        toks = d.select(
            F.explode(
                F.filter(
                    F.split(
                        F.trim(
                            F.regexp_replace(F.lower("text"), r"\s+", " ")
                        ),
                        " ",
                    ),
                    lambda t: t != F.lit(""),
                )
            ).alias("token")
        )
        return (
            toks.groupBy("token")
            .agg(F.count(F.lit(1)).alias("freq"))
            .where(
                (F.length("token") >= 2) & F.col("token").rlike("^[a-z]+$")
            )
        )

    rules = bpe_train_merges(
        vocab_of(docs), iterations=4, checkpoint_every=0
    ).localCheckpoint(eager=True)

    batch_ref = {
        (r.token, r.freq, r.encoded, r.n_syms)
        for r in bpe_apply_merges(vocab_of(docs), rules, 4).collect()
    }

    def run_stream(n_files: int, tag: str) -> set:
        src = str(tmp_path / f"src_{tag}")
        out = str(tmp_path / f"out_{tag}")
        ckpt = str(tmp_path / f"ckpt_{tag}")
        docs.repartition(n_files).write.mode("overwrite").parquet(src)
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .format("parquet")
            .load(src)
        )

        def encode_batch(b: DataFrame, _i: int) -> None:
            bpe_apply_merges(vocab_of(b), rules, 4).select(
                "token", "freq", "encoded", "n_syms"
            ).write.mode("append").parquet(out)

        drain(stream.writeStream.foreachBatch(encode_batch), ckpt)
        return {
            (r.token, r.freq, r.encoded, r.n_syms)
            for r in spark.read.parquet(out)
            .groupBy("token", "encoded", "n_syms")
            .agg(F.sum("freq").alias("freq"))
            .select("token", "freq", "encoded", "n_syms")
            .collect()
        }

    assert run_stream(1, "one") == batch_ref
    assert run_stream(4, "four") == batch_ref
