"""Streaming sinks (SURVEY §2.1 S13/S14, §2.9 T7/T8).

The reference pipes to JDBC (Postgres) and Kafka sinks with 10-second
checkpointing (M4F/src/job/start_job.py:38-54,120-121; aggregation_job.py
:10-46). Spark-side the JDBC path is foreachBatch (Structured Streaming
has no first-class JDBC sink); checkpointing is the mandatory
`checkpointLocation` option — state recovery on restart is what makes
the pipeline exactly-once into idempotent sinks.

`drain(writer, checkpoint)` is the one way a finite stream is run here:
it checkpoints the writer, triggers `availableNow` (consume everything
already in the source, then stop), waits, and stops the query in a
`finally`. A foreachBatch handler passed to it must be idempotent:
foreachBatch re-executes a failed batch after restart (delete-then-
insert keyed on the batch, or a MERGE — the contract the reference's
JDBC sink relies on).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery


def drain(writer: DataStreamWriter, checkpoint: str) -> None:
    """Run a stream once over all input already available (T7/T8):
    checkpoint at `checkpoint`, `availableNow` trigger, wait for the
    query to finish, and stop it even if the wait raises."""
    q = (
        writer.option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()


def jdbc_batch_writer(
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    mode: str = "append",
) -> Callable[[DataFrame, int], None]:
    """S13: the reference's JDBC sink (aggregation_job.py:10-46) as a
    foreachBatch handler — Structured Streaming has no first-class JDBC
    sink, so each micro-batch calls the batch `DataFrameWriter.jdbc`
    path. Append mode is idempotent only if the table has a batch-window
    key the downstream dedupes on; for exactly-once semantics use a
    delete-then-insert or MERGE handler instead. Config-only testable:
    no database in the sandbox, so tests pin the handler's construction
    and the (url, table, mode) it binds."""
    props = properties or {"driver": "org.postgresql.Driver"}

    def write_batch(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df.write.jdbc(url=url, table=table, mode=mode, properties=props)

    # expose bindings for tests / observability
    write_batch.url, write_batch.table, write_batch.mode = url, table, mode
    return write_batch


def start_to_kafka(
    df: DataFrame,
    brokers: str,
    topic: str,
    checkpoint: str,
) -> StreamingQuery:
    """S14: mirror a stream to Kafka as JSON, the Spark form of the
    reference's processed-events topic sink (start_job.py:12-30).
    Requires the kafka connector package (production clusters)."""
    payload = df.select(
        F.to_json(F.struct(*df.columns)).alias("value")
    )
    return (
        payload.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def upsert_merge_sql(
    table: str,
    key_cols: list[str],
    order_cols: list[str],
    payload_cols: list[str],
) -> str:
    """The JDBC statement `upsert_batch_writer`'s handler body issues
    against a real database: Postgres-style ``INSERT ... ON CONFLICT
    DO UPDATE`` guarded so a row only wins if its order tuple is
    strictly greater — the same keep-the-max merge rule the parquet
    store applies, so batch-split independence carries over. The
    handler reduces each micro-batch to its newest row per key first
    (one statement per key per batch, not per event).

    Parameterized with ``?`` placeholders in column order
    key_cols + order_cols + payload_cols. The generated statement is
    executable as-is by DuckDB too, which is how the tests PROVE the
    merge semantics without a database in the sandbox."""
    cols = [*key_cols, *order_cols, *payload_cols]
    placeholders = ", ".join("?" for _ in cols)
    sets = ", ".join(
        f"{c} = excluded.{c}" for c in [*order_cols, *payload_cols]
    )
    exc = ", ".join(f"excluded.{c}" for c in order_cols)
    cur = ", ".join(f"{table}.{c}" for c in order_cols)
    return (
        f"INSERT INTO {table} ({', '.join(cols)}) "
        f"VALUES ({placeholders}) "
        f"ON CONFLICT ({', '.join(key_cols)}) DO UPDATE SET {sets} "
        f"WHERE ({exc}) > ({cur})"
    )


def _publish_version(
    store_dir: str,
    batch_id: int,
    merged: DataFrame,
    prev_target,
    target_files: int | None = 1,
) -> None:
    """Atomic store publication shared by the foreachBatch sinks:
    write a fresh versioned directory, flip the `live` symlink in ONE
    os.replace, keep the immediately-previous version for concurrent
    readers, reclaim everything older. Staging dirs are unique PER
    ATTEMPT (not per batch id) so a foreachBatch retry after a crash
    between flip and commit never overwrites the directory `live`
    still resolves to.

    ``target_files`` coalesces the version write (r17, guide §6 —
    small-files hurt twice, and here they COMPOUND: every trigger
    re-reads the live store, so N shuffle-partition files per version
    x T triggers means O(N·T) file opens across the run, dominated by
    per-file open/footer cost for these KB-scale stores). Default 1:
    every current store is bounded (count-min: depth x width rows
    forever; upsert: one row per key; index postings: ~10 B/row), so
    one file per version is the right layout until a version
    approaches the 128 MB - 1 GB file band — callers whose stores
    grow past that pass a larger value or None (leave partitioning
    alone). Coalesce, not repartition: it folds into the write stage
    without an extra Exchange."""
    import os
    import shutil
    import uuid

    live = os.path.join(store_dir, "live")
    staged = os.path.join(store_dir, f"v_{batch_id}_{uuid.uuid4().hex[:8]}")
    if target_files:
        merged = merged.coalesce(target_files)
    merged.write.mode("overwrite").parquet(staged)
    # atomic publish: repoint the live symlink in ONE rename. A stale
    # tmp link from a crashed earlier attempt of this batch must not
    # poison the retry (foreachBatch re-runs failed batches with the
    # same id), so clear it first (ADVICE r5).
    tmp_link = os.path.join(store_dir, f".live_tmp_{batch_id}")
    if os.path.lexists(tmp_link):
        os.unlink(tmp_link)
    os.symlink(staged, tmp_link)
    os.replace(tmp_link, live)
    # Deferred cleanup (ADVICE r5): keep the IMMEDIATELY-PREVIOUS
    # version on disk — a concurrent reader that resolved the old
    # symlink just before the flip may still be scanning it. Anything
    # older than (current, previous) is unreachable by any reader that
    # started after the previous flip and is reclaimed here.
    keep = {os.path.realpath(staged)}
    if prev_target:
        keep.add(prev_target)
    for name in os.listdir(store_dir):
        if not name.startswith("v_"):
            continue
        p = os.path.join(store_dir, name)
        if os.path.realpath(p) not in keep:
            shutil.rmtree(p, ignore_errors=True)


def upsert_batch_writer(
    store_dir: str,
    key_cols: list[str],
    order_cols: list[str],
) -> Callable[[DataFrame, int], None]:
    """Streaming UPSERT sink: the streaming analog of the batch
    ON-CONFLICT merge (S11) — each micro-batch is reduced to its
    newest row per key, merged with the keyed store keeping the row
    with the greatest ``order_cols`` tuple, and atomically swapped in.

    The local store is a parquet directory behind a `live` SYMLINK:
    each batch writes a fresh versioned directory and flips the
    symlink with os.replace — one atomic rename, so a concurrent
    reader always resolves either the old or the new complete store,
    never a missing or half-written one. On a production cluster the
    same handler body targets JDBC `MERGE` / `INSERT ... ON CONFLICT
    UPDATE` (the reference's Postgres sink shape — see
    `upsert_merge_sql`) — only the final write call changes.

    Convergence contract: because the merge keeps the max
    (order_cols) row per key and max() is associative/commutative,
    the final store is independent of how the stream was micro-batched
    — which is what makes the entry exactly oracle-checkable as a
    batch argmax.
    """
    import os

    def write_batch(batch_df: DataFrame, _batch_id: int) -> None:
        spark = batch_df.sparkSession
        payload = order_cols + [
            c
            for c in batch_df.columns
            if c not in order_cols and c not in key_cols
        ]
        ordered = F.struct(*[F.col(c) for c in payload])
        fresh = (
            batch_df.groupBy(*key_cols)
            .agg(F.max(ordered).alias("_row"))
            .select(*key_cols, "_row.*")
        )
        live = os.path.join(store_dir, "live")
        prev_target = (
            os.path.realpath(live) if os.path.exists(live) else None
        )
        if prev_target:
            existing = spark.read.parquet(live)
            merged = (
                existing.unionByName(fresh)
                .groupBy(*key_cols)
                .agg(F.max(ordered).alias("_row"))
                .select(*key_cols, "_row.*")
            )
        else:
            merged = fresh
        _publish_version(store_dir, _batch_id, merged, prev_target)

    write_batch.store_dir = store_dir
    write_batch.key_cols = tuple(key_cols)
    return write_batch


def countmin_merge_batch_writer(
    store_dir: str,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> Callable[[DataFrame, int], None]:
    """Streaming frequency-sketch maintenance: each micro-batch's
    count-min cells merge into the live store by cell-wise SUM —
    associative and commutative, so the final counter table is
    independent of micro-batch boundaries (the merge law measured
    exact at 20M rows in BENCH_scale_r06.json's merge_laws section).
    That batch-split independence is what makes the streaming entry
    exactly oracle-checkable as a whole-input sketch replay. Store
    layout and crash/retry semantics are `_publish_version`'s (shared
    with the upsert sink); the store stays bounded at depth x width
    rows forever, whatever the stream's volume."""
    import os

    from ..operators.sketch import countmin_table

    def write_batch(batch_df: DataFrame, _batch_id: int) -> None:
        spark = batch_df.sparkSession
        fresh = countmin_table(batch_df, key_col, depth=depth, width=width)
        live = os.path.join(store_dir, "live")
        prev_target = (
            os.path.realpath(live) if os.path.exists(live) else None
        )
        if prev_target:
            merged = (
                spark.read.parquet(live)
                .unionByName(fresh)
                .groupBy("row", "pos")
                .agg(F.sum("cnt").alias("cnt"))
            )
        else:
            merged = fresh
        _publish_version(store_dir, _batch_id, merged, prev_target)

    write_batch.store_dir = store_dir
    return write_batch
