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

import os
import shutil
import uuid
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
    prev_target: str | None,
) -> None:
    """Atomic store publication shared by the foreachBatch sinks:
    write a fresh versioned directory, flip the `live` symlink in ONE
    os.replace, keep the immediately-previous version for concurrent
    readers, reclaim everything older. Staging dirs are unique PER
    ATTEMPT (not per batch id) so a foreachBatch retry after a crash
    between flip and commit never overwrites the directory `live`
    still resolves to.

    `merged` is written with the partitioning it has: the caller owns
    the version's file layout. No `_SUCCESS` marker is written —
    readers resolve `live`, which only ever points at a finished
    version, and manifests count `*.parquet` files only."""
    live = os.path.join(store_dir, "live")
    staged = os.path.join(store_dir, f"v_{batch_id}_{uuid.uuid4().hex[:8]}")
    (
        merged.write.option(
            "mapreduce.fileoutputcommitter.marksuccessfuljobs", "false"
        )
        .mode("overwrite")
        .parquet(staged)
    )
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


def merge_into_store(
    store_dir: str,
    batch_id: int,
    rows: DataFrame,
    merge: Callable[[DataFrame], DataFrame] | None = None,
) -> None:
    """The read-merge-swap step every store sink runs per trigger:
    resolve `live`, union its rows with `rows`, apply `merge` (None
    appends), and publish the result as one file through
    `_publish_version`.

    The live store is read with `rows.schema`, so no trigger pays a
    schema-inference job. That is sound because every version is
    written from `merge(...)` of rows shaped like these: `merge` must
    return the column names and types of its input.

    One file per version: each store stays KB-MB scale at catalog
    sizes (count-min: depth x width cells forever; upsert: one row
    per key; IVFPQ postings: ~10 B per vector), and every trigger
    re-reads the whole store, so N files per version would cost N
    file opens per trigger. Coalesce, not repartition: it folds into
    the write stage without an extra Exchange."""
    live = os.path.join(store_dir, "live")
    prev_target = os.path.realpath(live) if os.path.exists(live) else None
    if prev_target:
        stored = rows.sparkSession.read.schema(rows.schema).parquet(live)
        rows = stored.unionByName(rows)
    merged = merge(rows) if merge else rows
    _publish_version(store_dir, batch_id, merged.coalesce(1), prev_target)


def upsert_batch_writer(
    store_dir: str,
    key_cols: list[str],
    order_cols: list[str],
) -> Callable[[DataFrame, int], None]:
    """Streaming UPSERT sink: the streaming analog of the batch
    ON-CONFLICT merge (S11) — each micro-batch's rows are merged with
    the keyed store keeping, per key, the row with the greatest
    ``order_cols`` tuple, and the result is atomically swapped in.

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
    batch argmax. The same law lets the raw batch rows and the store
    meet in ONE aggregation: Spark's map-side partial aggregate still
    reduces the batch before the exchange.
    """

    def merge(rows: DataFrame) -> DataFrame:
        payload = order_cols + [
            c
            for c in rows.columns
            if c not in order_cols and c not in key_cols
        ]
        return (
            rows.groupBy(*key_cols)
            .agg(F.max(F.struct(*payload)).alias("_row"))
            .select(*key_cols, "_row.*")
        )

    def write_batch(batch_df: DataFrame, _batch_id: int) -> None:
        merge_into_store(store_dir, _batch_id, batch_df, merge)

    write_batch.store_dir = store_dir
    write_batch.key_cols = tuple(key_cols)
    write_batch.merge = merge
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
    layout and crash/retry semantics are `merge_into_store`'s (shared
    with the upsert sink); the store stays bounded at depth x width
    rows forever, whatever the stream's volume."""
    from ..operators.sketch import countmin_table

    def merge(cells: DataFrame) -> DataFrame:
        return cells.groupBy("row", "pos").agg(F.sum("cnt").alias("cnt"))

    def write_batch(batch_df: DataFrame, _batch_id: int) -> None:
        cells = countmin_table(batch_df, key_col, depth=depth, width=width)
        merge_into_store(store_dir, _batch_id, cells, merge)

    write_batch.store_dir = store_dir
    write_batch.merge = merge
    return write_batch
