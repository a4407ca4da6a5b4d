#!/usr/bin/env python
"""Regenerate the PLANS.md audit table: explain("formatted") every
catalog query at sf0.01 and count the plan features that matter for the
100 TB posture (shuffles, join strategies, Python stages, scan widths).

Usage: python tools/plan_audit.py [sf_dir] > /tmp/plan_table.md
Counts are plan-node pairs where AQE prints a node twice (initial +
final plan); the relative numbers are what the audit tracks.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers import the package too, and they read PYTHONPATH
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.getenv("PYTHONPATH")]))

from data_engineering_bootcamp_spark.plans.catalog import QUERIES  # noqa: E402
from data_engineering_bootcamp_spark.session import get_spark  # noqa: E402

# write-path + streaming entries execute side effects on explain-build;
# their plans are the read-back aggregates, audited via their components
SKIP = {
    "streaming_tumbling_hits",
    "streaming_sliding_hits",
    "streaming_session_windows",
    "streaming_foreachbatch_sink",
    "streaming_stateful_sessions",
    "streaming_kafka_mirror",
    "streaming_dedup",
    "streaming_neardup_admission",
    "streaming_interval_join",
    "streaming_upsert_sink",
    "streaming_countmin",
    "bucketed_join_rollup",
    "partitioned_prune_rollup",
    "sorted_layout_rollup",
    "csv_roundtrip_rollup",
    "orc_roundtrip_rollup",
    "insert_select_rollup",
    "metadata_scan",
    "compaction_rollup",
    "training_export_rollup",
    "ivfpq_index_compact",     # writes/publishes the store at plan build
    "training_export_tokenized",  # trains + writes shards at plan build
    # iterative: eager per-round localCheckpoints execute at plan-build,
    # so the final plan is just the checkpointed-ranks scan; the
    # per-iteration shape (1 join + 1 groupBy) is audited by the
    # pagerank section of BENCH_scale_r06.json instead
    "pagerank_parts",
    # iterative BPE training: each step's argmax winner is eagerly
    # localCheckpointed at plan-build (the merge decision feeds the
    # next step), so the final plan is a union of checkpointed 1-row
    # scans; the per-step shape (1 pair-count groupBy + TakeOrdered(1)
    # + broadcast merge map) is pinned by operators/bpe.py's design
    # notes and the gate
    "bpe_train_merges",
    "bpe_encode_corpus",       # same: train jobs run at plan build
    "bpe_train_merges_bytes",  # same loop, byte-level base vocab
    "bpe_train_merges_batched",  # same loop, k merges per round
    "unigram_train_vocab",     # EM rounds (vocab fetch + E-step usage
                               # collects) run at plan build
    "unigram_encode_corpus",   # same training collects at plan build
    "streaming_bpe_encode",    # executes a stream at plan-build
    "streaming_embedding_admission",  # executes a stream at plan-build
    "streaming_ivfpq_index",  # executes a stream at plan-build
    # 31 composed daily advances behind a mid-window checkpoint: the
    # visible plan is the post-checkpoint tail, not the replay; the
    # per-advance shape (1 full-outer join + 1 groupBy, O(users) state)
    # is the audited `growth_accounting`/`users_cumulated` shape
    "pipeline_replay_31d",
    "scd_replay_31d",          # same: per-advance shape = scd_incremental
    "users_cumulated_replay_31d",  # same: per-advance = users_cumulated
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    print("| query | shuffles | broadcast joins | SMJ | BNLJ | python stages | scan cols |")
    print("|---|---|---|---|---|---|---|")
    for name, fn in QUERIES.items():
        if name in SKIP:
            continue
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        # AQE prints each operator twice (initial + final plan): report
        # node PAIRS so the table stays comparable round over round
        def pairs(pat: str) -> int:
            return -(-len(re.findall(pat, plan)) // 2)

        n_ex = pairs(r"\bExchange\b")
        n_bhj = pairs(r"BroadcastHashJoin")
        n_smj = pairs(r"SortMergeJoin")
        n_bnlj = pairs(r"BroadcastNestedLoopJoin")
        n_py = pairs(r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas")
        scans = ",".join(
            str(len(m.split(",")))
            for m in re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        )
        print(
            f"| {name} | {n_ex} | {n_bhj} | {n_smj} | {n_bnlj} | {n_py} "
            f"| {scans} |"
        )
    spark.stop()


if __name__ == "__main__":
    main()
