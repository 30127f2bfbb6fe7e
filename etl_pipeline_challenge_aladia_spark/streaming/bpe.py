"""Persisted BPE merge-table store — train once, apply from store.

Closes VERDICT r10 gap #1: ``doc_bpe_apply_stored`` described the
train-once / persist / apply-across-jobs deployment shape but trained
inline on every run. This module gives the merge table the same
batch-keyed store contract every other derived artifact has
(``streaming/store.py``): a training run appends the k-row table as one
``batch=<epoch>`` directory (idempotent overwrite under checkpoint
replay), and every apply job reads the LATEST epoch — never a union of
epochs, because a merge table is a complete decision sequence, not an
accumulating corpus: epoch N+1 (a retrain) supersedes epoch N outright.

Erasure interaction (the count-min rule): a merge table is a
corpus-derived AGGREGATE — no row of it belongs to any one document, so
key erasure cannot subtract a contribution and ``erase_keys`` must not
be pointed here. The erasure path is rebuild-from-live: after the
corpus store is erased, retrain on the surviving corpus and append the
result as a NEW epoch; readers move to it atomically by the
latest-epoch rule.

At 100 TB: training is the O(rounds * corpus) iterative job
(operators/text.py:bpe_train, one pair-count aggregate + a 1-row merge
decision + one linear rewrite per round); the stored table is k = rounds
rows, so the apply side collects bounded driver state by construction
and tokenizes the corpus in ONE shuffle-free map
(bpe_composed_replace_col) — the difference between rounds x corpus
scans per apply job and one.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_challenge_aladia_spark.operators.text import (
    bpe_composed_replace_col,
    bpe_train,
)
from etl_pipeline_challenge_aladia_spark.streaming.store import (
    append_batch,
    batch_dir,
    batch_dirs,
)

BPE_MERGES_SCHEMA = (
    "merge_round long, pair string, merged string, n_occurrences long"
)


def train_and_save_bpe_merges(
    docs: DataFrame,
    store_path: str,
    rounds: int = 3,
    epoch: int = 0,
    text_col: str = "text",
) -> DataFrame:
    """Train the greedy merge table on ``docs`` and persist it as
    ``batch=<epoch>`` under the store contract. Re-running the same
    epoch (a replayed training job) overwrites its own directory with
    identical content — idempotent, like every append_batch writer.
    Returns the persisted table (k = rounds rows)."""
    merges = bpe_train(docs, rounds=rounds, text_col=text_col)
    append_batch(merges, store_path, epoch)
    return merges


def latest_bpe_epoch(store_path: str) -> int:
    """The newest trained epoch id, or -1 for an empty store. Computed
    as the NUMERIC max — ``batch_dirs`` sorts directory names
    lexicographically, where ``batch=10`` sorts before ``batch=2``, so
    taking ``[-1]`` would silently pin readers to epoch 9 forever from
    the 10th retrain on (breaking both the epoch-supersede contract and
    the rebuild-from-live erasure path)."""
    dirs = batch_dirs(store_path)
    if not dirs:
        return -1
    return max(
        int(os.path.basename(d).split("=", 1)[1]) for d in dirs
    )


def read_bpe_merges(
    spark: SparkSession, store_path: str, epoch: int | None = None
) -> DataFrame:
    """The merge table of ``epoch`` (default: latest). Reads exactly ONE
    ``batch=`` directory — a merge table is a complete decision
    sequence; epochs supersede, never union."""
    if epoch is None:
        epoch = latest_bpe_epoch(store_path)
    if epoch < 0:
        raise FileNotFoundError(f"no trained BPE epoch under {store_path}")
    return spark.read.schema(BPE_MERGES_SCHEMA).parquet(
        batch_dir(store_path, epoch)
    )


def bpe_apply_from_store(
    spark: SparkSession,
    docs: DataFrame,
    store_path: str,
    epoch: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tokenize ``docs`` with a PREVIOUSLY TRAINED merge table: read the
    k-row table from the store (k = rounds rows — bounded driver state
    by definition), compose it into one nested replace in training
    order, and apply it as a single projection. No training jobs, no
    per-round scans, no shuffle. Output matches the retrain path
    byte-for-byte when the store was trained on the same corpus —
    (id_col, tokens_before, tokens_after)."""
    merges = [
        (r.pair, r.merged)
        for r in read_bpe_merges(spark, store_path, epoch)
        .orderBy("merge_round")
        .collect()  # k = rounds rows
    ]
    padded = F.concat(F.lit(" "), F.col(text_col), F.lit(" "))
    return docs.select(
        id_col,
        F.size(F.split(F.trim(padded), " ")).cast("long").alias(
            "tokens_before"
        ),
        F.size(F.split(F.trim(bpe_composed_replace_col(padded, merges)), " "))
        .cast("long")
        .alias("tokens_after"),
    )
