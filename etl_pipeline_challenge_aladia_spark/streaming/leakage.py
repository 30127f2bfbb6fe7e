"""Persisted benchmark-leakage denylist (VERDICT r12 #2).

The leaked-document verdicts are the one decontamination artifact every
LATER curation run consults — the anti-join before the token-budget
rollup — and the one most likely to carry erasable keys (a leaked train
document IS a user document). Recomputing them per run both re-pays two
screens over the full train corpus and leaves a right-to-be-forgotten
request with nothing durable to scrub. This module makes the verdicts a
first-class derived store under the package's ONE batch-keyed store
contract (streaming/store.py):

- **batch-keyed overwrite appends** — a checkpoint-replayed screening
  batch rewrites its own ``batch=<id>`` directory (idempotent replay);
- **compactable** — maintenance folds per-batch verdict directories
  into one DISTINCT layout under the reserved ``compacted/`` dir;
- **erase_keys wired** — doc_id-keyed physical rewrite plus the
  permanent ``erased/`` read-shield, same two-layer GDPR path as every
  other derived store (an erased document must vanish from the
  denylist too: keeping "doc 42 leaked benchmark X" is retaining a
  fact about erased content).

Verdict rows carry SCREEN PROVENANCE (``screen`` = 'ngram' |
'semantic') so an audit can answer "which screen caught this and how
hard" without re-running either; the n-gram screen has no matched-id /
cosine notion, so those columns are NULL on its rows.

Reference analog: none (the reference keeps no cross-message state,
SURVEY.md §2.12); this is the LLM-pipeline extension scope — the
denylist a 100-TB training-data curation run reads on every invocation
instead of re-screening the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_challenge_aladia_spark.streaming.store import (
    StoreSpec,
    append_batch,
    read_store,
)

#: provenance-tagged verdicts, erased by doc_id; compaction folds the
#: per-batch verdict directories into one DISTINCT layout
LEAKAGE_STORE = StoreSpec(
    "doc_id long, screen string, matched_eval_id long, cosine double",
    key="doc_id",
    compact=DataFrame.distinct,
)


def leakage_verdicts(
    ngram_leaks: DataFrame, semantic_leaks: DataFrame
) -> DataFrame:
    """Normalize the two screens' outputs into one provenance-tagged
    verdict frame (``LEAKAGE_STORE``'s schema): ``ngram_leaks`` is the n-gram
    screen's id frame (operators/text.py:contamination_overlap —
    ``doc_id`` plus whatever overlap columns it carries, dropped here),
    ``semantic_leaks`` the embedding screen's
    ``(doc_id, matched_eval_id, cosine)`` rows
    (semantic_decontaminate[_from_index] with vec_id aliased to the
    shared document grain). Pure projection + union — no shuffle."""
    ng = ngram_leaks.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.lit("ngram").alias("screen"),
        F.lit(None).cast("long").alias("matched_eval_id"),
        F.lit(None).cast("double").alias("cosine"),
    )
    se = semantic_leaks.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.lit("semantic").alias("screen"),
        F.col("matched_eval_id").cast("long").alias("matched_eval_id"),
        F.col("cosine").cast("double").alias("cosine"),
    )
    return ng.unionByName(se)


def append_leakage_batch(
    verdicts: DataFrame, path: str, batch_id: int
) -> None:
    """Persist one screening run's verdicts under ``batch=<id>`` —
    overwrite, so a replayed screen is idempotent by construction."""
    append_batch(
        verdicts.select("doc_id", "screen", "matched_eval_id", "cosine"),
        path,
        batch_id,
    )


def leakage_denylist(
    spark: SparkSession,
    path: str,
    strictly_before: int | None = None,
) -> DataFrame:
    """The skinny ``doc_id`` frame a curation run anti-joins — DISTINCT
    over every screen and batch, erasure-shielded by the read path."""
    return (
        read_store(spark, LEAKAGE_STORE, path, strictly_before=strictly_before)
        .select("doc_id")
        .distinct()
    )
