"""End-to-end corpus curation plan — the training-data funnel.

Composes the curation operators into the pipeline a web-scale pretraining
corpus actually goes through, in the cost-ordered sequence (cheap map-only
gates first, shuffle-bearing dedup after, so every expensive stage sees
only survivors):

    quality gate (Gopher signals, map-only)
      -> exact dedup (128-bit content key)
      -> near-dup clusters (MinHash-LSH + CC closure; keep canonical doc)
      -> decontamination vs an eval/holdout set (winnowed fingerprints)
      -> PII redaction (map-only rewrite)
      -> deterministic train/holdout split

Returns the curated DataFrame plus a funnel dict (rows surviving each
stage) — the no-silent-caps accounting: every drop is counted and
attributable. Each count is one bounded aggregate job; at 100 TB the
funnel numbers are exactly what an operator dashboard shows.

Each phase's Spark jobs run in the job group ``curation:<phase>`` (input,
quality, exact_dedup, near_dup, decontaminate, split); the caller's group is
restored after each.

Each survivor set is an eager ``localCheckpoint``: its count, the next
stage and the caller's action plan a flat scan of it, not the upstream
funnel, which each stage would otherwise plan twice (so doubling per stage).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

from ..operators.dedup import exact_dedup, near_dup_clusters
from ..operators.sample import split_train_holdout
from ..operators.textstats import decontaminate, gopher_quality, redact_text
from ..operators.util import job_group


@dataclass
class CurationConfig:
    min_words: int = 5
    max_top_word_frac: float = 0.5      # repetition gate
    min_alpha_word_frac: float = 0.5    # symbol-soup gate
    max_dup_line_frac: float = 0.5
    near_dup_method: str = "minhash"
    near_dup_kwargs: dict = field(default_factory=lambda: {"threshold": 0.7})
    redact: bool = True
    holdout_frac: float = 0.01
    split_salt: str = "curation-split"


def curate_corpus(
    docs: DataFrame,
    eval_docs: DataFrame | None = None,
    config: CurationConfig | None = None,
) -> tuple[DataFrame, dict]:
    """documents (doc_id, text, ...) -> curated training table + funnel.

    Output columns: the input columns (text replaced in place by the
    redacted text when ``config.redact``), plus ``split`` ('train' |
    'holdout'). Each funnel stage is checkpointed and counted; the returned
    frame is a projection over the last checkpoint, and nothing is left in
    the session's cache.
    """
    cfg = config or CurationConfig()
    spark = docs.sparkSession

    def _stage(df: DataFrame, label: str) -> DataFrame:
        df = df.localCheckpoint(eager=True)
        funnel[label] = df.count()
        return df

    with job_group(spark, "curation:input"):
        funnel: dict = {"input": docs.count()}

    # 1. quality gate — map-side signals, drops junk before any shuffle
    with job_group(spark, "curation:quality"):
        q = gopher_quality(docs)
        keep_q = q.where(
            (F.col("n_words") >= cfg.min_words)
            & (F.col("top_word_frac") <= cfg.max_top_word_frac)
            & (F.col("frac_alpha_words") >= cfg.min_alpha_word_frac)
            & (F.col("frac_dup_lines") <= cfg.max_dup_line_frac)
        ).select("doc_id")
        d = _stage(docs.join(keep_q, "doc_id", "left_semi"), "after_quality")

    # 2. exact dedup — keep the canonical (min doc_id) copy
    with job_group(spark, "curation:exact_dedup"):
        ex = exact_dedup(d)
        d = _stage(
            d.join(
                ex.where(F.col("doc_id") == F.col("keep_id")).select("doc_id"),
                "doc_id", "left_semi",
            ),
            "after_exact_dedup",
        )

    # 3. near-dup closure — keep one doc per connected near-dup cluster
    with job_group(spark, "curation:near_dup"):
        nd = near_dup_clusters(d, method=cfg.near_dup_method, **cfg.near_dup_kwargs)
        d = _stage(
            d.join(
                nd.where(F.col("doc_id") == F.col("keep_id")).select("doc_id"),
                "doc_id", "left_semi",
            ),
            "after_near_dup",
        )

    # 4. decontamination — drop anything sharing winnowed fingerprints
    # with the eval set
    if eval_docs is not None:
        with job_group(spark, "curation:decontaminate"):
            dec = decontaminate(d, eval_docs)
            d = _stage(
                d.join(
                    dec.where(~F.col("contaminated")).select("doc_id"),
                    "doc_id", "left_semi",
                ),
                "after_decontaminate",
            )

    # 5. PII redaction — map-only text rewrite, row count unchanged
    if cfg.redact:
        d = d.withColumn("text", redact_text(F.col("text")))

    # 6. deterministic split — decontamination-stable across reruns
    out = split_train_holdout(
        d, holdout_frac=cfg.holdout_frac, salt=cfg.split_salt
    )
    with job_group(spark, "curation:split"):
        funnel["holdout"] = out.where(F.col("split") == "holdout").count()
    funnel["train"] = funnel[
        "after_decontaminate" if eval_docs is not None else "after_near_dup"
    ] - funnel["holdout"]
    return out, funnel
