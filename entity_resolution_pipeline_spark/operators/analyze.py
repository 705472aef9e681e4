"""Misclassification analysis — FP/FN pairs joined back to evidence.

Spark-first analogue of the reference's error-inspection tooling
(/root/reference/misclass.py:1-127, /root/reference/src/analyze_pairs.py:15):
for every labeled pair the classifier got wrong, return both sides' record
fields, the feature vector, the confidence, and the prefilter decision —
the rows a user actually reads when debugging the F1 gate.

Everything is DataFrame joins against already-materialized tables (scored
pairs, records); the error set is by construction tiny relative to the
corpus, so the joins broadcast/AQE themselves at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

from . import pairs as P  # noqa: N812


def misclassified_pairs(
    scored: DataFrame,
    labeled: DataFrame,
    records: DataFrame,
    threshold: float = 0.90,
) -> DataFrame:
    """Labeled pairs where the classifier disagrees with the label.

    Parameters
    ----------
    scored  : (url1, url2, confidence, prefilter) — classifier output.
    labeled : (url1, url2, label) — canonical orientation, label in {0,1}.
    records : preprocessed records table (for both sides' fields).
    threshold : decision threshold (confidence >= threshold -> predict 1).

    Returns one row per error with:
    ``url1, url2, label, pred, error_type, confidence, prefilter,
    <field>1/<field>2 for every record field, features (array<double>)``.
    Feature order is ``pairs.FEATURE_NAMES``.

    Labeled pairs the blocking stage never produced (no scored row) are
    NOT dropped: a labeled positive with no candidate pair is the
    system's worst false negative, and hiding it would make blocking
    recall gaps invisible to exactly the tool meant to find them. Such
    rows predict 0 (NULL confidence) and carry ``error_type =
    'FN_UNBLOCKED'``, distinguishing blocking misses from classifier-
    threshold misses ('FN'). One step further upstream: a labeled pair
    whose url is absent from the records table entirely (the page was
    filtered during preprocess) has no evidence row either — those are
    kept too, with NULL fields/features and ``error_type =
    'FN_UNRECORDED'`` (evidence joins are LEFT joins onto the error set,
    never inner).
    """
    s = scored.select(
        "url1", "url2", "confidence", F.col("prefilter").alias("prefilter_s")
    )
    joined = labeled.join(s, ["url1", "url2"], "left").withColumn(
        "pred",
        F.coalesce(
            (F.col("confidence") >= F.lit(float(threshold))).cast("int"), F.lit(0)
        ),
    )
    errors = joined.where(F.col("pred") != F.col("label")).withColumn(
        "error_type",
        F.when(F.col("pred") == 1, "FP")
        .when(F.col("confidence").isNull(), "FN_UNBLOCKED")
        .otherwise("FN"),
    )

    field_cols = [f + s for f in P.FIELDS for s in ("1", "2")]
    evidence = P.featurize(
        P.with_pair_key(P.attach_pair_fields(errors.select("url1", "url2"), records)),
        passthrough=("url1", "url2", *field_cols),
    ).drop("prefilter")
    # LEFT join: an error row must survive even when one side's record was
    # filtered out during preprocess (no evidence row exists at all) — that
    # is exactly the failure this tool exists to surface.
    return (
        errors.join(evidence, ["url1", "url2"], "left")
        .withColumn(
            "error_type",
            F.when(
                F.col("pair_key").isNull() & (F.col("label") == 1),
                "FN_UNRECORDED",
            ).otherwise(F.col("error_type")),
        )
        .select(
            "url1", "url2", "label", "pred", "error_type",
            "confidence", F.col("prefilter_s").alias("prefilter"),
            *field_cols, "features",
        )
        .orderBy("error_type", "url1", "url2")
    )


def error_summary(errors: DataFrame) -> dict:
    """Counts + per-feature means by error type (driver-side, error set is
    small by construction)."""
    rows = (
        errors.groupBy("error_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("confidence").alias("mean_confidence"),
            F.array(*[
                F.avg(F.col("features")[i]) for i in range(len(P.FEATURE_NAMES))
            ]).alias("mean_features"),
        )
        .collect()
    )
    out: dict = {}
    for r in rows:
        out[r["error_type"]] = {
            "n": int(r["n"]),
            # FN_UNBLOCKED rows have no confidence at all -> None group mean
            "mean_confidence": (
                float(r["mean_confidence"])
                if r["mean_confidence"] is not None else None
            ),
            "mean_features": dict(
                zip(P.FEATURE_NAMES, [float(x) for x in r["mean_features"]])
            ),
        }
    return out
