"""Stage 1 — preprocess: normalize text, derive record fields, hash keys,
build dedup dimensions.

Re-expresses the reference's batch preprocessing
(/root/reference/src/batch_preprocessing.py:284-644) as one Arrow pass plus
JVM-side aggregations:

- ``normalize_text`` (strip + ``\\s+``->' ', Python ``re``) carries the
  byte-identical-extracted-text invariant. It runs inside the one Arrow pass
  because field parsing and the mmh3 field hashes share that pass over the
  same text, not because the JVM would normalize differently
  (``functions.text.normalize_col`` is its column twin).
- record fields (person/title/provision/subjects) are parsed from labeled
  text segments; ``composite`` is the space-joined concat of present fields
  (the reference receives these as CSV columns; the graft derives them from
  the page text deterministically per FIXTURES.md §1).
- field hashes use the reference's exact key derivation
  (mmh3.hash128 seed=42 decimal string; 'NULL' sentinel becomes a real SQL
  NULL). Hashing is memoized per Arrow batch — values repeat heavily, so
  Python cost is ~distinct-values-per-batch, not rows.
- dedup dimensions: ``field_hash_mapping`` (A3) is one shuffle to one row
  per (hash, field) with its count and string — Spark's partial/final hash
  aggregation replaces the reference's 70-line batch-merge dance — and
  ``unique_strings`` (A1), ``string_counts`` (A2) and ``field_stats`` (A4)
  are reductions of that table.

The html BINARY column is never selected here: scoring stages must show a
pruned ReadSchema (SURVEY.md §4).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812
from pyspark.sql.types import StringType, StructField, StructType, TimestampType

from .util import ensure_parallelism
from ..functions.hashing import hash_string
from ..functions.text import normalize_text

FIELDS = ["composite", "person", "title", "provision", "subjects"]
# the web_pages columns a record is derived from
PAGE_COLUMNS = ("url", "warc_ts", "lang", "text")

_SEG_RES = {
    "person": re.compile(r"Name:\s*([^;]*);"),
    "title": re.compile(r"Title:\s*([^;]*);"),
    "provision": re.compile(r"Published:\s*([^;]*);"),
    "subjects": re.compile(r"Subjects:\s*([^;]*);"),
}

RECORD_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("lang", StringType()),
        StructField("norm_text", StringType()),
    ]
    + [StructField(f, StringType()) for f in FIELDS]
    + [StructField(f + "_h", StringType()) for f in FIELDS]
)


def _derive_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    memo: dict[str, str] = {}

    def memo_hash(v: str | None) -> str | None:
        if v is None:
            return None
        h = memo.get(v)
        if h is None:
            h = hash_string(v)
            memo[v] = h
        return h

    out = {
        "url": pdf["url"],
        "warc_ts": pdf["warc_ts"],
        "lang": pdf["lang"],
    }
    norm = [normalize_text(t) for t in pdf["text"]]
    out["norm_text"] = norm

    fields: dict[str, list] = {f: [] for f in FIELDS}
    for t in norm:
        present = []
        for f in ("person", "title", "provision", "subjects"):
            m = _SEG_RES[f].search(t)
            v = normalize_text(m.group(1)) if m else None
            v = v or None  # '' -> NULL (reference :320-322)
            fields[f].append(v)
            if v is not None:
                present.append(v)
        fields["composite"].append(" ".join(present) if present else None)
    for f in FIELDS:
        out[f] = fields[f]
        out[f + "_h"] = [memo_hash(v) for v in fields[f]]
    return pd.DataFrame(out)


def preprocess_records(web_pages: DataFrame) -> DataFrame:
    """web_pages -> records (one Arrow pass; html column pruned away)."""
    return derive_records(ensure_parallelism(web_pages.select(*PAGE_COLUMNS)))


def derive_records(pages: DataFrame) -> DataFrame:
    """The Arrow pass of ``preprocess_records`` over ``PAGE_COLUMNS`` rows,
    partitioned as given. A caller that adds to the plan after
    ``ensure_parallelism`` calls this: a second ``ensure_parallelism``
    would ask a repartitioned plan for its partition count, which AQE
    answers by running the shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _derive_batch(pdf)

    return pages.mapInPandas(run, schema=RECORD_SCHEMA)


def strings_long(records: DataFrame) -> DataFrame:
    """Long-form (url, field, value, hash) of present fields — JVM explode."""
    pairs = F.array(
        *[
            F.struct(
                F.lit(f).alias("field"),
                F.col(f).alias("value"),
                F.col(f + "_h").alias("hash"),
            )
            for f in FIELDS
        ]
    )
    return (
        records.select("url", F.explode(pairs).alias("fv"))
        .select("url", "fv.field", "fv.value", "fv.hash")
        .where(F.col("value").isNotNull())
    )


def field_hash_mapping(long_df: DataFrame) -> DataFrame:
    """A3: (hash, field) -> count and string (the min, for determinism:
    values sharing a key are equal post-normalization up to case/ws). The
    dims stage's one table, hash never null; A1, A2 and A4 reduce it."""
    return long_df.groupBy("hash", "field").agg(
        F.count(F.lit(1)).alias("cnt"), F.min("value").alias("value")
    )


def unique_strings(fhm: DataFrame) -> DataFrame:
    """A1: hash -> one normalized string, from ``field_hash_mapping``."""
    return fhm.groupBy("hash").agg(F.min("value").alias("value"))


def string_counts(fhm: DataFrame) -> DataFrame:
    """A2: hash -> occurrence count, from ``field_hash_mapping``."""
    return fhm.groupBy("hash").agg(F.sum("cnt").alias("cnt"))


def field_stats(fhm: DataFrame) -> DataFrame:
    """A4: per-field totals + distinct values, from ``field_hash_mapping``."""
    return fhm.groupBy("field").agg(
        F.sum("cnt").alias("total_occurrences"),
        F.count(F.lit(1)).alias("distinct_values"),
    )


def null_hash_heuristic(records: DataFrame, threshold: float = 0.15) -> DataFrame:
    """A6: per-field hashes covering > threshold of records
    (/root/reference/src/imputation.py:468-493) — candidate NULL sentinels."""
    total = records.count()
    return (
        field_hash_mapping(strings_long(records))
        .where(F.col("cnt") > threshold * total)
        .select("field", "hash", "cnt")
    )
