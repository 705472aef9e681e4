"""Preprocess-stage tests incl. the byte-identical-text invariant."""

import os
import subprocess
import sys

import pyspark.sql.functions as F

from entity_resolution_pipeline_spark.functions.hashing import hash_string
from entity_resolution_pipeline_spark.operators.preprocess import (
    field_hash_mapping,
    field_stats,
    null_hash_heuristic,
    preprocess_records,
    string_counts,
    strings_long,
    unique_strings,
)
from entity_resolution_pipeline_spark.sources.webpages import (
    generate_pages_pdf,
    web_pages_df,
)


def test_normalization_invariant_byte_identical(spark):
    """normalize(raw text) must byte-equal the generator's clean text per url."""
    truth = generate_pages_pdf(60, with_truth=True)
    wp = web_pages_df(spark, 60)
    rec = preprocess_records(wp).select("url", "norm_text").collect()
    expected = dict(zip(truth["url"], truth["clean_text"]))
    assert len(rec) == len(expected)
    for r in rec:
        assert r["norm_text"] == expected[r["url"]], r["url"]


def test_field_derivation_and_nulls(spark):
    wp = spark.createDataFrame(
        [
            ("u1", "Name: Smith, John; Title: essays of law; filler here"),
            ("u2", "Title: no name page;"),
            ("u3", "Name:  ; Title: blank name;"),
        ],
        "url string, text string",
    ).select(
        "url",
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        "text",
        F.lit("en").alias("lang"),
    )
    rows = {r["url"]: r for r in preprocess_records(wp).collect()}
    assert rows["u1"]["person"] == "Smith, John"
    assert rows["u1"]["title"] == "essays of law"
    assert rows["u1"]["provision"] is None
    assert rows["u1"]["composite"] == "Smith, John essays of law"
    assert rows["u2"]["person"] is None
    assert rows["u3"]["person"] is None  # '' -> NULL (reference :320-322)
    # hash matches the reference key derivation exactly
    assert rows["u1"]["person_h"] == hash_string("Smith, John")


def test_dedup_dimensions(spark):
    wp = spark.createDataFrame(
        [
            ("u1", "Name: A B; Title: T one;"),
            ("u2", "Name: a  b; Title: T one;"),  # same hash as 'A B' (case/ws)
            ("u3", "Name: C; Title: T two;"),
        ],
        "url string, text string",
    ).select(
        "url",
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        "text",
        F.lit("en").alias("lang"),
    )
    rec = preprocess_records(wp)
    fhm = field_hash_mapping(strings_long(rec))
    us = {r["hash"]: r["value"] for r in unique_strings(fhm).collect()}
    sc = {r["hash"]: r["cnt"] for r in string_counts(fhm).collect()}
    h_ab = hash_string("A B")
    assert h_ab == hash_string("a  b")
    assert sc[h_ab] == 2
    assert us[h_ab] in ("A B", "a b")  # deterministic min
    person_ab = fhm.where((F.col("hash") == h_ab) & (F.col("field") == "person")).collect()
    assert len(person_ab) == 1
    assert person_ab[0]["cnt"] == 2
    assert person_ab[0]["value"] in ("A B", "a b")
    fs = {r["field"]: r for r in field_stats(fhm).collect()}
    assert fs["person"]["total_occurrences"] == 3
    assert fs["person"]["distinct_values"] == 2
    assert fs["title"]["distinct_values"] == 2


def test_html_column_pruned_from_scan(spark, tmp_warehouse):
    """Scoring path must never read the html binary column (SURVEY §4):
    the parquet ReadSchema of the preprocess plan excludes html."""
    web_pages_df(spark, 10).write.mode("overwrite").parquet(tmp_warehouse + "/wp")
    wp = spark.read.parquet(tmp_warehouse + "/wp")
    plan = preprocess_records(wp)._jdf.queryExecution().executedPlan().toString()
    read_schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schemas, plan
    for ln in read_schemas:
        assert "html" not in ln, ln
    assert "text" in plan


def _pages(spark, texts):
    return spark.createDataFrame(
        [(f"u{i}", t) for i, t in enumerate(texts)], "url string, text string"
    ).select(
        "url",
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"),
        "text",
        F.lit("en").alias("lang"),
    )


def test_null_hash_heuristic(spark):
    """A6 keeps the (field, hash) rows covering MORE than threshold x
    records: at threshold 0.2 over 10 records, person X (3 records) and
    provision 1900 (5) are kept and person Y (exactly 2) is not. The result
    equals a direct groupBy over the long form."""
    texts = (
        [f"Name: X; Title: t{i}; Published: 1900;" for i in range(3)]
        + [f"Name: Y; Title: t{i}; Published: 1900;" for i in range(3, 5)]
        + [f"Title: t{i};" for i in range(5, 10)]
    )
    rec = preprocess_records(_pages(spark, texts))
    got = null_hash_heuristic(rec, threshold=0.2)
    assert got.columns == ["field", "hash", "cnt"]
    assert {tuple(r) for r in got.collect()} == {
        ("person", hash_string("X"), 3),
        ("provision", hash_string("1900"), 5),
    }
    want = (
        strings_long(rec).groupBy("field", "hash")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") > 0.2 * 10)
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_field_hash_mapping_write_jobs(spark, tmp_warehouse):
    """Writing the dims stage's one table from stored records runs at most
    two Spark jobs (the aggregation's shuffle map stage and the write)."""
    src = tmp_warehouse + "/records"
    preprocess_records(web_pages_df(spark, 40)).write.parquet(src)
    rec = spark.read.parquet(src)
    sc = spark.sparkContext
    group = "fhm-write"
    sc.setJobGroup(group, "field_hash_mapping write")
    try:
        field_hash_mapping(strings_long(rec)).write.parquet(tmp_warehouse + "/fhm")
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert 1 <= len(jobs) <= 2, jobs
    assert spark.read.parquet(tmp_warehouse + "/fhm").columns == ["hash", "field", "cnt", "value"]


def test_labeled_pairs_beyond_the_corpus_raise():
    """Asking a 20-entity corpus for 2,000 labeled pairs (700 positives, of
    about 200 it holds) raises a ValueError naming ``n_pairs`` at once; the
    draws used to loop forever. Run in a subprocess so a hang times out."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = ("from entity_resolution_pipeline_spark.sources.webpages import labeled_pairs_pdf\n"
            "labeled_pairs_pdf(20, 2000)")
    proc = subprocess.run([sys.executable, "-c", code], cwd=repo, capture_output=True,
                          text=True, timeout=60)
    assert proc.returncode != 0
    assert "ValueError: labeled_pairs_pdf: n_pairs=2000 needs 700 positive" in proc.stderr
