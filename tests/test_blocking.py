"""Blocking-stage tests: key families, null dropping, skew strategies."""

import pyspark.sql.functions as F

from entity_resolution_pipeline_spark.operators.blocking import (
    all_blocking_keys,
    block_sizes,
    candidate_pairs,
    host_keys,
    name_and_lsh_keys,
    name_keys,
)
from entity_resolution_pipeline_spark.operators.preprocess import preprocess_records
from entity_resolution_pipeline_spark.sources.webpages import web_pages_df


def _keys_df(spark, rows):
    return spark.createDataFrame(rows, "url string, key string")


def test_name_keys_strip_years_and_nulls(spark):
    wp = spark.createDataFrame(
        [
            ("u1", "Name: Smith, John, 1840-1902; Title: t;"),
            ("u2", "Name: Smith,   JOHN; Title: t;"),
            ("u3", "Title: nameless;"),
        ],
        "url string, text string",
    ).select(
        "url", F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"), "text", F.lit("en").alias("lang"),
    )
    rec = preprocess_records(wp)
    keys = {r["url"]: r["key"] for r in name_keys(rec).collect()}
    # year-stripped + lowercased: u1 and u2 share the name key
    assert keys["u1"] == keys["u2"] == "name|smith, john"
    assert "u3" not in keys  # null person dropped


def test_host_keys(spark):
    wp = spark.createDataFrame(
        [("https://ex.org/a", "Name: Smith, John; Title: t;")],
        "url string, text string",
    ).select(
        "url", F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"), "text", F.lit("en").alias("lang"),
    )
    rec = preprocess_records(wp)
    keys = [r["key"] for r in host_keys(rec).collect()]
    assert keys == ["host|ex.org|smith"]


def test_host_keys_pathless_url(spark):
    """Path-less URLs (https://host.com, no trailing /) must still get a key."""
    wp = spark.createDataFrame(
        [("https://ex.org", "Name: Smith, John; Title: t;"),
         ("http://other.net/x/y", "Name: Smith, Jane; Title: t;")],
        "url string, text string",
    ).select(
        "url", F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"), "text", F.lit("en").alias("lang"),
    )
    rec = preprocess_records(wp)
    keys = {r["url"]: r["key"] for r in host_keys(rec).collect()}
    assert keys["https://ex.org"] == "host|ex.org|smith"
    assert keys["http://other.net/x/y"] == "host|other.net|smith"


def test_lsh_keys_same_composite_same_bands(spark):
    wp = spark.createDataFrame(
        [
            ("u1", "Name: Smith, John; Title: one two three four five six;"),
            ("u2", "Name: Smith, John; Title: one two three four five six;"),
        ],
        "url string, text string",
    ).select(
        "url", F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("binary").alias("html"), "text", F.lit("en").alias("lang"),
    )
    rec = preprocess_records(wp)
    rows = [r for r in name_and_lsh_keys(rec, num_perm=32, bands=8).collect()
            if r["key"].startswith("lsh|")]
    k1 = {r["key"] for r in rows if r["url"] == "u1"}
    k2 = {r["key"] for r in rows if r["url"] == "u2"}
    assert k1 == k2 and len(k1) == 8


def test_candidate_pairs_window_cap(spark):
    rows = [(f"u{i:02d}", "hot") for i in range(10)] + [("a", "cold"), ("b", "cold")]
    keys = _keys_df(spark, rows)
    pairs, oversized = candidate_pairs(
        keys, max_block_size=5, neighbor_cap=2
    )
    got = {(r["url1"], r["url2"]) for r in pairs.collect()}
    assert ("a", "b") in got
    # each hot row pairs with its next <=2 sorted neighbors: bounded O(B*K)
    hot_pairs = {p for p in got if p != ("a", "b")}
    assert ("u00", "u01") in hot_pairs and ("u00", "u02") in hot_pairs
    assert ("u00", "u03") not in hot_pairs
    assert len(hot_pairs) == 2 * 10 - 3  # B*K - K*(K+1)/2 = 20 - 3
    over = oversized.collect()
    assert len(over) == 1 and over[0]["key"] == "hot" and over[0]["block_size"] == 10


def test_window_cap_salts_mega_blocks(spark):
    """A mega hot block (20x cap) keeps the exact neighbor cap over the
    whole sorted block: each row pairs with its next neighbor_cap rows, so
    pairs are bounded by B*K and per-node fanout by 2*K."""
    rows = [(f"u{i:03d}", "mega") for i in range(100)]
    keys = _keys_df(spark, rows)
    pairs, oversized = candidate_pairs(
        keys, max_block_size=5, neighbor_cap=2
    )
    got = [(r["url1"], r["url2"]) for r in pairs.collect()]
    assert oversized.collect()[0]["block_size"] == 100
    assert set(got) == {
        (f"u{i:03d}", f"u{j:03d}") for i in range(100) for j in range(i + 1, min(i + 3, 100))
    }
    # bounded: at most B*K pairs, and each node pairs with <= 2*K others
    assert 0 < len(got) <= 100 * 2
    from collections import Counter

    fanout = Counter()
    for a, b in got:
        fanout[a] += 1
        fanout[b] += 1
    assert max(fanout.values()) <= 4  # <= neighbor_cap forward + backward
    # deterministic across runs
    got2 = [(r["url1"], r["url2"]) for r in candidate_pairs(
        keys, max_block_size=5, neighbor_cap=2
    )[0].collect()]
    assert sorted(got) == sorted(got2)


def test_hot_block_duplicate_url_no_self_pair(spark):
    """A url listed twice in a hot block (a page crawled twice) never pairs
    with itself; its other neighbors are kept."""
    rows = [("u1", "hot")] + [(f"u{i}", "hot") for i in range(1, 8)]
    rows += [("a", "cold"), ("b", "cold")]
    pairs, oversized = candidate_pairs(
        _keys_df(spark, rows), max_block_size=4, neighbor_cap=2
    )
    got = {(r["url1"], r["url2"]) for r in pairs.collect()}
    assert ("u1", "u1") not in got
    # sorted block u1 u1 u2 .. u7, each row's next 2 rows
    assert got == {
        ("a", "b"), ("u1", "u2"), ("u1", "u3"), ("u2", "u3"), ("u2", "u4"),
        ("u3", "u4"), ("u3", "u5"), ("u4", "u5"), ("u4", "u6"), ("u5", "u6"),
        ("u5", "u7"), ("u6", "u7"),
    }
    assert [tuple(r) for r in oversized.collect()] == [("hot", 8)]


def test_candidate_pairs_no_forced_broadcast(spark):
    """The oversized-key set is unbounded on a 100 TB corpus: the plan must
    not hint-broadcast it (round-2 did — driver-OOM risk). With auto
    broadcast disabled, no BroadcastExchange may appear anywhere: the hint
    was the only thing that could put one there."""
    rows = [(f"u{i:03d}", "hot") for i in range(50)] + [("a", "c1"), ("b", "c1")]
    keys = _keys_df(spark, rows)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pairs, oversized = candidate_pairs(keys, max_block_size=5)
        analyzed = pairs._jdf.queryExecution().analyzed().toString()
        assert "broadcast" not in analyzed.lower()  # no hint in the logical plan
        physical = pairs._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in physical
        # behavior unchanged: oversized still logged, cold pair still found
        assert oversized.collect()[0]["block_size"] == 50
        assert ("a", "b") in {(r["url1"], r["url2"]) for r in pairs.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_candidate_pairs_write_jobs(spark, tmp_warehouse):
    """Writing the pairs stage's two tables from a stored keys table runs
    at most five Spark jobs: the window's and the distinct's shuffle map
    stages and the pairs write, the aggregate's shuffle map stage and the
    oversized write."""
    src = tmp_warehouse + "/keys"
    all_blocking_keys(preprocess_records(web_pages_df(spark, 40))).write.parquet(src)
    keys = spark.read.parquet(src)
    sc = spark.sparkContext
    group = "pairs-write"
    sc.setJobGroup(group, "candidate_pairs + oversized_blocks write")
    try:
        pairs, oversized = candidate_pairs(keys, max_block_size=4)
        pairs.write.parquet(tmp_warehouse + "/pairs")
        oversized.write.parquet(tmp_warehouse + "/oversized")
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert 1 <= len(jobs) <= 5, jobs
    assert spark.read.parquet(tmp_warehouse + "/oversized").count() > 0


def test_dedup_orientation(spark):
    keys = _keys_df(spark, [("b", "k"), ("a", "k"), ("a", "k2"), ("b", "k2")])
    pairs, _ = candidate_pairs(keys, max_block_size=10)
    got = [(r["url1"], r["url2"]) for r in pairs.collect()]
    assert got == [("a", "b")]  # two shared keys -> one canonical distinct pair


def test_block_sizes_and_key_union(spark):
    wp = web_pages_df(spark, 30)
    rec = preprocess_records(wp)
    keys = all_blocking_keys(rec, num_perm=16, bands=4)
    fams = {r["fam"] for r in keys.select(F.split("key", r"\|")[0].alias("fam")).distinct().collect()}
    assert fams == {"name", "host", "lsh"}
    assert block_sizes(keys).where(F.col("block_size") < 1).count() == 0


def test_fused_kernel_matches_separate_key_families(spark):
    """name_and_lsh_keys (one Arrow pass) emits exactly the ``name_keys``
    rows, and its LSH buckets are the band slices of the curation sketch:
    two urls share an ``lsh|`` key iff their ``minhash_signatures`` of the
    composite agree on that band."""
    from collections import Counter, defaultdict

    from entity_resolution_pipeline_spark.operators.dedup import minhash_signatures

    rec = preprocess_records(web_pages_df(spark, 40))
    num_perm, bands = 16, 4
    rows = name_and_lsh_keys(rec, num_perm=num_perm, bands=bands).collect()
    fused_names = Counter((r["url"], r["key"]) for r in rows if r["key"].startswith("name|"))
    separate = Counter((r["url"], r["key"]) for r in name_keys(rec).collect())
    assert fused_names == separate and len(separate) > 0

    lsh = defaultdict(set)  # (band index, key) -> urls
    for r in rows:
        if r["key"].startswith("lsh|"):
            band = (int(r["key"][4:]) + (1 << 63)) >> 32
            lsh[(band, r["key"])].add(r["url"])
    sigs = minhash_signatures(
        rec.select(F.col("url").alias("doc_id"), "composite"),
        text_col="composite", num_perm=num_perm,
    ).collect()
    rpb = num_perm // bands
    slices = defaultdict(set)  # (band index, band components) -> urls
    for r in sigs:
        for b in range(bands):
            slices[(b, tuple(r["sig"][b * rpb:(b + 1) * rpb]))].add(r["doc_id"])
    assert len(lsh) > 0
    assert Counter((b, frozenset(u)) for (b, _), u in lsh.items()) == Counter(
        (b, frozenset(u)) for (b, _), u in slices.items()
    )


def test_skew_report_flags_hot_key(spark):
    """skew_report: exact counts, hottest keys first, skew_ratio >> 1 on a
    deliberately hot key and == 1.0 on perfectly even keys."""
    from entity_resolution_pipeline_spark.operators.util import skew_report

    rows = [("hot",)] * 90 + [(f"k{i}",) for i in range(10)]
    df = spark.createDataFrame(rows, "key string")
    rep = skew_report(df, ["key"], top_n=3)
    assert rep["n_rows"] == 100 and rep["n_keys"] == 11
    assert rep["top"][0] == ("hot", 90)
    assert rep["max"] == 90 and abs(rep["top1_frac"] - 0.9) < 1e-9
    assert rep["skew_ratio"] > 9
    even = skew_report(
        spark.createDataFrame([(f"k{i}",) for i in range(16)], "key string"),
        ["key"],
    )
    assert even["skew_ratio"] == 1.0 and even["max"] == 1
