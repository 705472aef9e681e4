"""Physical-plan shape assertions (.explain audits as regression tests).

The north_rule grades 100 TB plan quality, not just values: filters must
reach the parquet scan, small dims must broadcast, scalar pipelines must be
whole-stage-codegen'd, and shuffle keys must be the 8-byte hashes — these
tests pin each property so a refactor can't silently regress the plan.
"""

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.01"


def _plan(df, mode="formatted") -> str:
    jvm = df.sparkSession.sparkContext._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def test_filter_and_projection_pushdown(spark):
    d = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .where(F.col("doc_id") < 10)
        .select("doc_id", "lang")
    )
    plan = _plan(d)
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,10)]" in plan
    # column pruning: the scan must read only the two projected columns
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "doc_id" in read_schema and "lang" in read_schema
    assert "text" not in read_schema, "scan reads pruned column"


def test_dim_join_broadcasts(spark):
    import __spark_entry__ as em

    plan = _plan(em.queries()["w3_largest_groups"](spark, SF))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_scalar_pipeline_whole_stage_codegen(spark):
    import __spark_entry__ as em

    plan = _plan(em.queries()["f6_interactions"](spark, SF))
    # formatted mode marks whole-stage-codegen operators with a codegen id
    assert "[codegen id :" in plan


def test_blocking_selfjoin_uses_hashed_key(spark):
    """Candidate-pair generation must shuffle on xxhash64(key), not the
    long key string (8-byte shuffle keys)."""
    from entity_resolution_pipeline_spark.operators.blocking import candidate_pairs

    keys = spark.createDataFrame([("u1", "k1"), ("u2", "k1")], "url string, key string")
    pairs, _ = candidate_pairs(keys, max_block_size=10)
    assert "xxhash64" in _plan(pairs)


def test_exact_dedup_shuffles_hash_not_text(spark):
    from entity_resolution_pipeline_spark.operators.dedup import exact_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(exact_dedup(docs))
    # round 3: the shuffle key is the FULL 128-bit md5 (16-byte binary),
    # not a 64-bit hash whose birthday collisions would merge distinct
    # docs at trillion-doc scale — and never the document text itself
    assert "unhex(md5(" in plan
    # the aggregate's exchange partitions on tkey (the 16-byte hash)
    assert "hashpartitioning(tkey" in plan


def test_score_arrow_is_single_pass_no_shuffle(spark):
    """Scoring must add NO exchange beyond its input:
    one ArrowEvalPython/mapInPandas over the pair rows."""
    import json

    from entity_resolution_pipeline_spark.operators import pairs as P
    from entity_resolution_pipeline_spark.operators.classify import LRModel
    import numpy as np

    model = LRModel(
        weights=np.zeros(18), intercept=0.0, means=np.zeros(18),
        stds=np.ones(18), feature_names=list(P.FEATURE_NAMES),
    ).to_dict()
    rows = [tuple(["pk"] + ["s"] * 10 + [False] * 5 + [0.5, False])]
    schema = ("pair_key string, " + ", ".join(
        c + (" double" if c == "person_lev" else
             " boolean" if c.endswith(("_eq", "pf_false")) else " string")
        for c in P.PAIR_SIDE_COLS))
    df = spark.createDataFrame(rows, schema)
    plan = _plan(P.score(df, model), mode="simple")
    assert "Exchange" not in plan, plan
    assert "MapInPandas" in plan or "mapInPandas" in plan.lower()


def test_fused_blocking_keys_single_python_stage(spark):
    """all_blocking_keys must run exactly ONE Python (Arrow) evaluation for
    the name+LSH families — the fused kernel — with host keys staying
    JVM-side; a refactor that splits them back into two kernel passes
    doubles the record serialization at 100 TB."""
    from entity_resolution_pipeline_spark.operators.blocking import (
        all_blocking_keys,
    )

    records = spark.createDataFrame(
        [(f"http://h{i}.com/p", f"Smith, John {i}", f"john smith {i} text")
         for i in range(20)],
        "url string, person string, composite string",
    )
    plan = _plan(all_blocking_keys(records), mode="simple")
    n_python = plan.count("MapInPandas")
    assert n_python == 1, plan


def test_candidate_pairs_one_window_no_join(spark):
    """Candidate pairs are one window per block: no join, no cached
    relation, exactly one Window, and its shuffle is on xxhash64(key)."""
    import re

    from entity_resolution_pipeline_spark.operators.blocking import (
        candidate_pairs,
    )

    keys = spark.createDataFrame(
        [(f"u{i}", "k1") for i in range(5)] + [(f"u{i}", f"s{i}") for i in range(5)],
        "url string, key string",
    )
    pairs, _ = candidate_pairs(keys, max_block_size=64)
    plan = _plan(pairs, mode="simple")
    assert "Join" not in plan, plan
    assert "InMemoryTableScan" not in plan, plan
    assert len(re.findall(r"\bWindow \[", plan)) == 1, plan
    kh = re.search(r"Exchange hashpartitioning\((kh#\d+L)", plan)
    assert kh and re.search(rf"xxhash64\(key#\d+, 42\) AS {kh.group(1)}\b", plan), plan


def test_bucketed_tables_join_without_shuffle(spark, tmp_path_factory):
    """Two tables written with the SAME bucketing (catalog
    write_bucketed_table) must join on the bucket column with ZERO
    Exchange in the plan — the co-located join the north rule's bucketed
    tables exist for. A plain parquet re-read of the same files (bucket
    metadata lost) shuffles BOTH sides: that contrast is the proof the
    bucket layout, not the data size, removed the shuffle."""
    from entity_resolution_pipeline_spark.sources.catalog import Catalog

    wh = str(tmp_path_factory.mktemp("bucketed_wh"))
    cat = Catalog(spark, wh)
    pairs = spark.range(0, 2000).selectExpr(
        "concat('pk', id) AS pair_key", "concat('u', id) AS url1",
        "concat('u', id + 1) AS url2")
    scored = spark.range(0, 2000).selectExpr(
        "concat('pk', id) AS pair_key", "rand(42) AS confidence")
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # the test tables are tiny; disable auto-broadcast so the planner
        # actually exercises the bucketed SortMergeJoin path (at real
        # scale neither side broadcasts)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        cat.write_bucketed_table(pairs, "bt_pairs", 8, "pair_key",
                                 sort_cols=["pair_key"])
        cat.write_bucketed_table(scored, "bt_scored", 8, "pair_key",
                                 sort_cols=["pair_key"])
        joined = cat.read_table("bt_pairs").join(
            cat.read_table("bt_scored"), "pair_key")
        plan = _plan(joined, mode="simple")
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
        assert joined.count() == 2000

        # contrast: identical files read WITHOUT bucket metadata -> both
        # sides shuffle
        raw = spark.read.parquet(f"{wh}/bt_pairs").join(
            spark.read.parquet(f"{wh}/bt_scored"), "pair_key")
        assert "Exchange" in _plan(raw, mode="simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS bt_pairs")
        spark.sql("DROP TABLE IF EXISTS bt_scored")


def test_ensure_parallelism_runs_no_job_without_exchange(spark, tmp_path):
    """Reading the partition count of a parquet scan or a checkpoint runs
    no Spark job; under AQE a plan with an exchange runs its shuffle."""
    from entity_resolution_pipeline_spark.operators.util import ensure_parallelism

    sc = spark.sparkContext
    path = str(tmp_path / "t")
    spark.range(100).write.parquet(path)
    inputs = {  # built outside the job groups: the scan infers its schema
        "scan": spark.read.parquet(path),
        "checkpoint": spark.range(100).repartition(3).localCheckpoint(eager=True),
        "exchange": spark.range(100).repartition(3),
    }
    jobs = {}
    for name, df in inputs.items():
        group = f"ensure-parallelism-{name}"
        sc.setJobGroup(group, "ensure_parallelism job count")
        try:
            ensure_parallelism(df)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
    assert jobs["scan"] == 0 and jobs["checkpoint"] == 0, jobs
    assert jobs["exchange"] > 0, jobs
