"""Golden end-to-end + resume tests (SURVEY.md §5.2-5.4).

The F1 >= 0.99 acceptance gate (BASELINE.json north_rule) runs on the
deterministic synthetic corpus at matched blocking keys.
"""

import json

import pyspark.sql.functions as F
import pytest
from conftest import N_ENT

from entity_resolution_pipeline_spark.operators.preprocess import PAGE_COLUMNS
from entity_resolution_pipeline_spark.plans.pipeline import (
    STAGE_TABLES,
    STAGES,
    ERConfig,
    ERPipeline,
    normalize_labeled_pairs,
)
from entity_resolution_pipeline_spark.sources.catalog import Catalog, Manifest
from entity_resolution_pipeline_spark.sources.webpages import (
    labeled_pairs_pdf,
    web_pages_df,
)


def test_f1_gate(pipeline_run):
    _, result, *_ = pipeline_run
    ev = result["evaluation"]
    assert ev["blocked_pairs"]["f1"] >= 0.99, ev
    assert ev["blocked_pairs"]["precision"] >= 0.99, ev


def test_cluster_outputs(pipeline_run):
    pipe, result, *_ = pipeline_run
    clusters = pipe.catalog.read("clusters")
    n_pages = result["n_pages"]
    assert clusters.count() == n_pages  # every page assigned exactly once
    assert clusters.select("entity_id").distinct().count() == n_pages
    # ~200 entities -> between 180 and 260 clusters (nameless singletons add)
    assert 150 <= result["n_clusters"] <= n_pages


def test_n_clusters_equals_distinct_cluster_ids(pipeline_run):
    """n_clusters counts the members whose entity_id is their cluster_id;
    that equals the number of distinct cluster ids."""
    pipe, result, *_ = pipeline_run
    clusters = pipe.catalog.read("clusters")
    assert result["n_clusters"] == clusters.select("cluster_id").distinct().count()


def test_observed_dup_ratio_equals_count_job(pipeline_run):
    """The dup ratio observed on the scored_pairs write equals n_pairs over
    a separate approx_count_distinct job on the same pair rows (HLL++ is
    deterministic for a given value set)."""
    from entity_resolution_pipeline_spark.operators import pairs as P

    pipe, result, *_ = pipeline_run
    pair_fields = P.with_pair_key(P.attach_pair_fields(
        pipe.catalog.read("candidate_pairs"), pipe.catalog.read("records")
    ))
    d = pair_fields.agg(F.approx_count_distinct("pair_key")).collect()[0][0]
    n_pairs = result["candidate_pairs"]
    assert result["metrics"]["score_dup_ratio"] == round(n_pairs / d, 3)


def test_observed_values_equal_count_jobs(pipeline_run):
    """The input fingerprint the records write observed equals
    ``fingerprint_df``'s, and each observing stage's ok rows carry exactly
    the values the run used (the dup ratio and ``n_clusters`` are checked
    against their count jobs above)."""
    import pyarrow.parquet as pq

    from entity_resolution_pipeline_spark.sources.catalog import (
        content_fingerprint,
        fingerprint_df,
    )

    pipe, result, wp, *_ = pipeline_run
    seen = pipe.observed
    assert content_fingerprint(seen["preprocess"]) == fingerprint_df(wp, PAGE_COLUMNS)
    assert seen["preprocess"]["n"] == result["n_pages"]
    assert seen["cluster"]["n_clusters"] == result["n_clusters"]

    rows = pq.read_table(pipe.catalog.data_files(Manifest.TABLE),
                         schema=Manifest._SCHEMA).to_pylist()
    recorded = {}
    for r in rows:
        if r["run_id"] == pipe.manifest.run_id and r["status"] == "ok" and r["observed"]:
            recorded.setdefault(r["stage"], set()).add(r["observed"])
    assert {k: [json.loads(v) for v in vs] for k, vs in recorded.items()} == {
        k: [seen[k]] for k in ("preprocess", "score", "cluster")
    }


def test_manifest_read_shows_observed(pipeline_run):
    """``Manifest.read()`` carries the ``observed`` column: the cluster
    stage's ok rows hold the run's ``n_clusters``."""
    pipe, result, *_ = pipeline_run
    rows = pipe.manifest.read().where(
        (F.col("run_id") == pipe.manifest.run_id)
        & (F.col("stage") == "cluster") & (F.col("status") == "ok")
    ).collect()
    assert rows
    assert {json.loads(r["observed"])["n_clusters"] for r in rows} == {result["n_clusters"]}


def test_observed_records_write_adds_no_job(spark, tmp_path):
    """On an input with fewer partitions than cores (so it is repartitioned
    first), the preprocess stage, whose records write observes the input
    fingerprint, runs as many Spark jobs as a plain ``preprocess_records``
    write, and its ok rows carry ``fingerprint_df``'s string."""
    from entity_resolution_pipeline_spark.operators.preprocess import preprocess_records
    from entity_resolution_pipeline_spark.sources.catalog import fingerprint_df

    wp = web_pages_df(spark, 40).coalesce(1)
    sc = spark.sparkContext
    sc.setJobGroup("plain-records-write", "plain records write")
    try:
        preprocess_records(wp).write.parquet(str(tmp_path / "plain"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    pipe = ERPipeline(spark, str(tmp_path / "wh"), ERConfig(), run_id="observed-write")
    pipe.run(wp, spark.createDataFrame(labeled_pairs_pdf(40, 200)))
    sc._jsc.sc().listenerBus().waitUntilEmpty()

    def jobs(group):
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs("er:observed-write:preprocess") == jobs("plain-records-write") > 0
    pre = pipe.manifest.read().where(
        (F.col("stage") == "preprocess") & (F.col("status") == "ok")
    )
    assert {r["input_fingerprint"] for r in pre.collect()} == {
        fingerprint_df(wp, PAGE_COLUMNS)
    }


def test_observed_fingerprint_survives_task_retry(tmp_path):
    """In a session that retries failed tasks (``local[2,2]``), a UDF fails
    the first attempt of one partition after the observation. The count
    and hash sum observed after a repartition still equal the count job's:
    the failed attempt's partial values are dropped, the retry's counted
    once."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import json, os
from pyspark import TaskContext
from pyspark.sql import Observation, functions as F
from entity_resolution_pipeline_spark.session import build_spark
from entity_resolution_pipeline_spark.sources.catalog import (
    content_aggs, content_fingerprint, fingerprint_df)

spark = build_spark(master="local[2,2]", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
marker = {str(tmp_path / "failed")!r}
pages = spark.range(4000).select(
    F.col("id").cast("string").alias("url"),
    F.concat(F.lit("text "), (F.col("id") % 97).cast("string")).alias("text"))

@F.udf("string")
def flaky(text):
    ctx = TaskContext.get()
    if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
        open(marker, "w").close()
        raise RuntimeError("injected failure of attempt 0")
    return text

obs = Observation("retried")
src = pages.repartition(4).observe(obs, *content_aggs(["url", "text"]))
src.withColumn("text", flaky("text")).write.parquet({str(tmp_path / "out")!r})
got = obs.get
print(json.dumps({{"observed": content_fingerprint(got),
                  "count_job": fingerprint_df(pages, ["url", "text"]),
                  "retried": os.path.exists(marker)}}))
spark.stop()
"""
    env = {**os.environ, "PYTHONPATH": repo, "SPARK_DRIVER_MEMORY": "1g",
           "PYSPARK_PYTHON": sys.executable}
    proc = subprocess.run([sys.executable, "-c", script], env=env, capture_output=True,
                          text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads([ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1])
    assert out["retried"]
    assert out["observed"] == out["count_job"]
    assert out["observed"].startswith("4000:")


def test_score_repartition_branch_matches_default(spark, tmp_path_factory, monkeypatch):
    """The size-selected repartition-by-person score plan writes the same
    scored_pairs, edges and clusters as the default plan."""
    from entity_resolution_pipeline_spark.plans import pipeline

    wp = web_pages_df(spark, 40)
    lp = spark.createDataFrame(labeled_pairs_pdf(40, 200))
    default = ERPipeline(spark, str(tmp_path_factory.mktemp("erp_wh_direct")), ERConfig())
    default.run(wp, lp)

    score_plans = []
    write = Catalog.write

    def logged_write(self, df, name, *args, **kwargs):
        if name == "scored_pairs":
            score_plans.append(df._jdf.queryExecution().optimizedPlan().toString())
        return write(self, df, name, *args, **kwargs)

    monkeypatch.setattr(Catalog, "write", logged_write)
    monkeypatch.setattr(pipeline, "SCORE_REPARTITION_MIN_PAIRS", 0)
    repart = ERPipeline(spark, str(tmp_path_factory.mktemp("erp_wh_repart")), ERConfig())
    repart.run(wp, lp)
    assert len(score_plans) == 1 and "RepartitionByExpression [person1" in score_plans[0]

    for table in ("scored_pairs", "edges", "clusters"):
        a, b = default.catalog.read(table), repart.catalog.read(table)
        assert a.exceptAll(b).count() == 0, table
        assert b.exceptAll(a).count() == 0, table


def test_manifest_lineage(pipeline_run):
    pipe, *_ = pipeline_run
    m = pipe.manifest.read()
    stages = {r["stage"] for r in m.select("stage").distinct().collect()}
    assert set(STAGES) <= stages
    ok = m.where(F.col("status") == "ok")
    # per-partition rows with metrics
    assert ok.where(F.col("wall_ms") >= 0).count() == ok.count()
    assert ok.where(F.col("partition_id") >= 0).count() == ok.count()
    assert ok.where(F.col("input_fingerprint").isNull()).count() == 0
    # per-partition rows_out add up to each stage's table
    rows_out = {
        r["stage"]: r["n"]
        for r in ok.where(F.col("run_id") == pipe.manifest.run_id)
        .groupBy("stage").agg(F.sum("rows_out").alias("n")).collect()
    }
    for stage, tables in STAGE_TABLES.items():
        assert rows_out[stage] == pipe.catalog.read(tables[0]).count(), stage

    # recording and probing a stage, and opening its tables, run no Spark job
    sc = pipe.spark.sparkContext
    group = "manifest-bookkeeping"
    sc.setJobGroup(group, "manifest bookkeeping")
    try:
        probe = Manifest(pipe.catalog, run_id="probe")
        probe.record_stage("probe", "records", 1, 1, "fp-probe")
        probe.record_skipped("probe", "fp-probe")
        probe.record_alias("probe", "fp-probe-meta")
        assert probe.stage_complete("probe", "fp-probe")
        assert probe.stage_complete("probe", "fp-probe-meta")
        assert not probe.stage_complete("probe", "fp-other")
        for tables in STAGE_TABLES.values():
            for table in tables:
                pipe.catalog.read(table)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        pipe.manifest.read().count()  # a Spark read does show up in the group
        assert list(sc.statusTracker().getJobIdsForGroup(group)) != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_manifest_reads_spark_written_rows(spark, tmp_path):
    """Manifest files that Spark wrote into a warehouse read together with
    driver-written ones, and their ok rows still mark a stage complete."""
    from datetime import datetime

    from entity_resolution_pipeline_spark.sources.catalog import (
        MANIFEST_SCHEMA,
        Catalog,
    )

    cat = Catalog(spark, str(tmp_path))
    old = spark.createDataFrame(
        [("old", "score", 0, "ok", 5, 5, 7, "fp-old", datetime(2026, 1, 1), None)],
        MANIFEST_SCHEMA,
    )
    cat.append(old, Manifest.TABLE)
    man = Manifest(cat, run_id="new")
    man.record_skipped("score", "fp-old")
    assert man.stage_complete("score", "fp-old")
    assert not man.stage_complete("score", "fp-new")
    m = man.read()
    assert m.schema == MANIFEST_SCHEMA
    got = {r["run_id"]: (r["status"], r["committed_at"] is not None) for r in m.collect()}
    assert got == {"old": ("ok", True), "new": ("skipped", True)}


def test_manifest_concurrent_records(spark, tmp_path):
    """Stages recorded from several threads at once (more threads than
    cores, with a short switch interval) lose no manifest row, and each
    stage reads complete for its own fingerprint only."""
    import sys
    import threading

    cat = Catalog(spark, str(tmp_path))
    man = Manifest(cat, run_id="threads")
    cat.write(spark.range(3).repartition(1), "t")
    n_threads, n_rounds = 8, 5
    errors: list = []

    def record(i):
        try:
            for r in range(n_rounds):
                man.record_started(f"s{i}")
                man.record_stage(f"s{i}", "t", 3, 1, f"fp{i}-{r}")
                assert man.stage_complete(f"s{i}", f"fp{i}-{r}")
        except Exception as e:  # reported by the main thread
            errors.append(e)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=record, args=(i,)) for i in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    got = {(r["stage"], r["status"]): r["n"] for r in
           man.read().groupBy("stage", "status").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == {(f"s{i}", st): n_rounds for i in range(n_threads) for st in ("started", "ok")}
    for i in range(n_threads):
        assert man.stage_complete(f"s{i}", f"fp{i}-{n_rounds - 1}")
        assert not man.stage_complete(f"s{i}", f"fp{i}-0")
        assert not man.stage_complete(f"s{i}", f"fp{(i + 1) % n_threads}-{n_rounds - 1}")


def _record_writes_and_training(monkeypatch) -> list:
    """Log every ``Catalog.write`` table name and ``ERPipeline.train`` call."""
    calls: list = []
    write, train = Catalog.write, ERPipeline.train

    def logged_write(self, df, name, *args, **kwargs):
        calls.append(f"write:{name}")
        return write(self, df, name, *args, **kwargs)

    def logged_train(self, *args, **kwargs):
        calls.append("train")
        return train(self, *args, **kwargs)

    monkeypatch.setattr(Catalog, "write", logged_write)
    monkeypatch.setattr(ERPipeline, "train", logged_train)
    return calls


def _statuses(pipe) -> dict:
    """stage -> the set of statuses this run recorded for it."""
    got: dict = {}
    for r in pipe.manifest.read().where(F.col("run_id") == pipe.manifest.run_id).collect():
        got.setdefault(r["stage"], set()).add(r["status"])
    return got


def _skipped_stages(pipe) -> set:
    m = pipe.manifest.read().where(
        (F.col("run_id") == pipe.manifest.run_id) & (F.col("status") == "skipped")
    )
    return {r["stage"] for r in m.select("stage").distinct().collect()}


def test_resume_skips_stages_and_reproduces(pipeline_run, spark, monkeypatch):
    """A rerun on a completed warehouse skips every stage: it writes no
    table and trains no model, and reproduces the clusters and evaluation."""
    pipe, result, wp, lp, wh = pipeline_run
    clusters_before = {
        (r["entity_id"], r["cluster_id"])
        for r in pipe.catalog.read("clusters").collect()
    }
    calls = _record_writes_and_training(monkeypatch)
    pipe2 = ERPipeline(spark, wh, ERConfig())
    result2 = pipe2.run(wp, lp)
    assert calls == []
    assert set(STAGES) <= _skipped_stages(pipe2)
    clusters_after = {
        (r["entity_id"], r["cluster_id"])
        for r in pipe2.catalog.read("clusters").collect()
    }
    assert clusters_before == clusters_after
    assert result2["evaluation"] == result["evaluation"]
    for key in ("train", "test", "feature_importance"):
        assert result2["metrics"][key] == result["metrics"][key], key


def test_run_without_labels_reuses_stored_model(pipeline_run, spark, monkeypatch):
    """``run`` without labels (``run_pipeline.py --input`` without
    ``--labels``) scores with the model an earlier run stored: it trains
    nothing, writes nothing, and skips score, edges and cluster."""
    pipe, result, wp, lp, wh = pipeline_run
    calls = _record_writes_and_training(monkeypatch)
    pipe3 = ERPipeline(spark, wh, ERConfig())
    res3 = pipe3.run(wp)
    assert calls == []
    assert {"score", "edges", "cluster"} <= _skipped_stages(pipe3)
    assert "evaluation" not in res3
    assert res3["n_clusters"] == result["n_clusters"]
    assert res3["metrics"]["test"] == result["metrics"]["test"]


def test_run_without_labels_or_stored_model_raises(spark, tmp_path):
    """With no labels and no ``model`` table there is nothing to score
    with: ``run`` raises before it writes any table."""
    pipe = ERPipeline(spark, str(tmp_path), ERConfig())
    with pytest.raises(ValueError, match="no saved model"):
        pipe.run(web_pages_df(spark, 20))
    assert not pipe.catalog.exists("records")


def test_resume_recomputes_on_input_change(pipeline_run, spark):
    """Changed input fingerprint must invalidate the preprocess skip."""
    pipe, _, wp, lp, wh = pipeline_run
    wp_changed = web_pages_df(spark, N_ENT + 5)
    pipe3 = ERPipeline(spark, wh, ERConfig())
    res3 = pipe3.run(wp_changed, lp)
    m3 = pipe3.manifest.read().where(F.col("run_id") == pipe3.manifest.run_id)
    pre = m3.where((F.col("stage") == "preprocess") & (F.col("status") == "ok"))
    assert pre.count() > 0  # recomputed, not skipped
    assert res3["n_pages"] > 0


def test_resume_after_input_switch_recomputes(spark, tmp_path_factory):
    """Input A, then input B, then A again on one warehouse: A's old ok
    rows predate B's writes, so the third run recomputes every stage
    instead of serving B's tables, and ends equal to the first run."""
    wh = str(tmp_path_factory.mktemp("erp_wh_switch"))
    inputs = {}
    for name, n_ent in (("a", 40), ("b", 60)):
        src = str(tmp_path_factory.mktemp(f"wp_{name}"))
        web_pages_df(spark, n_ent).write.mode("overwrite").parquet(src)
        inputs[name] = (src, spark.createDataFrame(labeled_pairs_pdf(n_ent, 200)))

    def run(name):
        src, lp = inputs[name]
        pipe = ERPipeline(spark, wh, ERConfig())
        return pipe, pipe.run(spark.read.parquet(src), lp)

    pipe_a, res_a = run("a")
    clusters_a = sorted(pipe_a.catalog.read("clusters").collect())
    _, res_b = run("b")
    assert res_b["n_clusters"] != res_a["n_clusters"]
    pipe_a2, res_a2 = run("a")
    assert _skipped_stages(pipe_a2) == set()
    assert res_a2["n_pages"] == res_a["n_pages"]
    assert res_a2["n_clusters"] == res_a["n_clusters"]
    assert sorted(pipe_a2.catalog.read("clusters").collect()) == clusters_a
    assert res_a2["evaluation"] == res_a["evaluation"]


def test_metadata_resume_skips_without_input_scan(spark, tmp_path_factory):
    """A resumed run over an UNCHANGED file manifest must decide to skip
    from file metadata alone — no scan of the input table. Proven the hard
    way: after the first run the input parquet files are overwritten with
    zero bytes IN PLACE (same path, size, mtime_ns), so any attempt to
    actually read them throws; a green second run is a no-scan proof."""
    import os

    wh = str(tmp_path_factory.mktemp("erp_wh_meta"))
    src = str(tmp_path_factory.mktemp("wp_src"))
    web_pages_df(spark, 40).write.mode("overwrite").parquet(src)
    lp = spark.createDataFrame(labeled_pairs_pdf(40, 200))

    wp1 = spark.read.parquet(src)
    pipe = ERPipeline(spark, wh, ERConfig())
    res1 = pipe.run(wp1, lp)

    schema = wp1.schema
    n_corrupted = 0
    for root, _, files in os.walk(src):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            p = os.path.join(root, fn)
            st = os.stat(p)
            with open(p, "r+b") as f:
                f.write(b"\x00" * st.st_size)
            os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns))
            n_corrupted += 1
    assert n_corrupted > 0

    # explicit schema: even DataFrame CREATION must not read a footer
    wp2 = spark.read.schema(schema).parquet(src)
    pipe2 = ERPipeline(spark, wh, ERConfig())
    res2 = pipe2.run(wp2, lp)
    m2 = pipe2.manifest.read().where(
        (F.col("run_id") == pipe2.manifest.run_id) & (F.col("status") == "skipped")
    )
    skipped = {r["stage"] for r in m2.select("stage").distinct().collect()}
    assert "preprocess" in skipped
    assert res2["n_pages"] == res1["n_pages"]
    assert res2["evaluation"] == res1["evaluation"]


def test_metadata_resume_detects_manifest_change(spark, tmp_path_factory):
    """Touching a file (mtime change) invalidates the metadata fingerprint;
    the content fingerprint then still detects identical content and skips,
    but only after a real scan — the documented two-level fallback."""
    import os
    import time as _time

    wh = str(tmp_path_factory.mktemp("erp_wh_meta2"))
    src = str(tmp_path_factory.mktemp("wp_src2"))
    web_pages_df(spark, 40).write.mode("overwrite").parquet(src)
    lp = spark.createDataFrame(labeled_pairs_pdf(40, 200))
    pipe = ERPipeline(spark, wh, ERConfig())
    pipe.run(spark.read.parquet(src), lp)

    for root, _, files in os.walk(src):
        for fn in files:
            if fn.endswith(".parquet"):
                os.utime(os.path.join(root, fn))  # content identical, mtime new
    _time.sleep(0.01)
    pipe2 = ERPipeline(spark, wh, ERConfig())
    pipe2.run(spark.read.parquet(src), lp)
    m2 = pipe2.manifest.read().where(F.col("run_id") == pipe2.manifest.run_id)
    # content fingerprint matched -> stage skipped (not recomputed)
    assert m2.where(
        (F.col("stage") == "preprocess") & (F.col("status") == "skipped")
    ).count() > 0


def test_resume_retrain_invalidates_scores(spark, tmp_path_factory):
    """Same pages + same blocking keys but a different trained model must
    recompute the score stage (the fingerprint mixes in the model digest)."""
    wh = str(tmp_path_factory.mktemp("erp_wh_retrain"))
    wp = web_pages_df(spark, 60)
    lp_pdf = labeled_pairs_pdf(60, 300)
    pipe = ERPipeline(spark, wh, ERConfig())
    pipe.run(wp, spark.createDataFrame(lp_pdf))
    scores1 = {
        (r["url1"], r["url2"]): r["confidence"]
        for r in pipe.catalog.read("scored_pairs").collect()
    }

    lp_flipped = lp_pdf.copy()
    lp_flipped["match"] = ~lp_flipped["match"].astype(bool)
    pipe2 = ERPipeline(spark, wh, ERConfig())
    pipe2.run(wp, spark.createDataFrame(lp_flipped))
    m2 = pipe2.manifest.read().where(F.col("run_id") == pipe2.manifest.run_id)
    score_ok = m2.where((F.col("stage") == "score") & (F.col("status") == "ok"))
    assert score_ok.count() > 0, "score stage must recompute after retraining"
    # upstream stages (same pages/keys) still skip
    train_ok = m2.where((F.col("stage") == "train") & (F.col("status") == "ok"))
    assert train_ok.count() > 0, "new labels must retrain the model"
    skipped = {r["stage"] for r in m2.where(F.col("status") == "skipped").collect()}
    assert {"preprocess", "dims", "blocking", "pairs"} <= skipped
    scores2 = {
        (r["url1"], r["url2"]): r["confidence"]
        for r in pipe2.catalog.read("scored_pairs").collect()
    }
    assert scores1 != scores2, "flipped labels must change model scores"


@pytest.fixture(scope="module")
def parquet_pages(spark, tmp_path_factory):
    """40 entities' pages as a parquet input, so preprocess resumes on its
    file metadata, and their labels."""
    src = str(tmp_path_factory.mktemp("wp_parquet40"))
    web_pages_df(spark, 40).write.mode("overwrite").parquet(src)
    return src, spark.createDataFrame(labeled_pairs_pdf(40, 200))


# field -> (a new value, the stages a rerun with it recomputes)
CONFIG_CHANGES = {
    "lsh_num_perm": (16, {"blocking", "pairs", "score", "edges", "cluster"}),
    "lsh_bands": (4, {"blocking", "pairs", "score", "edges", "cluster"}),
    "max_block_size": (8, {"pairs", "score", "edges", "cluster"}),
    "min_edge_weight": (0.95, {"edges", "cluster"}),
    # train reads the threshold for its test metrics only: same model digest
    "decision_threshold": (0.999, {"train", "edges", "cluster"}),
}


@pytest.mark.parametrize("field", list(CONFIG_CHANGES))
def test_resume_recomputes_on_config_change(field, spark, parquet_pages, tmp_path_factory):
    """A rerun with one ``ERConfig`` field changed recomputes the first
    stage that reads it and every stage after it in the chain, and skips
    the others."""
    from dataclasses import replace

    value, recomputed = CONFIG_CHANGES[field]
    src, lp = parquet_pages
    wh = str(tmp_path_factory.mktemp(f"erp_wh_cfg_{field}"))
    ERPipeline(spark, wh, ERConfig()).run(spark.read.parquet(src), lp)
    cfg = replace(ERConfig(), **{field: value})
    pipe2 = ERPipeline(spark, wh, cfg)
    pipe2.run(spark.read.parquet(src), lp)
    assert _statuses(pipe2) == {
        s: {"started", "ok"} if s in recomputed else {"skipped"} for s in STAGES
    }
    if field == "min_edge_weight":
        fresh = ERPipeline(spark, str(tmp_path_factory.mktemp("erp_wh_cfg_fresh")), cfg)
        fresh.run(spark.read.parquet(src), lp)
        got, want = pipe2.catalog.read("clusters"), fresh.catalog.read("clusters")
        assert sorted(got.collect()) == sorted(want.collect())


def test_resume_recomputes_on_page_column_change(spark, tmp_path_factory):
    """An input rewritten with the same url and text but another ``lang``
    recomputes preprocess: the content key covers every column it reads."""
    src = str(tmp_path_factory.mktemp("wp_lang"))
    wp = web_pages_df(spark, 40)
    wp.write.mode("overwrite").parquet(src)
    lp = spark.createDataFrame(labeled_pairs_pdf(40, 200))
    wh = str(tmp_path_factory.mktemp("erp_wh_lang"))
    ERPipeline(spark, wh, ERConfig()).run(spark.read.parquet(src), lp)

    wp.withColumn("lang", F.lit("xx")).write.mode("overwrite").parquet(src)
    pipe2 = ERPipeline(spark, wh, ERConfig())
    pipe2.run(spark.read.parquet(src), lp)
    assert _statuses(pipe2)["preprocess"] == {"started", "ok"}
    langs = pipe2.catalog.read("records").select("lang").distinct().collect()
    assert [r["lang"] for r in langs] == ["xx"]


@pytest.mark.parametrize("table", ["scored_pairs", "blocking_keys"])
def test_resume_recomputes_uncommitted_table(table, spark, tmp_path_factory):
    """A table without ``_SUCCESS`` (left by a killed overwrite) is not a
    completed stage, even when the manifest holds an ok row for the same
    resume key: the stage reruns instead of being skipped. It reruns at an
    unchanged key, so every other stage is skipped, and the pair, score,
    edge and cluster tables still equal the clean run's."""
    import os

    wh = str(tmp_path_factory.mktemp("erp_wh_uncommitted"))
    wp = web_pages_df(spark, 40)
    lp = spark.createDataFrame(labeled_pairs_pdf(40, 200))
    pipe = ERPipeline(spark, wh, ERConfig())
    pipe.run(wp, lp)
    later = ("candidate_pairs", "scored_pairs", "edges", "clusters")
    clean = {t: sorted(pipe.catalog.read(t).collect()) for t in later}
    os.remove(os.path.join(wh, table, "_SUCCESS"))

    pipe2 = ERPipeline(spark, wh, ERConfig())
    pipe2.run(wp, lp)
    stage = next(s for s, tables in STAGE_TABLES.items() if table in tables)
    assert _statuses(pipe2) == {
        **{s: {"skipped"} for s in STAGES}, stage: {"started", "ok"}
    }
    assert os.path.isfile(os.path.join(wh, table, "_SUCCESS"))
    for t in later:
        assert sorted(pipe2.catalog.read(t).collect()) == clean[t], t


@pytest.mark.parametrize("stage", ["score", "pairs"])
def test_resume_reruns_stage_killed_before_its_record(stage, spark, tmp_path_factory,
                                                      monkeypatch):
    """A run killed inside a stage after its first table committed leaves
    no ``ok`` row for it: ``score`` is killed before its manifest record,
    ``pairs`` at the write of its second table (``oversized_blocks``). The
    next run on the same warehouse recomputes that stage (not skipped),
    skips the stages before it, and ends equal to a clean run."""
    wp = web_pages_df(spark, 40)
    lp = spark.createDataFrame(labeled_pairs_pdf(40, 200))
    clean = ERPipeline(spark, str(tmp_path_factory.mktemp("erp_wh_clean")), ERConfig())
    clean_res = clean.run(wp, lp)

    wh = str(tmp_path_factory.mktemp("erp_wh_killed"))
    if stage == "score":
        record_stage = Manifest.record_stage

        def killed_record(self, name, *args, **kwargs):
            if name == "score":
                raise RuntimeError("killed before the score record")
            return record_stage(self, name, *args, **kwargs)

        monkeypatch.setattr(Manifest, "record_stage", killed_record)
    else:
        write = Catalog.write

        def killed_write(self, df, name, *args, **kwargs):
            if name == "oversized_blocks":
                raise RuntimeError("killed at the oversized_blocks write")
            return write(self, df, name, *args, **kwargs)

        monkeypatch.setattr(Catalog, "write", killed_write)
    with pytest.raises(RuntimeError, match="killed"):
        ERPipeline(spark, wh, ERConfig()).run(wp, lp)
    monkeypatch.undo()

    pipe2 = ERPipeline(spark, wh, ERConfig())
    assert pipe2.catalog.exists(STAGE_TABLES[stage][0])  # committed before the kill
    res2 = pipe2.run(wp, lp)
    m2 = pipe2.manifest.read().where(F.col("run_id") == pipe2.manifest.run_id)
    status = {}
    for r in m2.collect():
        status.setdefault(r["stage"], set()).add(r["status"])
    assert status[stage] == {"started", "ok"}
    assert all(status[s] == {"skipped"} for s in STAGES[:STAGES.index(stage)])

    for key in ("n_pages", "candidate_pairs", "n_clusters", "evaluation"):
        assert res2[key] == clean_res[key], key
    for table in {"scored_pairs", "clusters", *STAGE_TABLES[stage]}:
        got = pipe2.catalog.read(table)
        want = clean.catalog.read(table)
        assert sorted(got.collect()) == sorted(want.select(*got.columns).collect()), table


def test_resume_after_killed_input_switch(spark, tmp_path_factory, monkeypatch):
    """Input A, then input B killed after its records committed but before
    its preprocess record, then A again on one warehouse. B's started row
    postdates A's ok rows, so the third run recomputes preprocess instead
    of serving B's records, and ends equal to the first run."""
    wh = str(tmp_path_factory.mktemp("erp_wh_killed_switch"))
    inputs = {}
    for name, n_ent in (("a", 40), ("b", 60)):
        src = str(tmp_path_factory.mktemp(f"wp_{name}"))
        web_pages_df(spark, n_ent).write.mode("overwrite").parquet(src)
        inputs[name] = (src, spark.createDataFrame(labeled_pairs_pdf(n_ent, 200)))

    def run(name):
        src, lp = inputs[name]
        pipe = ERPipeline(spark, wh, ERConfig())
        return pipe, pipe.run(spark.read.parquet(src), lp)

    pipe_a, res_a = run("a")
    clusters_a = sorted(pipe_a.catalog.read("clusters").collect())
    record_stage = Manifest.record_stage

    def killed_record(self, name, *args, **kwargs):
        if name == "preprocess":
            raise RuntimeError("killed before the preprocess record")
        return record_stage(self, name, *args, **kwargs)

    monkeypatch.setattr(Manifest, "record_stage", killed_record)
    with pytest.raises(RuntimeError, match="killed"):
        run("b")
    monkeypatch.undo()
    assert pipe_a.catalog.num_rows("records") > res_a["n_pages"]  # B's records committed

    pipe_a2, res_a2 = run("a")
    assert "preprocess" not in _skipped_stages(pipe_a2)
    assert res_a2["n_pages"] == res_a["n_pages"]
    assert res_a2["n_clusters"] == res_a["n_clusters"]
    assert sorted(pipe_a2.catalog.read("clusters").collect()) == clusters_a
    assert res_a2["evaluation"] == res_a["evaluation"]


def test_stage_job_groups(spark, tmp_path):
    """A computed stage's Spark jobs run in the job group
    ``er:<run_id>:<stage>``; a resumed run, which skips every stage, runs
    none there. The caller's job description and group are left as they
    were."""
    wp = web_pages_df(spark, 40)
    lp = spark.createDataFrame(labeled_pairs_pdf(40, 200))
    sc = spark.sparkContext
    sc.setJobDescription("caller")
    try:
        ERPipeline(spark, str(tmp_path), ERConfig(), run_id="groups-cold").run(wp, lp)
        resumed = ERPipeline(spark, str(tmp_path), ERConfig(), run_id="groups-warm")
        resumed.run(wp, lp)
        assert sc.getLocalProperty("spark.job.description") == "caller"
        assert sc.getLocalProperty("spark.jobGroup.id") is None
    finally:
        sc.setJobDescription(None)
    assert _skipped_stages(resumed) == set(STAGES)

    def jobs(run_id, stage):
        return list(sc.statusTracker().getJobIdsForGroup(f"er:{run_id}:{stage}"))

    for stage in STAGES:
        assert jobs("groups-cold", stage), stage
        assert jobs("groups-warm", stage) == [], stage


def test_every_run_job_in_a_group(spark, tmp_path):
    """Every Spark job of a run is in an ``er:<run_id>:`` group: a cold run
    and a resume add no job to the jobs without a group. The jobs outside
    the stages (the content probe, the oversized-block sample and the
    evaluation) run in ``er:<run_id>:run``."""
    wp = web_pages_df(spark, 40)
    lp = spark.createDataFrame(labeled_pairs_pdf(40, 200))
    sc = spark.sparkContext

    def ungrouped():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup(None))

    before = ungrouped()
    cfg = ERConfig(max_block_size=4)  # oversized blocks, so their sample runs
    cold = ERPipeline(spark, str(tmp_path), cfg, run_id="ungrouped-cold").run(wp, lp)
    after_cold = ungrouped()
    assert cold["metrics"]["oversized_blocks"]
    ERPipeline(spark, str(tmp_path), cfg, run_id="ungrouped-warm").run(wp, lp)
    assert after_cold - before == set()
    assert ungrouped() - after_cold == set()
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    for run_id in ("ungrouped-cold", "ungrouped-warm"):
        assert list(sc.statusTracker().getJobIdsForGroup(f"er:{run_id}:run")), run_id


def test_stage_row_without_observed_values_recomputes_once(spark, tmp_path):
    """A ``cluster`` ok row without observed values (as a warehouse written
    before rows carried them has) does not count: the next run recomputes
    ``cluster`` alone and reports the same ``n_clusters``, and the run
    after that skips every stage."""
    import pyarrow.parquet as pq

    wp = web_pages_df(spark, 40)
    lp = spark.createDataFrame(labeled_pairs_pdf(40, 200))
    wh = str(tmp_path)
    first = ERPipeline(spark, wh, ERConfig()).run(wp, lp)
    cat = Catalog(spark, wh)
    rewritten = 0
    for f in cat.data_files(Manifest.TABLE):
        t = pq.read_table(f)
        if "cluster" in t["stage"].to_pylist() and "ok" in t["status"].to_pylist():
            pq.write_table(t.drop_columns(["observed"]), f)  # the older file schema
            rewritten += 1
    assert rewritten == 1

    def statuses(pipe):
        got: dict = {}
        for r in pipe.manifest.read().where(F.col("run_id") == pipe.manifest.run_id).collect():
            got.setdefault(r["stage"], set()).add(r["status"])
        return got

    second = ERPipeline(spark, wh, ERConfig())
    res2 = second.run(wp, lp)
    assert statuses(second) == {
        **{s: {"skipped"} for s in STAGES}, "cluster": {"started", "ok"}
    }
    assert res2["n_clusters"] == first["n_clusters"]
    third = ERPipeline(spark, wh, ERConfig())
    res3 = third.run(wp, lp)
    assert statuses(third) == {s: {"skipped"} for s in STAGES}
    assert res3["n_clusters"] == first["n_clusters"]
    assert res3["metrics"]["score_dup_ratio"] == first["metrics"]["score_dup_ratio"]


def test_train_runs_beside_blocking(spark, tmp_path, monkeypatch):
    """Training does not wait for blocking -> pairs: the blocking_keys write
    is held until training has started, and the run still completes."""
    import threading

    train_started = threading.Event()
    write, train = Catalog.write, ERPipeline.train

    def gated_write(self, df, name, *args, **kwargs):
        if name == "blocking_keys":
            assert train_started.wait(60), "blocking_keys waited 60 s for training to start"
        return write(self, df, name, *args, **kwargs)

    def flagged_train(self, *args, **kwargs):
        train_started.set()
        return train(self, *args, **kwargs)

    monkeypatch.setattr(Catalog, "write", gated_write)
    monkeypatch.setattr(ERPipeline, "train", flagged_train)
    wp = web_pages_df(spark, 40)
    lp = spark.createDataFrame(labeled_pairs_pdf(40, 200))
    pipe = ERPipeline(spark, str(tmp_path), ERConfig())
    res = pipe.run(wp, lp)
    assert res["candidate_pairs"] > 0
    assert all(pipe.catalog.exists(t) for tables in STAGE_TABLES.values() for t in tables)


def test_failed_branch_waits_for_writes_and_resumes(spark, tmp_path_factory, monkeypatch):
    """A branch that fails (training) makes ``run`` raise its error, but only
    once no Spark job is still running; every stage is then either
    committed with an ok row or not recorded as done, and the rerun skips
    the completed stages and ends equal to a clean run."""
    wp = web_pages_df(spark, 40)
    lp = spark.createDataFrame(labeled_pairs_pdf(40, 200))
    clean = ERPipeline(spark, str(tmp_path_factory.mktemp("erp_wh_branch_clean")), ERConfig())
    clean_res = clean.run(wp, lp)

    def failing_train(self, *args, **kwargs):
        raise RuntimeError("training failed")

    monkeypatch.setattr(ERPipeline, "train", failing_train)
    wh = str(tmp_path_factory.mktemp("erp_wh_branch_failed"))
    pipe = ERPipeline(spark, wh, ERConfig())
    sc = spark.sparkContext
    with pytest.raises(RuntimeError, match="training failed"):
        pipe.run(wp, lp)
    # drain the listener bus, so a finished job is not still listed as active
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getActiveJobsIds()) == []
    monkeypatch.undo()

    m = pipe.manifest.read().where(
        (F.col("run_id") == pipe.manifest.run_id) & (F.col("status") == "ok")
    )
    ok = {r["stage"] for r in m.select("stage").distinct().collect()}
    assert ok == {"preprocess", "dims", "blocking", "pairs"}
    for stage, tables in STAGE_TABLES.items():
        assert (stage in ok) == all(pipe.catalog.exists(t) for t in tables), stage

    pipe2 = ERPipeline(spark, wh, ERConfig())
    res2 = pipe2.run(wp, lp)
    assert _skipped_stages(pipe2) == ok
    for key in ("n_pages", "candidate_pairs", "n_clusters", "evaluation"):
        assert res2[key] == clean_res[key], key
    for key in ("train", "test"):
        assert res2["metrics"][key] == clean_res["metrics"][key], key
    for table in ("candidate_pairs", "scored_pairs", "edges", "clusters"):
        got, want = pipe2.catalog.read(table), clean.catalog.read(table)
        assert got.exceptAll(want).count() == 0, table
        assert want.exceptAll(got).count() == 0, table


@pytest.mark.parametrize("force", [False, True])
def test_cold_fingerprint_labels_preprocess_row(force, spark, tmp_path):
    """When no stored row can match (an empty warehouse, or ``force``), the
    records write observes the content fingerprint; the preprocess ok rows
    still carry exactly ``fingerprint_df``'s string, and ``n_pages`` is the
    row count it starts with."""
    from entity_resolution_pipeline_spark.sources.catalog import fingerprint_df

    wp = web_pages_df(spark, 40)
    lp = spark.createDataFrame(labeled_pairs_pdf(40, 200))
    want = fingerprint_df(wp, PAGE_COLUMNS)
    if force:
        ERPipeline(spark, str(tmp_path), ERConfig()).run(wp, lp)
    pipe = ERPipeline(spark, str(tmp_path), ERConfig())
    res = pipe.run(wp, lp, force=force)
    pre = pipe.manifest.read().where(
        (F.col("run_id") == pipe.manifest.run_id) & (F.col("stage") == "preprocess")
        & (F.col("status") == "ok")
    )
    got = {(r["input_fingerprint"], r["rows_in"]) for r in pre.collect()}
    assert got == {(want, res["n_pages"])}
    assert res["n_pages"] == int(want.split(":")[0]) == pipe.catalog.num_rows("records")


def test_oversized_blocks_logged(pipeline_run):
    pipe, result, *_ = pipeline_run
    # the hot aggregator host is engineered into the fixture; with the
    # host|token key it may or may not exceed the cap, but the metrics key
    # must exist (no silent truncation path)
    assert "oversized_blocks" in result["metrics"]


def test_oversized_blocks_table_meaning(spark, tmp_path_factory):
    """With a small block cap, ``oversized_blocks`` lists exactly the keys
    whose blocks exceed it, each with its row count in ``blocking_keys``,
    and the metrics count equals the table's rows."""
    cap = 4
    wp = web_pages_df(spark, 40)
    lp = spark.createDataFrame(labeled_pairs_pdf(40, 200))
    pipe = ERPipeline(spark, str(tmp_path_factory.mktemp("erp_wh_hot")),
                      ERConfig(max_block_size=cap))
    result = pipe.run(wp, lp)
    sizes = {r["key"]: r["count"] for r in
             pipe.catalog.read("blocking_keys").groupBy("key").count().collect()}
    over = {r["key"]: r["block_size"] for r in pipe.catalog.read("oversized_blocks").collect()}
    assert over  # the cap is small enough that hot blocks exist
    # every listed block is over the cap at its key's row count, and every
    # key over the cap is listed
    assert over == {k: n for k, n in sizes.items() if n > cap}
    assert result["metrics"]["oversized_blocks_count"] == len(over)


def test_candidate_pairs_match_sorted_window_reference(pipeline_run):
    """On the pipeline's blocking keys, candidate pairs equal a pure-Python
    sorted-neighbourhood reference: a block of at most the cap keeps all of
    its pairs, a larger one each row's next neighbor_cap sorted rows."""
    from collections import defaultdict

    from entity_resolution_pipeline_spark.operators.blocking import candidate_pairs

    pipe, *_ = pipeline_run
    keys = pipe.catalog.read("blocking_keys")
    blocks = defaultdict(list)
    for r in keys.collect():
        blocks[r["key"]].append(r["url"])
    # at cap 8 with 3 neighbors, the fixture's 9-15 row blocks are capped
    for cap, neighbor_cap in ((64, 20), (8, 3)):
        want = set()
        for urls in blocks.values():
            urls.sort()
            reach = len(urls) if len(urls) <= cap else neighbor_cap
            for i, u in enumerate(urls):
                want.update((u, v) for v in urls[i + 1:i + 1 + reach] if u < v)
        pairs, _ = candidate_pairs(keys, max_block_size=cap, neighbor_cap=neighbor_cap)
        got = {(r["url1"], r["url2"]) for r in pairs.collect()}
        assert got == want, (cap, len(got), len(want))


def test_csv_export(pipeline_run, tmp_path_factory):
    """S7: cluster CSV export (clustering.py:1102-1136 analogue)."""
    pipe, result, *_ = pipeline_run
    out = str(tmp_path_factory.mktemp("csv_export"))
    pipe.export_clusters_csv(out)
    spark = pipe.spark
    back = spark.read.option("header", True).csv(out)
    assert back.columns == ["cluster_id", "entity_id"]
    # compare against the current clusters table (an earlier resume test may
    # have rerun the pipeline with a different corpus in this warehouse)
    assert back.count() == pipe.catalog.read("clusters").count()
    assert back.where("entity_id IS NULL OR cluster_id IS NULL").count() == 0


def test_uuid5_matches_python(spark):
    """F13: JVM uuid5 == Python uuid.uuid5 byte for byte (idempotent keys)."""
    import uuid

    from entity_resolution_pipeline_spark.operators.util import uuid5_col

    vals = ["", "abc", "https://ex.org/a?b=1", "Smith, John, 1840-1902", "ünïcodé ✓"]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = {r["s"]: r["u"] for r in df.select("s", uuid5_col("s").alias("u")).collect()}
    for v in vals:
        assert got[v] == str(uuid.uuid5(uuid.NAMESPACE_URL, v)), v


def test_merge_upsert(spark, tmp_path_factory):
    """S4: keyed upsert — matched keys replaced, unmatched kept, idempotent."""
    from entity_resolution_pipeline_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path_factory.mktemp("merge_wh")))
    cat.merge_upsert(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
                     "t", ["k"])
    cat.merge_upsert(spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string"),
                     "t", ["k"])
    got = {r["k"]: r["v"] for r in cat.read("t").collect()}
    assert got == {1: "a", 2: "B", 3: "c"}
    # idempotent: replaying the same batch changes nothing
    cat.merge_upsert(spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string"),
                     "t", ["k"])
    got2 = {r["k"]: r["v"] for r in cat.read("t").collect()}
    assert got2 == got


def test_merge_upsert_crash_recovery(spark, tmp_path_factory):
    """A crash between the two swap renames leaves the table at the backup
    path; the next merge must restore it and proceed normally."""
    import os

    from entity_resolution_pipeline_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path_factory.mktemp("merge_crash_wh")))
    cat.merge_upsert(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
                     "t", ["k"])
    # simulate the crash window: old table moved to backup, staging gone,
    # nothing at the primary path
    os.rename(cat.path("t"), cat.path("t__backup"))
    assert not cat.exists("t") and os.path.isdir(cat.path("t__backup"))
    cat.merge_upsert(spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string"),
                     "t", ["k"])
    got = {r["k"]: r["v"] for r in cat.read("t").collect()}
    assert got == {1: "a", 2: "B", 3: "c"}  # pre-crash rows recovered, merge applied
    assert not os.path.isdir(cat.path("t__backup"))


@pytest.mark.parametrize("op", ["merge_upsert", "compact"])
@pytest.mark.parametrize("kill", ["second_rename", "backup_drop"])
def test_commit_killed_inside_swap_heals(op, kill, spark, tmp_path, monkeypatch):
    """``merge_upsert`` and ``compact`` killed inside the table swap: at the
    second rename (the table sits at ``t__backup``, the new copy at
    ``t__staging``), or at the final backup drop (both copies left). The
    next call heals the table, gives the expected rows and leaves no
    staging or backup directory."""
    import os

    cat = Catalog(spark, str(tmp_path))
    cat.write(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), "t")
    batch = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")
    want = {1: "a", 2: "B", 3: "c"} if op == "merge_upsert" else {1: "a", 2: "b"}

    def call():
        if op == "merge_upsert":
            cat.merge_upsert(batch, "t", ["k"])
        else:
            cat.compact("t")

    if kill == "second_rename":
        rename = os.rename

        def killed_rename(src, dst):
            if src == cat.path("t__staging"):
                raise OSError("killed at the second swap rename")
            return rename(src, dst)

        monkeypatch.setattr(os, "rename", killed_rename)
    else:
        drop = Catalog.drop

        def killed_drop(self, name):
            if name == "t__backup" and os.path.isdir(self.path(name)):
                raise OSError("killed at the backup drop")
            return drop(self, name)

        monkeypatch.setattr(Catalog, "drop", killed_drop)
    with pytest.raises(OSError, match="killed"):
        call()
    monkeypatch.undo()
    assert os.path.isdir(cat.path("t__backup"))
    assert cat.exists("t") == (kill == "backup_drop")

    call()
    assert {r["k"]: r["v"] for r in cat.read("t").collect()} == want
    assert not os.path.isdir(cat.path("t__staging"))
    assert not os.path.isdir(cat.path("t__backup"))


def test_fingerprint_files_semantics(spark, tmp_path_factory):
    """Stat-only manifest fingerprint: stable across re-reads, sensitive to
    content-size and mtime changes, None for in-memory frames."""
    import os

    from entity_resolution_pipeline_spark.sources.catalog import fingerprint_files

    d = str(tmp_path_factory.mktemp("fpf"))
    spark.range(100).write.mode("overwrite").parquet(d)
    fp1 = fingerprint_files(spark.read.parquet(d))
    fp2 = fingerprint_files(spark.read.parquet(d))
    assert fp1 is not None and fp1 == fp2
    # touching one data file changes the fingerprint
    for root, _, files in os.walk(d):
        for fn in files:
            if fn.endswith(".parquet"):
                os.utime(os.path.join(root, fn))
                break
        break
    fp3 = fingerprint_files(spark.read.parquet(d))
    assert fp3 != fp1
    # in-memory frame: no file source -> None (caller falls back to content)
    assert fingerprint_files(spark.createDataFrame([(1,)], "x long")) is None
    # the QUERY PLAN participates: a different transformation over the SAME
    # files must not share a fingerprint (else resume would silently reuse
    # the first query's output for the second)
    fp_lim = fingerprint_files(spark.read.parquet(d).limit(5))
    fp_fil = fingerprint_files(spark.read.parquet(d).where("id > 10"))
    assert fp_lim != fp3 and fp_fil != fp3 and fp_lim != fp_fil


def test_fingerprint_files_object_store_metadata_path(spark, tmp_path_factory):
    """Non-local URIs must take the metadata (size, mtime) path — never
    degrade to None/content-scan just because os.stat can't see them. The
    object-store stat is injected (no s3 here); a changed etag/mtime flips
    the fingerprint."""
    from entity_resolution_pipeline_spark.sources.catalog import fingerprint_files

    d = str(tmp_path_factory.mktemp("fpf_s3"))
    spark.range(50).write.mode("overwrite").parquet(d)
    df = spark.read.parquet(d)
    local_uris = sorted(df.inputFiles())
    remote_map = {
        u: f"s3a://bucket/warehouse/{i}.parquet" for i, u in enumerate(local_uris)
    }
    df.inputFiles = lambda: [remote_map[u] for u in local_uris]  # type: ignore

    def stat_v1(_df, uri):
        assert uri.startswith("s3a://")  # proves the non-local branch is used
        return 1234, 99  # (size, mtime-or-etag) from the store's listing

    def stat_v2(_df, uri):
        return 1234, 100  # same size, newer mtime/etag

    fp_a = fingerprint_files(df, stat_fn=stat_v1)
    fp_b = fingerprint_files(df, stat_fn=stat_v1)
    fp_c = fingerprint_files(df, stat_fn=stat_v2)
    assert fp_a is not None and fp_a.startswith("meta:")
    assert fp_a == fp_b and fp_c != fp_a
    # default stat path on a real non-local URI goes through Hadoop's
    # FileSystem API — file:// handled there too, same status fields
    from entity_resolution_pipeline_spark.sources.catalog import _stat_uri

    size, mtime = _stat_uri(df, local_uris[0])
    import os as _os
    from urllib.parse import unquote, urlparse

    st = _os.stat(unquote(urlparse(local_uris[0]).path))
    assert size == st.st_size and mtime == st.st_mtime_ns


def test_table_diff(pipeline_run, spark):
    from entity_resolution_pipeline_spark.sources.catalog import table_diff

    a = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    b = spark.createDataFrame([(2,), (3,), (4,)], "k long")
    d = table_diff(a, b, ["k"])
    assert d["added"] == 1 and d["missing"] == 1
    assert d["added_sample"] == [(1,)]
    assert d["missing_sample"] == [(4,)]


def test_misclassified_pairs_operator_surfaces_fns_with_evidence(pipeline_run):
    """With an impossible threshold EVERY label-1 pair becomes an error —
    scored ones as FN, never-blocked ones as FN_UNBLOCKED (blocking recall
    gaps must not be invisible) — all with fields and a feature row."""
    from entity_resolution_pipeline_spark.operators.analyze import misclassified_pairs
    from entity_resolution_pipeline_spark.operators.pairs import FEATURE_NAMES

    pipe, _, wp, lp, wh = pipeline_run
    scored = pipe.catalog.read("scored_pairs")
    records = pipe.catalog.read("records")
    lpn = normalize_labeled_pairs(lp)
    errors = misclassified_pairs(scored, lpn, records, threshold=2.0)
    rows = errors.collect()
    expected = lpn.where(F.col("label") == 1).count()
    n_blocked = lpn.where(F.col("label") == 1).join(
        scored, ["url1", "url2"], "left_semi"
    ).count()
    assert expected > 0
    assert len(rows) == expected
    by_type = {}
    for r in rows:
        by_type[r["error_type"]] = by_type.get(r["error_type"], 0) + 1
        assert r["label"] == 1 and r["pred"] == 0
        assert len(r["features"]) == len(FEATURE_NAMES)
        assert r["person1"] is not None and r["person2"] is not None
    assert by_type.get("FN", 0) == n_blocked
    assert by_type.get("FN_UNBLOCKED", 0) == expected - n_blocked


def test_misclassified_pairs_keeps_unrecorded_labels(pipeline_run, spark):
    """A labeled positive whose url never made it into the records table
    (page filtered during preprocess) must still appear — as
    FN_UNRECORDED with NULL fields/features — not be silently dropped by
    the evidence joins."""
    from entity_resolution_pipeline_spark.operators.analyze import misclassified_pairs

    pipe, *_ = pipeline_run
    scored = pipe.catalog.read("scored_pairs")
    records = pipe.catalog.read("records")
    some_url = records.select("url").limit(1).collect()[0]["url"]
    ghost = spark.createDataFrame(
        [("http://ghost.example/filtered-out", some_url)], ["left", "right"]
    ).select(
        F.least("left", "right").alias("url1"),
        F.greatest("left", "right").alias("url2"),
        F.lit(1).alias("label"),
    )
    errors = misclassified_pairs(scored, ghost, records, threshold=0.9)
    rows = errors.collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["error_type"] == "FN_UNRECORDED"
    assert r["pred"] == 0 and r["confidence"] is None
    assert r["features"] is None and r["person1"] is None


def test_pipeline_misclassification_analysis(pipeline_run):
    """Pipeline wiring: errors at the real threshold match a manual join and
    land in the misclassified_pairs catalog table + metrics."""
    pipe, _, wp, lp, wh = pipeline_run
    summary = pipe.analyze_misclassifications(lp)
    errors = pipe.catalog.read("misclassified_pairs")
    thr = pipe.config.decision_threshold
    scored = pipe.catalog.read("scored_pairs")
    expected = (
        normalize_labeled_pairs(lp)
        .join(scored, ["url1", "url2"], "left")
        .where(
            F.coalesce(
                (F.col("confidence") >= thr).cast("int"), F.lit(0)
            ) != F.col("label")
        )
        .count()
    )
    assert errors.count() == expected
    assert sum(v["n"] for v in summary.values()) == expected
    for r in errors.collect():
        pred = 1 if (r["confidence"] is not None and r["confidence"] >= thr) else 0
        assert pred != r["label"]
        if pred == 1:
            assert r["error_type"] == "FP"
        else:
            assert r["error_type"] in ("FN", "FN_UNBLOCKED")
            assert (r["error_type"] == "FN_UNBLOCKED") == (r["confidence"] is None)
    assert "misclassification" in pipe.metrics


def test_markdown_run_report(pipeline_run):
    """§7.2 item 7: the report sink renders the run's metrics (incl. the F1
    gate value) to reports/run_<id>.md in the warehouse."""
    from entity_resolution_pipeline_spark.plans.report import write_run_report

    pipe, result, *_ = pipeline_run
    path = write_run_report(pipe)
    assert path.endswith(f"run_{pipe.manifest.run_id}.md")
    with open(path) as f:
        body = f.read()
    f1 = pipe.metrics["evaluation"]["blocked_pairs"]["f1"]
    assert f"F1 = {f1:.4f}" in body
    assert "## Stages" in body and "## Cluster size distribution" in body
    assert "## Feature importance" in body


def test_impute_enrichment(pipeline_run):
    """§2.10: imputation over the warehouse records fills missing fields."""
    pipe, *_ = pipeline_run
    counts = pipe.impute(fields=("provision",), sim_threshold=0.2)
    assert counts["provision"] >= 0
    assert counts["provision"] == pipe.catalog.read("imputed_provision").count()
    if counts["provision"]:
        imp = pipe.catalog.read("imputed_provision")
        assert {"url", "imputed_value", "donor_count", "mean_sim"} <= set(imp.columns)
        assert imp.where("imputed_value IS NULL").count() == 0


def test_dims_reductions_equal_direct_aggregations(pipeline_run):
    """A1, A2 and A4 over the stored ``field_hash_mapping`` equal the same
    dimensions aggregated directly over the long form of the records."""
    from entity_resolution_pipeline_spark.operators.preprocess import (
        field_stats,
        string_counts,
        strings_long,
        unique_strings,
    )

    pipe, *_ = pipeline_run
    fhm = pipe.catalog.read("field_hash_mapping")
    long_df = strings_long(pipe.catalog.read("records"))
    direct = {
        "unique_strings": long_df.groupBy("hash").agg(F.min("value").alias("value")),
        "string_counts": long_df.groupBy("hash").agg(F.count(F.lit(1)).alias("cnt")),
        "field_stats": long_df.groupBy("field").agg(
            F.count(F.lit(1)).alias("total_occurrences"),
            F.countDistinct("hash").alias("distinct_values"),
        ),
    }
    reduced = {
        "unique_strings": unique_strings(fhm),
        "string_counts": string_counts(fhm),
        "field_stats": field_stats(fhm),
    }
    for name, want in direct.items():
        got = reduced[name]
        assert got.dtypes == want.dtypes, name
        assert got.count() == want.count() > 0, name
        assert got.exceptAll(want).count() == 0, name
        assert want.exceptAll(got).count() == 0, name


def test_resume_recomputes_old_layout_dims(spark, tmp_path_factory):
    """A warehouse written when ``field_hash_mapping`` had no ``value``
    column, with a dims ok row at the records fingerprint, recomputes dims
    instead of skipping it, and ``impute`` then reads the new table."""
    from entity_resolution_pipeline_spark.operators.preprocess import strings_long
    from entity_resolution_pipeline_spark.sources.catalog import fingerprint_files

    wh = str(tmp_path_factory.mktemp("erp_wh_old_dims"))
    wp = web_pages_df(spark, 40)
    lp = spark.createDataFrame(labeled_pairs_pdf(40, 200))
    pipe = ERPipeline(spark, wh, ERConfig())
    pipe.run(wp, lp)
    records = pipe.catalog.read("records")
    old_fhm = strings_long(records).groupBy("hash", "field").agg(F.count(F.lit(1)).alias("cnt"))
    pipe.catalog.write(old_fhm, "field_hash_mapping")
    rec_fp = fingerprint_files(records)
    Manifest(pipe.catalog, run_id="old-layout").record_stage(
        "dims", "field_hash_mapping", -1, 0, rec_fp
    )
    assert "value" not in pipe.catalog.read("field_hash_mapping").columns

    pipe2 = ERPipeline(spark, wh, ERConfig())
    pipe2.run(wp, lp)
    m2 = pipe2.manifest.read().where(
        (F.col("run_id") == pipe2.manifest.run_id) & (F.col("stage") == "dims")
    )
    assert {r["status"] for r in m2.collect()} == {"started", "ok"}
    assert pipe2.catalog.read("field_hash_mapping").columns == ["hash", "field", "cnt", "value"]
    assert pipe2.impute(fields=("provision",), sim_threshold=0.2)["provision"] >= 0


def test_stat_uris_bulk_local(tmp_path):
    """_stat_uris: local file:// and bare paths stat without any Spark/JVM
    involvement (df is never touched), matching os.stat exactly."""
    import os as _os

    from entity_resolution_pipeline_spark.sources.catalog import _stat_uris

    p1 = tmp_path / "a.parquet"
    p2 = tmp_path / "b.parquet"
    p1.write_bytes(b"x" * 10)
    p2.write_bytes(b"y" * 20)
    uris = [f"file://{p1}", str(p2)]
    out = _stat_uris(None, uris)
    assert out[uris[0]] == (10, _os.stat(p1).st_mtime_ns)
    assert out[uris[1]] == (20, _os.stat(p2).st_mtime_ns)


def test_catalog_compact_small_files(spark, tmp_path_factory):
    """compact() rewrites a fragmented table into ~target-sized files:
    file count collapses, rows/values identical, crash-safe staging (no
    leftover __staging/__backup dirs)."""
    import os as _os

    from entity_resolution_pipeline_spark.sources.catalog import Catalog

    wh = str(tmp_path_factory.mktemp("compact_wh"))
    cat = Catalog(spark, wh)
    # 12 appends x 4 partitions each -> dozens of tiny files
    for i in range(12):
        cat.append(spark.range(i * 100, (i + 1) * 100).repartition(4), "frag")

    def count_files(p):
        return sum(1 for _, _, fs in _os.walk(p) for f in fs
                   if f.endswith(".parquet"))

    before_files = count_files(cat.path("frag"))
    before_rows = sorted(r["id"] for r in cat.read("frag").collect())
    n_after = cat.compact("frag", target_file_mb=256)
    assert before_files >= 40 and n_after <= 2
    assert n_after == count_files(cat.path("frag"))
    assert sorted(r["id"] for r in cat.read("frag").collect()) == before_rows
    assert not _os.path.isdir(cat.path("frag__staging"))
    assert not _os.path.isdir(cat.path("frag__backup"))


def test_catalog_partitioned_write_prunes_scan(spark, tmp_path_factory):
    """partition_by layout must turn an equality filter into partition
    pruning at the scan (PartitionFilters in the plan, not a post-scan
    filter over every file) — the layout lever that lets a 100 TB table
    answer a single-source query by touching one directory."""
    from entity_resolution_pipeline_spark.sources.catalog import Catalog

    wh = str(tmp_path_factory.mktemp("part_wh"))
    cat = Catalog(spark, wh)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cat.write(docs, "docs_by_source", partition_by=["source"])
    one = cat.read("docs_by_source").where(F.col("source") == "src3")
    jvm = spark.sparkContext._jvm
    plan = one._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert "PartitionFilters" in plan
    pf_line = [ln for ln in plan.splitlines() if "PartitionFilters" in ln][0]
    assert "source" in pf_line, pf_line
    assert one.count() > 0


def test_catalog_compact_partitioned_preserves_layout(spark, tmp_path_factory):
    """ADVICE r4: compact() on a hive-partitioned table must re-write WITH
    the partitioning — the ``col=value`` dirs (and the partition pruning
    they enable) survive, values identical, file count not worse."""
    import os as _os

    from entity_resolution_pipeline_spark.sources.catalog import Catalog

    wh = str(tmp_path_factory.mktemp("compact_part_wh"))
    cat = Catalog(spark, wh)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # repartition(8) -> several files inside every partition dir
    cat.write(docs.repartition(8), "dp", partition_by=["source"])
    assert cat.partition_columns("dp") == ["source"]

    def count_files(p):
        return sum(1 for _, _, fs in _os.walk(p) for f in fs
                   if f.endswith(".parquet"))

    before_files = count_files(cat.path("dp"))
    before = sorted((r["doc_id"], r["source"])
                    for r in cat.read("dp").select("doc_id", "source").collect())
    n_after = cat.compact("dp", target_file_mb=256)
    assert cat.partition_columns("dp") == ["source"], "partitioning flattened"
    assert n_after < before_files
    after = sorted((r["doc_id"], r["source"])
                   for r in cat.read("dp").select("doc_id", "source").collect())
    assert after == before
    # pruning still plans as a PartitionFilter after the rewrite
    one = cat.read("dp").where(F.col("source") == before[0][1])
    jvm = spark.sparkContext._jvm
    plan = one._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    pf_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf_lines and "source" in pf_lines[0], plan


def test_catalog_compact_crash_recovery(spark, tmp_path_factory):
    """ADVICE r4: a compact killed between its two renames leaves the only
    copy at ``name__backup``; the next compact() heals it via the shared
    restore preamble instead of failing until manual repair."""
    import os as _os

    from entity_resolution_pipeline_spark.sources.catalog import Catalog

    wh = str(tmp_path_factory.mktemp("compact_crash_wh"))
    cat = Catalog(spark, wh)
    cat.write(spark.range(500), "t")
    rows = sorted(r["id"] for r in cat.read("t").collect())
    # simulate the crash window: old table renamed to backup, new one not
    # yet swapped in (staging already gone)
    _os.rename(cat.path("t"), cat.path("t__backup"))
    assert not cat.exists("t")
    cat.compact("t", target_file_mb=256)
    assert cat.exists("t")
    assert sorted(r["id"] for r in cat.read("t").collect()) == rows
    assert not _os.path.isdir(cat.path("t__staging"))
    assert not _os.path.isdir(cat.path("t__backup"))


def test_confirmed_min_estimator():
    """bench._confirmed_min: an unconfirmed fast outlier is rejected, a
    reproduced min is kept, degenerate inputs fall back to plain min.
    First case is the literal r4 driver data that sat the scaling gate at
    exactly 0.80 (21.47 unreproduced vs a 25-27 s cluster)."""
    import bench

    assert bench._confirmed_min([21.47, 26.45, 26.59, 25.26]) == 25.26
    assert bench._confirmed_min([6.709, 6.71, 7.93]) == 6.709
    assert bench._confirmed_min([5.0]) == 5.0
    assert bench._confirmed_min([10.0, 20.0]) == 10.0


def test_catalog_compact_splits_oversized_partition(spark, tmp_path_factory):
    """Self-review r5: hashing on the partition columns alone can never
    split one value's rows across tasks — an oversized partition value
    came back as a single giant file. compact() must salt oversized
    values into ~target-sized files while keeping small values at one
    file and all rows intact."""
    import os as _os

    from entity_resolution_pipeline_spark.sources.catalog import Catalog

    wh = str(tmp_path_factory.mktemp("compact_split_wh"))
    cat = Catalog(spark, wh)
    big = spark.range(60000).select(
        "id", F.lit("big").alias("part"),
        F.repeat(F.md5(F.col("id").cast("string")), 6).alias("payload"),
    )
    small = spark.range(200).select(
        (F.col("id") + 1_000_000).alias("id"), F.lit("small").alias("part"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    cat.write(big.unionByName(small), "t", partition_by=["part"])
    n_rows_before = cat.read("t").count()
    sizes = cat._partition_leaf_sizes("t", 1)
    assert sizes[("big",)] > 2 * 1024 * 1024  # premise: big value >> target

    cat.compact("t", target_file_mb=1)

    def files_in(part):
        d = _os.path.join(cat.path("t"), f"part={part}")
        return [f for f in _os.listdir(d) if f.endswith(".parquet")]

    assert len(files_in("big")) >= 2, "oversized value not split"
    assert len(files_in("small")) == 1
    assert cat.read("t").count() == n_rows_before
    assert cat.partition_columns("t") == ["part"]
    # no helper columns leaked into the data
    assert not any(c.startswith("__") for c in cat.read("t").columns)
