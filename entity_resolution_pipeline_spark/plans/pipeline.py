"""The end-to-end entity-resolution DAG (SURVEY.md §7.1).

    web_pages -> records -> field_hash_mapping, blocking keys -> candidate pairs
              -> model -> scores (one Arrow pass over the pair rows, broadcast LR)
              -> edges -> clusters -> evaluation

Lifecycle mirrors the reference pipeline (/root/reference/src/pipeline.py:98-190):
a graph of named stages (``STAGE_TABLES``), each `read -> transform -> write
its tables` in ``ERPipeline._run_stage`` and skipped on resume when all its
tables are committed and the manifest holds an ok row for the same
``resume_key`` (the reference's src/pipeline.py:230-261). Branches that do
not depend on each other run side by side on one thread pool per run: dims
and train beside blocking -> pairs, and a stage's tables beside each other.
Every stage appends per-partition lineage + metrics rows (north_rule); the
manifest and the row counts reported here come from parquet footers on the
driver, so bookkeeping runs no Spark job. The other values a run reports
about a stage are observed by the stage's own write (``DataFrame.observe``)
and kept on its manifest row, so a resumed run reads them with no job:
the input's content fingerprint, the score dup ratio and ``n_clusters``.
Every Spark job of a run is in a job group ``er:<run_id>:run``, or
``er:<run_id>:<stage>`` inside a stage.

The classifier is trained driver-side on the labeled pairs (tiny — ~2k rows,
M1/M2), stored as the one-row ``model`` table (so a resume does not refit)
and broadcast into the scoring pass; everything else is distributed.
"""

from __future__ import annotations

import json
import time
from concurrent.futures import Future, ThreadPoolExecutor, wait
from dataclasses import dataclass
from decimal import Decimal

import numpy as np
import pyarrow.parquet as pq
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F  # noqa: N812

from ..operators import blocking as B  # noqa: N812
from ..operators import cluster as C  # noqa: N812
from ..operators import pairs as P  # noqa: N812
from ..operators.classify import (
    LRModel,
    balance_classes,
    confusion,
    feature_importance,
    fit_logistic_regression,
    precision_recall_curve,
    roc_auc,
    stratified_split,
)
from ..operators.preprocess import (
    PAGE_COLUMNS,
    derive_records,
    field_hash_mapping,
    strings_long,
    unique_strings,
)
from ..operators.util import ensure_parallelism, job_group
from ..sources.catalog import (
    Catalog,
    Manifest,
    content_aggs,
    content_fingerprint,
    fingerprint_df,
    fingerprint_files,
)

# The tables each stage writes, in run order; the first carries the
# stage's manifest lineage.
STAGE_TABLES = {
    "preprocess": ("records",),
    "dims": ("field_hash_mapping",),
    "blocking": ("blocking_keys",),
    "pairs": ("candidate_pairs", "oversized_blocks"),
    "train": ("model",),
    "score": ("scored_pairs",),
    "edges": ("edges",),
    "cluster": ("clusters",),
}
STAGES = list(STAGE_TABLES)
MODEL_METRICS = ("train", "test", "feature_importance", "rfe_selected")  # stored with the model
# At and above this many candidate pairs the score stage first repartitions
# the pair rows by person1, so same-person rows share a task's memo
# (BENCH/BASELINE.md): 42-60 s -> 25.6 s at 5.8M pairs, while at 58k pairs
# the shuffle costs more than the memo hits save (1.39 -> 1.62 s).
SCORE_REPARTITION_MIN_PAIRS = 2_000_000


def resume_key(upstream: str, stage: str, *reads) -> str:
    """A stage's resume key: its upstream stage's key, its name, then the
    values it reads beyond its upstream tables (config fields, the model
    digest, the labels' fingerprint). Resume assumes every stage's output
    is a deterministic function of its key, so a stage recomputed at an
    unchanged key leaves later stages' keys, and their skips, as they were.
    The root is the file fingerprint of the committed ``records``."""
    return "|".join(str(v) for v in (upstream, stage, *reads))


@dataclass
class ERConfig:
    decision_threshold: float = 0.90   # config.yml:129
    min_edge_weight: float = 0.5       # config.yml:135
    train_frac: float = 0.7            # config.yml:22
    seed: int = 42                     # config.yml:15
    # 32x8 (r=4): blocked-pairs F1 1.0000 at 200 and 1000 entities in the
    # round-4 A/B vs 64x16, at half the sketch + key fan-out cost
    lsh_num_perm: int = 32
    lsh_bands: int = 8
    max_block_size: int = 64
    # M4 RFE: None = disabled, matching the reference's shipped config
    # (config.yml:105); an int selects down to that many features
    rfe_min_features: int | None = None


class ERPipeline:
    """Library API analogue of EntityResolutionIntegration
    (/root/reference/src/integration.py:30-117)."""

    def __init__(self, spark: SparkSession, warehouse: str, config: ERConfig | None = None,
                 run_id: str | None = None):
        self.spark = spark
        self.catalog = Catalog(spark, warehouse)
        self.manifest = Manifest(self.catalog, run_id=run_id)
        self.config = config or ERConfig()
        self.metrics: dict = {}
        self.observed: dict[str, dict] = {}  # stage -> values (see _run_stage)

    # ---------- stage runner ----------

    def _stored(self, stage: str, key: str, observes: bool = False) -> dict | None:
        """The values a completed stage recorded (``{}`` if it observes
        none), or None when it has to run: a table is not committed, no ok
        row counts for this key, or an observing stage's row has none."""
        if not (all(self.catalog.exists(t) for t in STAGE_TABLES[stage])
                and self.manifest.stage_complete(stage, key)):
            return None
        return self.manifest.observed(stage, key) if observes else {}

    def _submit(self, pool: ThreadPoolExecutor, fn, *args) -> Future:
        """``fn(*args)`` on ``pool``, with this thread's Spark local
        properties (job group, job description) carried into the worker."""
        return pool.submit(inheritable_thread_target(self.spark)(fn), *args)

    def _job_group(self, name: str):
        """Run the Spark jobs started on this thread (and on pool tasks
        submitted from it) in the job group ``er:<run_id>:<name>``."""
        return job_group(self.spark, f"er:{self.manifest.run_id}:{name}")

    def _run_stage(self, pool: ThreadPoolExecutor, stage: str, key: str | None,
                   rows_in: int | None, build_df, force: bool = False,
                   obs: Observation | None = None) -> DataFrame:
        """Write ``stage``'s tables unless it is done; returns its first
        table. ``build_df()`` returns one DataFrame per table of
        ``STAGE_TABLES[stage]``, as a tuple when there are several; the
        tables are written together, the first on this thread and the rest
        on ``pool``, and an error is raised once every write has finished.

        ``key`` is the stage's ``resume_key``: a new ``ERConfig`` field, or
        any other value a stage reads, goes into the key of the stage that
        reads it, or a rerun with it changed serves the old tables.

        A computed stage appends a ``started`` row before it writes and its
        ok rows once all its tables are committed, so a run killed in
        between leaves no older ok row counting as this stage's output
        (``Manifest.stage_complete``). Its Spark jobs, from ``build_df()``
        and the writes, run in the job group ``er:<run_id>:<stage>``.

        ``obs``, an Observation ``build_df()`` attached to its plan, is
        computed by the writes; its values (Decimals as strings) go on the
        ok rows and into ``self.observed[stage]``. A skipped stage takes
        them from its ok row; one whose row carries none runs again. With
        ``key`` None the stage fingerprints its own input: it runs, and
        its ok rows carry the ``n`` and ``content_fingerprint`` of the
        ``content_aggs`` it observed, so no separate scan labels them."""
        tables = STAGE_TABLES[stage]
        stored = None
        if not force and key is not None:
            stored = self._stored(stage, key, observes=obs is not None)
        if stored is not None:
            self.observed[stage] = stored
            self.manifest.record_skipped(stage, key)
            return self.catalog.read(tables[0])
        self.manifest.record_started(stage)
        with self._job_group(stage):
            t0 = time.time()
            out = build_df()
            dfs = out if isinstance(out, tuple) else (out,)
            rest = [self._submit(pool, self.catalog.write, df, name)
                    for df, name in zip(dfs[1:], tables[1:], strict=True)]
            try:
                self.catalog.write(dfs[0], tables[0])
            finally:
                wait(rest)
            for f in rest:
                f.result()
            wall_ms = int((time.time() - t0) * 1000)
        observed = None
        if obs is not None:
            observed = {k: str(v) if isinstance(v, Decimal) else v for k, v in obs.get.items()}
            self.observed[stage] = observed
        if key is None:
            rows_in, key = observed["n"], content_fingerprint(observed)
        self.manifest.record_stage(stage, tables[0], rows_in, wall_ms, key,
                                   observed=observed)
        return self.catalog.read(tables[0])

    # ---------- full run ----------

    def run(self, web_pages: DataFrame, labeled_pairs: DataFrame | None = None,
            force: bool = False) -> dict:
        if labeled_pairs is None and not self.catalog.exists("model"):
            raise ValueError("no labeled pairs given and no saved model found")
        # leaving the pool's block waits for every branch still running, so
        # an error from one branch propagates only after all writes
        # finished; pool tasks inherit the run's job group
        with self._job_group("run"), ThreadPoolExecutor() as pool:
            return self._run(pool, web_pages, labeled_pairs, force)

    def _run(self, pool: ThreadPoolExecutor, web_pages: DataFrame,
             labeled_pairs: DataFrame | None, force: bool) -> dict:
        cfg = self.config
        # two-level resume fingerprinting for the (100 TB) input:
        # 1. metadata level — md5 of the source file manifest (path, size,
        #    mtime_ns): a stat-only probe, so deciding to SKIP the input
        #    never scans it. The parquet-dir analogue of comparing Iceberg
        #    snapshot ids.
        # 2. content level — only when the manifest changed (or the input is
        #    not file-backed): an xxhash64 aggregate over every column
        #    preprocess reads (PAGE_COLUMNS). Catches rewritten-but-identical
        #    files; costs a scan when records are committed (else the
        #    records write observes it).
        meta_fp = fingerprint_files(web_pages)
        done_fp = None  # the fingerprint the committed records match, if any
        if not force and meta_fp is not None and self._stored("preprocess", meta_fp) is not None:
            done_fp = meta_fp
        elif not force and self.catalog.exists("records"):
            # With no committed records (or force) no stored row can match
            # the content fingerprint, so no scan runs: the records write
            # observes it instead.
            content_fp = fingerprint_df(web_pages, PAGE_COLUMNS)
            if self._stored("preprocess", content_fp) is not None:
                done_fp = content_fp
        if done_fp is not None:
            self.manifest.record_skipped("preprocess", done_fp)
            records = self.catalog.read("records")
        else:
            pages_obs = Observation("preprocess")

            def build_records():
                # observed after the repartition, in the write's own stage,
                # whose tasks count once however often they are retried
                src = ensure_parallelism(web_pages.select(*PAGE_COLUMNS))
                return derive_records(src.observe(pages_obs, *content_aggs(PAGE_COLUMNS)))

            records = self._run_stage(pool, "preprocess", None, None, build_records,
                                      obs=pages_obs)
        if meta_fp is not None and done_fp != meta_fp:
            # register the manifest fingerprint too, so the NEXT run can
            # skip on metadata alone
            self.manifest.record_alias("preprocess", meta_fp)
        n_pages = self.catalog.num_rows("records")

        # every later key chains from the committed records' files: the same
        # whichever level skipped preprocess
        rec_fp = fingerprint_files(records)

        # dims and train read only the records and the labels, so they run
        # beside blocking -> pairs; train is joined before score, dims
        # before the run returns.
        # dedup dimensions: one (hash, field) table; A1, A2 and A4 reduce it
        dims = self._submit(pool, self._run_stage, pool, "dims", resume_key(rec_fp, "dims"),
                            n_pages, lambda: field_hash_mapping(strings_long(records)), force)
        trained = None
        if labeled_pairs is not None:
            def train_stage():
                lp_fp = (fingerprint_files(labeled_pairs)
                         or fingerprint_df(labeled_pairs, ["left", "right", "match"]))
                train_key = resume_key(rec_fp, "train", lp_fp, cfg.train_frac, cfg.seed,
                                       cfg.rfe_min_features, cfg.decision_threshold)

                def build_model():
                    model = self.train(records, labeled_pairs)
                    metrics = {k: self.metrics[k] for k in MODEL_METRICS if k in self.metrics}
                    # a JVM-side row: a Python-side DataFrame would start Python workers
                    return self.spark.range(1, numPartitions=1).select(
                        F.lit(json.dumps(model.to_dict())).alias("model"),
                        F.lit(json.dumps(metrics)).alias("metrics"),
                    )

                self._run_stage(pool, "train", train_key, -1, build_model, force)

            trained = self._submit(pool, train_stage)

        blocking_key = resume_key(rec_fp, "blocking", cfg.lsh_num_perm, cfg.lsh_bands)
        keys = self._run_stage(
            pool, "blocking", blocking_key, n_pages,
            lambda: B.all_blocking_keys(records, num_perm=cfg.lsh_num_perm, bands=cfg.lsh_bands),
            force,
        )

        pairs_key = resume_key(blocking_key, "pairs", cfg.max_block_size)
        # oversized blocks are a table of their own, so a resumed run (pairs
        # stage skipped) still reports them; metrics keeps only a bounded
        # sample — at 100 TB the full list can itself be large.
        pairs = self._run_stage(
            pool, "pairs", pairs_key, -1,
            lambda: B.candidate_pairs(keys, max_block_size=cfg.max_block_size),
            force,
        )
        n_oversized = self.catalog.num_rows("oversized_blocks")
        self.metrics["oversized_blocks_count"] = n_oversized
        self.metrics["oversized_blocks"] = [
            {"key": r["key"], "size": int(r["block_size"])}
            for r in self.catalog.read("oversized_blocks")
            .orderBy(F.desc("block_size"), "key").limit(100).collect()
        ] if n_oversized else []
        n_pairs = self.catalog.num_rows("candidate_pairs")
        self.metrics["candidate_pairs"] = n_pairs

        if trained is not None:
            trained.result()
        stored = pq.read_table(self.catalog.data_files("model")).to_pylist()[0]
        model = LRModel.from_dict(json.loads(stored["model"]))
        self.metrics.update(json.loads(stored["metrics"]))

        # retraining with new labels must invalidate cached scored_pairs even
        # when the pairs are unchanged
        score_key = resume_key(pairs_key, "score", model.digest())

        # the dup ratio (pair rows per distinct field tuple) is observed by
        # the scored_pairs write itself; HLL registers merge by max, so a
        # retried task cannot inflate it
        score_obs = Observation("score")

        def build_scores():
            pair_fields = P.with_pair_key(P.attach_pair_fields(pairs, records))
            # pair_fields has exactly n_pairs rows, so the plan is chosen
            # with no job
            if n_pairs >= SCORE_REPARTITION_MIN_PAIRS:
                pair_fields = pair_fields.repartition("person1")
            scored = P.score(pair_fields, model.to_dict(), passthrough=("url1", "url2"))
            return scored.observe(score_obs, F.approx_count_distinct("pair_key").alias("d")).select(
                "url1", "url2", "confidence", "prefilter"
            )

        t_score0 = time.time()
        scored = self._run_stage(pool, "score", score_key, int(n_pairs), build_scores, force,
                                 score_obs)
        self.metrics["score_wall_s"] = time.time() - t_score0
        self.metrics["score_dup_ratio"] = round(n_pairs / max(1, self.observed["score"]["d"]), 3)
        self.metrics["pairs_scored_per_sec"] = (
            n_pairs / self.metrics["score_wall_s"] if self.metrics["score_wall_s"] > 0 else None
        )

        edges_key = resume_key(score_key, "edges", cfg.min_edge_weight, cfg.decision_threshold)
        edges = self._run_stage(
            pool, "edges", edges_key, int(n_pairs),
            lambda: C.build_edges(scored, cfg.min_edge_weight, cfg.decision_threshold), force,
        )

        # a cluster id is the min url of its component and every edge
        # endpoint is a record url, so each cluster has exactly one member
        # whose entity_id is its cluster_id; the clusters write counts them
        cluster_obs = Observation("cluster")

        def build_clusters():
            nodes = records.select(F.col("url").alias("node"))
            return C.assign_clusters(edges, nodes).observe(
                cluster_obs, F.count_if(F.col("entity_id") == F.col("cluster_id")).alias("n_clusters")
            )

        clusters = self._run_stage(
            pool, "cluster", resume_key(edges_key, "cluster"), int(n_pairs), build_clusters,
            force, cluster_obs)

        evaluation = (self.evaluate(clusters, labeled_pairs, pairs)
                      if labeled_pairs is not None else None)
        dims.result()
        result = {
            "n_pages": n_pages,
            "candidate_pairs": int(n_pairs),
            "n_clusters": int(self.observed["cluster"]["n_clusters"]),
            "metrics": self.metrics,
        }
        if evaluation is not None:
            result["evaluation"] = evaluation
        return result

    # ---------- training ----------

    def featurize_labeled(self, records: DataFrame, labeled_pairs: DataFrame) -> DataFrame:
        lp = normalize_labeled_pairs(labeled_pairs)
        wide = P.with_pair_key(P.attach_pair_fields(lp, records))
        return P.featurize(wide, passthrough=("url1", "url2", "label"))

    def train(self, records: DataFrame, labeled_pairs: DataFrame) -> LRModel:
        feat_df = self.featurize_labeled(records, labeled_pairs)
        rows = feat_df.select("url1", "url2", "features", "label", "prefilter").collect()
        # collect() row order follows partition order, which is not stable
        # across runs; the IRLS fit (via the stratified split) must see a
        # deterministic order or the model digest changes on every rerun
        rows.sort(key=lambda r: (r["url1"], r["url2"]))
        X = np.array([r["features"] for r in rows], dtype=np.float64)
        y = np.array([1.0 if r["label"] else 0.0 for r in rows])

        tr, te = stratified_split(y, self.config.train_frac, self.config.seed)
        # M3 guard-rail: degenerate label sets (single class / >10x skew) in
        # the train split are balanced before fitting (classification.py:
        # 415-471); evaluation below stays on the original, unbalanced rows
        # so the prefilter overrides remain row-aligned.
        X_fit, y_fit = balance_classes(X[tr], y[tr], seed=self.config.seed)
        if self.config.rfe_min_features is not None:
            # M4: select, fit on the subset, then re-embed into the full
            # feature space (dropped features get weight 0) so the
            # fixed-width scoring paths stay untouched
            from ..operators.classify import expand_model, rfe_select

            sel = rfe_select(X_fit, y_fit, self.config.rfe_min_features)
            sub = fit_logistic_regression(
                X_fit[:, sel], y_fit, c=1.0, balanced=True,
                feature_names=[P.FEATURE_NAMES[i] for i in sel],
            )
            model = expand_model(sub, sel, P.FEATURE_NAMES)
            self.metrics["rfe_selected"] = [P.FEATURE_NAMES[i] for i in sel]
        else:
            model = fit_logistic_regression(
                X_fit, y_fit, c=1.0, balanced=True, feature_names=P.FEATURE_NAMES
            )

        # test-split metrics with prefilter overrides (M6 semantics)
        pref = np.array([r["prefilter"] for r in rows], dtype=object)
        p = model.predict_proba(X)
        p = np.where(pref == "true", 1.0, np.where(pref == "false", 0.0, p))
        pred = (p >= self.config.decision_threshold).astype(int)
        self.metrics["train"] = confusion(y[tr], pred[tr])
        self.metrics["test"] = confusion(y[te], pred[te])
        self.metrics["test"]["roc_auc"] = roc_auc(y[te], p[te])
        self.metrics["test"]["pr_curve"] = precision_recall_curve(y[te], p[te], max_points=50)
        self.metrics["feature_importance"] = feature_importance(model)[:10]
        return model

    # ---------- evaluation ----------

    def evaluate(self, clusters: DataFrame, labeled_pairs: DataFrame,
                 candidate_pairs: DataFrame | None = None) -> dict:
        """Pairwise F1 of predicted same-cluster vs labels (M6).

        Reported twice: on all labeled pairs, and restricted to labeled pairs
        that co-occur in at least one block ("at matched blocking keys", the
        BASELINE.json gate). ``candidate_pairs`` holds distinct (url1, url2)
        rows, as the pairs stage writes them.
        """
        lp = normalize_labeled_pairs(labeled_pairs)
        c1 = clusters.select(F.col("entity_id").alias("url1"), F.col("cluster_id").alias("cid1"))
        c2 = clusters.select(F.col("entity_id").alias("url2"), F.col("cluster_id").alias("cid2"))
        joined = (
            lp.join(c1, "url1", "left")
            .join(c2, "url2", "left")
            .withColumn(
                "pred",
                (F.col("cid1").isNotNull() & (F.col("cid1") == F.col("cid2"))).cast("int"),
            )
        )
        if candidate_pairs is not None:
            marker = candidate_pairs.select("url1", "url2", F.lit(1).alias("blocked"))
            joined = joined.join(marker, ["url1", "url2"], "left")
            blocked = F.col("blocked").isNotNull()
        else:
            blocked = F.lit(True)

        # one aggregation for both scopes: tp/fp/fn/tn over all pairs and
        # over the blocked ones
        cells = {"tp": (1, 1), "fp": (0, 1), "fn": (1, 0), "tn": (0, 0)}
        aggs = []
        for scope, cond in (("all_pairs", F.lit(True)), ("blocked_pairs", blocked)):
            for cell, (label, pred) in cells.items():
                hit = cond & (F.col("label") == label) & (F.col("pred") == pred)
                aggs.append(F.sum(hit.cast("long")).alias(f"{scope}.{cell}"))
        r = joined.agg(*aggs).collect()[0]

        def conf_of(scope: str) -> dict:
            tp, fp, fn, tn = (int(r[f"{scope}.{k}"] or 0) for k in cells)
            prec = tp / (tp + fp) if tp + fp else 0.0
            rec = tp / (tp + fn) if tp + fn else 0.0
            f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
            return {"tp": tp, "fp": fp, "fn": fn, "tn": tn,
                    "precision": prec, "recall": rec, "f1": f1}

        out = {scope: conf_of(scope) for scope in ("all_pairs", "blocked_pairs")}
        self.metrics["evaluation"] = out
        return out

    def analyze_misclassifications(self, labeled_pairs: DataFrame) -> dict:
        """Misclassification analysis (reference misclass.py / analyze_pairs
        analogue): FP/FN labeled pairs joined back to both sides' fields,
        features, and confidence. Writes the ``misclassified_pairs`` table
        and returns per-error-type summary stats in ``metrics``."""
        from ..operators.analyze import error_summary, misclassified_pairs

        lp = normalize_labeled_pairs(labeled_pairs)
        errors = misclassified_pairs(
            self.catalog.read("scored_pairs"),
            lp,
            self.catalog.read("records"),
            threshold=self.config.decision_threshold,
        )
        self.catalog.write(errors, "misclassified_pairs")
        summary = error_summary(self.catalog.read("misclassified_pairs"))
        self.metrics["misclassification"] = summary
        return summary

    def impute(self, fields=("provision", "subjects"), method: str = "average",
               sim_threshold: float = 0.30, max_donors: int = 10) -> dict:
        """§2.10 vector hot-deck imputation over the preprocessed records.

        Stores imputed values in ``imputed_<field>`` tables; like the
        reference (imputation.py:335-431 + SURVEY §2.10), the scoring path
        keeps reading original hashes — imputation is an enrichment output.
        """
        from ..operators.embed import embed_unique_strings
        from ..operators.impute import impute_field

        records = self.catalog.read("records")
        us = unique_strings(self.catalog.read("field_hash_mapping"))
        emb = embed_unique_strings(us)
        emb.persist()
        counts = {}
        for field_name in fields:
            out = impute_field(
                records, emb, field_name,
                sim_threshold=sim_threshold, max_donors=max_donors, method=method,
            )
            self.catalog.write(out, f"imputed_{field_name}")
            counts[field_name] = self.catalog.num_rows(f"imputed_{field_name}")
        emb.unpersist()
        self.metrics["imputed"] = counts
        return counts

    def export_clusters_csv(self, path: str) -> None:
        """S7: CSV export (cluster_id, entity_id) mirroring clustering.py:1102-1136."""
        self.catalog.read("clusters").select("cluster_id", "entity_id").write.mode(
            "overwrite"
        ).option("header", True).csv(path)


def normalize_match(col):
    """Truthy-string normalization (S2, parallel_features.py:386-411)."""
    return (
        F.when(F.lower(col.cast("string")).isin("true", "yes", "t", "y", "1", "match"), 1)
        .otherwise(0)
    )


def normalize_labeled_pairs(labeled_pairs: DataFrame) -> DataFrame:
    """(left, right, match) labels -> (url1, url2, label): the pair ordered
    url1 <= url2, as candidate and scored pairs are, and a 0/1 label."""
    return labeled_pairs.select(
        F.least("left", "right").alias("url1"),
        F.greatest("left", "right").alias("url2"),
        normalize_match(F.col("match")).alias("label"),
    )
