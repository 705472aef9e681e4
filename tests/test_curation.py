"""Training-data curation operators: Gopher-style quality signals, PII
redaction, deterministic sampling (FIXTURES: crafted rows, hand-computed)."""

import pyspark.sql.functions as F

from entity_resolution_pipeline_spark.operators.sample import (
    sample_by_group,
    sample_rows,
    split_train_holdout,
    threshold_for,
)
from entity_resolution_pipeline_spark.operators.textstats import (
    gopher_quality,
    redact_pii,
)


class TestGopherQuality:
    def test_hand_computed_signals(self, spark):
        rows = [
            # 4 lines, 2 distinct ("dup\ndup" duplicated), one ends '...'
            (0, "dup line\ndup line\nend here...\nword word word"),
            # pure repetition: top word = 3/4
            (1, "spam spam spam other"),
            # symbols: 2x'#', 1x'…', 1x'...' over 2 words
            (2, "ab# cd# … ..."),
            (3, ""),
            (4, "12345 678 alpha"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in gopher_quality(df).collect()}

        r0 = out[0]
        assert r0["frac_dup_lines"] == 0.25  # 4 lines, 3 distinct
        assert r0["frac_ellipsis_lines"] == 0.25
        assert r0["n_words"] == 9

        r1 = out[1]
        assert r1["top_word_frac"] == 0.75
        assert r1["frac_alpha_words"] == 1.0

        r2 = out[2]
        assert r2["n_words"] == 4
        assert r2["symbol_word_ratio"] == 1.0  # (2 + 1 + 1) / 4
        assert r2["frac_alpha_words"] == 0.5  # 'ab#', 'cd#'

        r3 = out[3]
        assert r3["n_words"] == 0 and r3["top_word_frac"] == 0.0
        assert r3["frac_dup_lines"] == 0.0

        r4 = out[4]
        assert abs(r4["frac_alpha_words"] - 1 / 3) < 1e-9


class TestTfidf:
    def test_hand_computed(self, spark):
        import math

        from entity_resolution_pipeline_spark.operators.textstats import (
            tfidf_top_terms,
        )

        rows = [(0, "a a b"), (1, "a c"), (2, "b b d")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {(r["doc_id"], r["rank"]): r for r in tfidf_top_terms(df, k=2).collect()}
        idf = lambda dfreq: math.log(4.0 / (dfreq + 1.0)) + 1.0  # noqa: E731
        assert out[(0, 1)]["term"] == "a"
        assert abs(out[(0, 1)]["score"] - 2 * idf(2)) < 1e-12
        assert out[(0, 2)]["term"] == "b"
        # rarer term outranks common one despite equal tf
        assert out[(1, 1)]["term"] == "c" and out[(1, 2)]["term"] == "a"
        assert out[(2, 1)]["term"] == "b" and out[(2, 2)]["term"] == "d"
        assert abs(out[(2, 2)]["score"] - idf(1)) < 1e-12

    def test_tie_breaks_lexicographic(self, spark):
        from entity_resolution_pipeline_spark.operators.textstats import (
            tfidf_top_terms,
        )

        df = spark.createDataFrame([(0, "z y")], "doc_id long, text string")
        out = {r["rank"]: r["term"] for r in tfidf_top_terms(df, k=2).collect()}
        assert out == {1: "y", 2: "z"}  # equal scores -> lexicographic


def _full_funnel_inputs(spark):
    """8 documents, each dropped by a known stage or kept, plus an eval set."""
    base = ("the quick brown fox jumps over the lazy dog while many "
            "common words fill this perfectly ordinary document body")
    near = base.replace("lazy dog", "lazy cat")
    eval_passage = "the held out benchmark answer phrase nobody should train on"
    rows = [
        (0, base),
        (1, base),                             # exact dup of 0
        (2, near),                             # near dup of 0
        (3, f"intro text {eval_passage} outro text words words words"),
        (4, "spam spam spam spam spam spam"),  # top_word_frac = 1.0
        (5, "# $ % ^ & * ( )"),                # no alpha words
        (6, "contact me at someone@example.org for more details about "
            "this otherwise clean and unique document text"),
        (7, "a second completely distinct clean document with plenty of "
            "different vocabulary spread across the line"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ev = spark.createDataFrame([(100, eval_passage)], "doc_id long, text string")
    return docs, ev


class TestCurateCorpus:
    def test_full_funnel(self, spark):
        """Every funnel stage drops exactly what it should: junk at the
        quality gate, copies at exact dedup, one survivor per near-dup
        cluster, eval-overlapping docs at decontamination; PII is redacted
        in the surviving text and the split column appears."""
        from entity_resolution_pipeline_spark.plans.curation import (
            CurationConfig,
            curate_corpus,
        )

        docs, ev = _full_funnel_inputs(spark)
        out, funnel = curate_corpus(
            docs, ev, CurationConfig(holdout_frac=0.25, redact=True)
        )
        kept = {r["doc_id"]: r for r in out.collect()}

        assert funnel["input"] == 8
        assert funnel["after_quality"] == 6          # 4 (repetition), 5 (symbols) out
        assert funnel["after_exact_dedup"] == 5      # 1 out (copy of 0)
        assert funnel["after_near_dup"] == 4         # 2 out (near dup of 0)
        assert funnel["after_decontaminate"] == 3    # 3 out (eval passage)
        assert set(kept) == {0, 6, 7}
        assert "<EMAIL>" in kept[6]["text"] and "someone" not in kept[6]["text"]
        assert all(r["split"] in ("train", "holdout") for r in kept.values())
        assert funnel["train"] + funnel["holdout"] == 3

        # deterministic: rerun gives identical rows and splits
        out2, funnel2 = curate_corpus(
            docs, ev, CurationConfig(holdout_frac=0.25, redact=True)
        )
        assert funnel2 == funnel
        assert {(r["doc_id"], r["split"]) for r in out2.collect()} == {
            (r["doc_id"], r["split"]) for r in out.collect()
        }

    def test_funnel_plan_is_flat_and_uncached(self, spark):
        """Each stage is checkpointed: the returned frame's analyzed plan
        has one leaf (the last checkpoint), not the whole funnel, and the
        call leaves nothing in the session's cache."""
        from entity_resolution_pipeline_spark.plans.curation import curate_corpus

        docs, ev = _full_funnel_inputs(spark)
        spark.catalog.clearCache()
        out, funnel = curate_corpus(docs, ev)
        assert out._jdf.queryExecution().analyzed().collectLeaves().size() == 1
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
        assert out.columns == ["doc_id", "text", "split"]
        assert out.count() == funnel["train"] + funnel["holdout"] == 3

    def test_funnel_phases_run_in_job_groups(self, spark):
        """Each funnel phase runs its Spark jobs in the job group
        ``curation:<phase>``; the caller's group is set again after."""
        from entity_resolution_pipeline_spark.plans.curation import curate_corpus

        docs, ev = _full_funnel_inputs(spark)
        sc = spark.sparkContext
        phases = ["input", "quality", "exact_dedup", "near_dup", "decontaminate", "split"]

        def jobs(phase):
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            return set(sc.statusTracker().getJobIdsForGroup(f"curation:{phase}"))

        before = {p: jobs(p) for p in phases}
        sc.setLocalProperty("spark.jobGroup.id", "caller")
        try:
            curate_corpus(docs, ev)
            assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        for p in phases:
            assert jobs(p) - before[p], p

    def test_funnel_without_eval_set(self, spark):
        from entity_resolution_pipeline_spark.plans.curation import curate_corpus

        texts = [
            "astronomy telescopes gather light from distant galaxies every night",
            "the recipe calls for flour butter sugar and a pinch of cinnamon",
            "quarterly revenue grew while operating expenses remained roughly flat",
            "the midfielder curled the free kick over the defensive wall",
            "glaciers carve deep valleys as they advance and retreat over millennia",
            "the orchestra tuned quietly before the conductor raised the baton",
        ]
        docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        out, funnel = curate_corpus(docs)
        assert "after_decontaminate" not in funnel
        assert funnel["after_near_dup"] == 6
        assert out.count() == 6


class TestKMVSketch:
    def test_estimate_accuracy_and_determinism(self, spark):
        from entity_resolution_pipeline_spark.operators.sketch import (
            kmv_estimate,
            kmv_sketch,
        )

        df = spark.range(5000).select(F.concat(F.lit("v"), "id").alias("v"))
        est1 = kmv_estimate(kmv_sketch(df, "v", k=256), k=256).collect()[0]
        est2 = kmv_estimate(kmv_sketch(df, "v", k=256), k=256).collect()[0]
        assert est1["minima"] == est2["minima"]  # fully deterministic
        assert abs(est1["distinct_est"] - 5000) / 5000 < 0.15
        assert est1["n_seen"] == 5000

    def test_small_group_exact(self, spark):
        from entity_resolution_pipeline_spark.operators.sketch import (
            kmv_estimate,
            kmv_sketch,
        )

        df = spark.createDataFrame(
            [("a", f"x{i % 7}") for i in range(50)] + [("b", "only")],
            "g string, v string",
        )
        out = {r["g"]: r for r in
               kmv_estimate(kmv_sketch(df, "v", k=16, group_col="g"), k=16).collect()}
        assert out["a"]["distinct_est"] == 7.0 and out["a"]["n_seen"] == 7
        assert out["b"]["distinct_est"] == 1.0

    def test_merge_equals_union_sketch(self, spark):
        """The defining sketch property: merging partial sketches gives the
        sketch of the union."""
        from entity_resolution_pipeline_spark.operators.sketch import (
            kmv_merge,
            kmv_sketch,
        )

        a = spark.range(0, 3000).select(F.concat(F.lit("u"), "id").alias("v"))
        b = spark.range(2000, 6000).select(F.concat(F.lit("u"), "id").alias("v"))
        sa = kmv_sketch(a, "v", k=128)
        sb = kmv_sketch(b, "v", k=128)
        merged = kmv_merge(sa.unionByName(sb), k=128).collect()[0]
        direct = kmv_sketch(a.unionByName(b), "v", k=128).collect()[0]
        assert merged["minima"] == direct["minima"]


class TestBM25:
    def test_hand_computed(self, spark):
        import math

        from entity_resolution_pipeline_spark.operators.textstats import bm25_search

        rows = [
            (0, "spark spark engine"),       # tf(spark)=2, dl=3
            (1, "spark only once here"),     # tf=1, dl=4
            (2, "nothing relevant at all"),  # no match
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in bm25_search(df, "spark", k=5).collect()}
        assert set(out) == {0, 1}  # non-matching doc absent
        assert out[0]["rank"] == 1 and out[1]["rank"] == 2
        # exact BM25 math for doc 0: N=3, df=2, avgdl=11/3
        idf = math.log((3 - 2 + 0.5) / (2 + 0.5) + 1.0)
        expect0 = idf * (2 * 2.2) / (2 + 1.2 * (0.25 + 0.75 * 3 / (11 / 3)))
        assert abs(out[0]["score"] - expect0) < 1e-9

    def test_multi_term_and_ties(self, spark):
        from entity_resolution_pipeline_spark.operators.textstats import bm25_search

        rows = [(0, "alpha beta"), (1, "alpha beta"), (2, "alpha gamma")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = [(r["doc_id"], r["rank"]) for r in
               bm25_search(df, "alpha beta", k=3).collect()]
        # docs 0 and 1 tie on score -> doc_id ascending breaks the tie
        assert sorted(out) == [(0, 1), (1, 2), (2, 3)]


class TestDecontaminate:
    def test_verbatim_passage_is_caught(self, spark):
        """Winnowing guarantees any shared substring of length >=
        k + window - 1 (15 chars at defaults) yields a shared fingerprint —
        an eval passage pasted into training text is flagged even with
        different surroundings."""
        from entity_resolution_pipeline_spark.operators.textstats import decontaminate

        passage = "the secret benchmark answer is forty two"
        train = spark.createDataFrame(
            [
                (0, f"random preamble text {passage} and a long random suffix"),
                (1, "completely unrelated training document with other words"),
                (2, passage),  # exact copy
            ],
            "doc_id long, text string",
        )
        ev = spark.createDataFrame(
            [(100, f"benchmark item: {passage}")], "doc_id long, text string"
        )
        out = {r["doc_id"]: r for r in decontaminate(train, ev).collect()}
        assert out[0]["contaminated"] and out[0]["n_shared_fps"] >= 1
        assert out[2]["contaminated"]
        assert not out[1]["contaminated"] and out[1]["n_shared_fps"] == 0

    def test_empty_eval_flags_nothing(self, spark):
        from entity_resolution_pipeline_spark.operators.textstats import decontaminate

        train = spark.createDataFrame([(0, "some text here")], "doc_id long, text string")
        ev = spark.createDataFrame([], "doc_id long, text string")
        out = decontaminate(train, ev).collect()
        assert len(out) == 1 and not out[0]["contaminated"]


class TestRedactPII:
    def test_redacts_and_counts(self, spark):
        rows = [
            (0, "mail me at jane.doe+x@example.co.uk or at 10.0.0.1 now"),
            (1, "account 123456789012 and phoneish 999888777666"),
            (2, "no pii here at all"),
            (3, "two mails a@b.io c@d.org and ip 192.168.1.254"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in redact_pii(df).collect()}
        assert out[0]["n_emails"] == 1 and out[0]["n_ips"] == 1
        assert "<EMAIL>" in out[0]["clean_text"] and "<IP>" in out[0]["clean_text"]
        assert "jane" not in out[0]["clean_text"]
        assert out[1]["n_longnums"] == 2
        assert out[1]["clean_text"].count("<ID>") == 2
        assert out[2]["clean_text"] == "no pii here at all"
        assert out[2]["n_emails"] == out[2]["n_ips"] == out[2]["n_longnums"] == 0
        assert out[3]["n_emails"] == 2 and out[3]["n_ips"] == 1

    def test_counts_ignore_tags_already_in_text(self, spark):
        """A tag the input already holds is kept and is not counted."""
        df = spark.createDataFrame(
            [(0, "<EMAIL> <IP> <ID> x@y.com 1.2.3.4"), (1, None)],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in redact_pii(df).collect()}
        assert out[0]["clean_text"] == "<EMAIL> <IP> <ID> <EMAIL> <IP>"
        assert (out[0]["n_emails"], out[0]["n_ips"], out[0]["n_longnums"]) == (1, 1, 0)
        assert out[1]["clean_text"] is None and out[1]["n_emails"] is None

    def test_email_takes_precedence_over_digits(self, spark):
        df = spark.createDataFrame([(0, "x 1.2.3.4@host.com y")], "doc_id long, text string")
        r = redact_pii(df).collect()[0]
        assert r["n_emails"] == 1 and r["n_ips"] == 0


class TestDeterministicSampling:
    def _docs(self, spark, n=2000):
        return spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("src"), (F.col("id") % 4).cast("string")).alias("source"),
        )

    def test_sample_rows_rate_and_determinism(self, spark):
        df = self._docs(spark)
        s1 = sample_rows(df, 0.3, salt="a")
        ids1 = {r["doc_id"] for r in s1.collect()}
        ids2 = {r["doc_id"] for r in sample_rows(df, 0.3, salt="a").collect()}
        assert ids1 == ids2  # same salt -> identical set
        assert abs(len(ids1) / 2000 - 0.3) < 0.05
        # nested rate at 0.3 is a strict subset of rate 0.6 with the same salt
        ids_wide = {r["doc_id"] for r in sample_rows(df, 0.6, salt="a").collect()}
        assert ids1 <= ids_wide

    def test_different_salts_decorrelate(self, spark):
        df = self._docs(spark)
        a = {r["doc_id"] for r in sample_rows(df, 0.5, salt="a").collect()}
        b = {r["doc_id"] for r in sample_rows(df, 0.5, salt="b").collect()}
        inter = len(a & b) / 2000
        assert abs(inter - 0.25) < 0.05  # independent halves overlap ~25%

    def test_sample_by_group_rates(self, spark):
        df = self._docs(spark)  # 500 per source
        out = sample_by_group(
            df, "source", {"src0": 1.0, "src1": 0.5, "src2": 0.0},
            default_rate=0.2, key_col="doc_id", salt="g",
        )
        counts = {r["source"]: r["n"] for r in
                  out.groupBy("source").agg(F.count("*").alias("n")).collect()}
        assert counts["src0"] == 500
        assert abs(counts.get("src1", 0) - 250) < 50
        assert "src2" not in counts
        assert abs(counts.get("src3", 0) - 100) < 40  # default rate

    def test_split_train_holdout(self, spark):
        df = self._docs(spark)
        out = split_train_holdout(df, holdout_frac=0.1, salt="sp")
        counts = {r["split"]: r["n"] for r in
                  out.groupBy("split").agg(F.count("*").alias("n")).collect()}
        assert counts["train"] + counts["holdout"] == 2000
        assert abs(counts["holdout"] / 2000 - 0.1) < 0.03
        # membership is stable across reruns and subsets
        again = {(r["doc_id"], r["split"]) for r in
                 split_train_holdout(df.limit(500), holdout_frac=0.1, salt="sp").collect()}
        full = {(r["doc_id"], r["split"]) for r in out.collect()}
        assert again <= full

    def test_threshold_exact_bounds(self):
        assert threshold_for(0.0) == 0
        assert threshold_for(1.0) == 1 << 60
        assert threshold_for(2.0) == 1 << 60
        assert threshold_for(-1.0) == 0
