"""Pairwise feature semantics (§2.7 F3-F10, P10-P12) + classifier tests."""

import numpy as np
import pytest

from entity_resolution_pipeline_spark.functions.hashing import hash_string
from entity_resolution_pipeline_spark.functions.similarity import (
    levenshtein_sim,
    token_sort_ratio,
)
from entity_resolution_pipeline_spark.operators.classify import (
    confusion,
    fit_logistic_regression,
    stratified_split,
)
from entity_resolution_pipeline_spark.operators.pairs import (
    FEATURE_NAMES,
    _BatchMemo,
    compute_features_row,
)

FIELDS = ["composite", "person", "title", "provision", "subjects"]


def _row(side1: dict, side2: dict) -> dict:
    row = {}
    for f in FIELDS:
        v1, v2 = side1.get(f), side2.get(f)
        row[f + "1"], row[f + "2"] = v1, v2
        h1 = hash_string(v1) if v1 is not None else None
        h2 = hash_string(v2) if v2 is not None else None
        row[f + "_eq"] = h1 is not None and h1 == h2
    return row


def _fv(side1, side2):
    fv, pref = compute_features_row(_row(side1, side2), _BatchMemo())
    return dict(zip(FEATURE_NAMES, fv)), pref


class TestFeatures:
    def test_identical_records(self):
        s = {"person": "Smith, John, 1840-1902", "title": "essays of law",
             "provision": "London 1850", "subjects": "law poetry",
             "composite": "Smith, John, 1840-1902 essays of law London 1850 law poetry"}
        f, pref = _fv(s, s)
        assert pref == "true"  # exact name + years (P10)
        for name in ["person_cosine", "title_cosine", "provision_cosine",
                     "subjects_cosine", "composite_cosine", "person_levenshtein"]:
            assert f[name] == 1.0
        assert f["birth_year_match"] == 1.0
        assert f["death_year_match"] == 1.0
        assert f["has_birth_death_years"] == 1.0

    def test_composite_equality_prefilter(self):
        # same composite, no years -> P11 fires (P10 needs years)
        a = {"person": "Smith, John", "composite": "Smith, John X"}
        b = {"person": "Smith, John", "composite": "Smith, John X"}
        _, pref = _fv(a, b)
        assert pref == "true"

    def test_person_dissimilarity_prefilter(self):
        a = {"person": "Smith, John", "composite": "c1"}
        b = {"person": "Zzzz, Qqqq", "composite": "c2"}
        f, pref = _fv(a, b)
        assert pref == "false"
        assert f["person_levenshtein"] == pytest.approx(
            levenshtein_sim("Smith, John", "Zzzz, Qqqq")
        )

    def test_estimated_cosine_semantics(self):
        # person -> levenshtein; other fields -> token_sort_ratio (F5 quirk)
        a = {"person": "Smith, John", "title": "essays of law", "composite": "x a"}
        b = {"person": "Smith, Joan", "title": "law of essays", "composite": "x b"}
        f, _ = _fv(a, b)
        assert f["person_cosine"] == pytest.approx(levenshtein_sim("Smith, John", "Smith, Joan"))
        assert f["title_cosine"] == pytest.approx(token_sort_ratio("essays of law", "law of essays"))
        assert f["title_cosine"] == 1.0  # token reorder invisible to token_sort

    def test_missing_fields_zero(self):
        a = {"person": "Smith, John", "composite": "Smith, John"}
        b = {"person": "Smith, Johm", "composite": "Smith, Johm"}
        f, _ = _fv(a, b)
        assert f["title_cosine"] == 0.0
        assert f["provision_subjects_harmonic"] == 0.0
        assert f["person_subjects_product"] == 0.0
        assert f["composite_subjects_ratio"] == 0.0

    def test_interactions(self):
        a = {"person": "ab", "title": "t x", "subjects": "s q", "composite": "c m"}
        b = {"person": "ax", "title": "t y", "subjects": "s r", "composite": "c n"}
        f, _ = _fv(a, b)
        sp, st, ss, sc = f["person_cosine"], f["title_cosine"], f["subjects_cosine"], f["composite_cosine"]
        assert f["person_title_harmonic"] == pytest.approx(2 * sp * st / (sp + st))
        assert f["person_subjects_product"] == pytest.approx(sp * ss)
        assert f["composite_subjects_ratio"] == pytest.approx(min(sc / ss, 10.0))

    def test_year_mismatch(self):
        a = {"person": "Smith, John, 1840-1902", "composite": "a"}
        b = {"person": "Smith, John, 1841-1902", "composite": "b"}
        f, pref = _fv(a, b)
        assert f["birth_year_match"] == 0.0
        assert f["death_year_match"] == 1.0
        assert f["has_birth_death_years"] == 1.0
        # names differ by one digit -> P10 requires identical hash: no prefilter
        assert pref is None


def _fuzz_pair_data(n=400, seed=7):
    """Randomized PAIR_SIDE_COLS rows incl. the JVM-side person_lev /
    pf_false columns, emulated with the same formulas with_pair_key uses."""
    rng = np.random.RandomState(seed)
    pools = {
        "person": [None, "", "Smith, John, 1840-1902", "Smith, John",
                   "smith, JOHN", "Zzzz, Qqqq", "Smith, Joan", "Li, Wu, b. 1901"],
        "title": [None, "essays of law", "law of essays", "poems", "Essays of Law"],
        "provision": [None, "London 1850", "Paris 1900"],
        "subjects": [None, "law poetry", "law", "history law poetry"],
        "composite": [None, "x a", "x b", "Smith, John X", "smith, john x"],
    }
    data = {}
    for f, pool in pools.items():
        data[f + "1"] = [pool[rng.randint(len(pool))] for _ in range(n)]
        data[f + "2"] = [pool[rng.randint(len(pool))] for _ in range(n)]
    for f in FIELDS:
        eqs = []
        for v1, v2 in zip(data[f + "1"], data[f + "2"]):
            h1 = hash_string(v1) if v1 is not None else None
            h2 = hash_string(v2) if v2 is not None else None
            eqs.append(h1 is not None and h1 == h2)
        data[f + "_eq"] = eqs
    plev, pff = [], []
    for v1, v2, e in zip(data["person1"], data["person2"], data["person_eq"]):
        if v1 is None or v2 is None:
            plev.append(None)
            pff.append(False)
        else:
            lv = 1.0 if e or max(len(v1), len(v2)) == 0 else levenshtein_sim(v1, v2)
            plev.append(lv)
            pff.append(max(len(v1), len(v2)) == 0 or lv < 0.3)
    data["person_lev"] = plev
    data["pf_false"] = pff
    return data


class TestBatchKernel:
    def test_batch_matches_rowwise_fuzz(self):
        """The vectorized batch kernel must agree with the row-wise
        reference implementation on randomized inputs."""
        import pandas as pd

        from entity_resolution_pipeline_spark.operators.pairs import (
            PAIR_SIDE_COLS,
            _BatchMemo,
            _features_batch,
        )

        n = 400
        data = _fuzz_pair_data(n)
        pdf = pd.DataFrame({c: data[c] for c in PAIR_SIDE_COLS})

        X, pref = _features_batch(pdf, _BatchMemo())
        memo = _BatchMemo()
        for i in range(n):
            row = {c: data[c][i] for c in PAIR_SIDE_COLS}
            fv, p = compute_features_row(row, memo)
            assert p == pref[i], (i, row, p, pref[i])
            np.testing.assert_allclose(X[i], np.asarray(fv), atol=1e-12, err_msg=str((i, row)))

    def test_pair_fields_columns_and_jvm_flags(self, spark):
        """``with_pair_key(attach_pair_fields(...))`` yields the scoring
        input's columns in this order, with these types, and its JVM-side
        eq flags, ``person_lev`` and ``pf_false`` equal the formulas
        ``_fuzz_pair_data`` emulates."""
        from entity_resolution_pipeline_spark.operators.pairs import (
            attach_pair_fields,
            with_pair_key,
        )

        n = 200
        data = _fuzz_pair_data(n, seed=5)
        recs = [
            (f"{side}{i}", *[data[f + k][i] for f in FIELDS],
             *[None if data[f + k][i] is None else hash_string(data[f + k][i]) for f in FIELDS])
            for i in range(n) for side, k in (("a", "1"), ("b", "2"))
        ]
        records = spark.createDataFrame(recs, "url string, " + ", ".join(
            [f"{f} string" for f in FIELDS] + [f"{f}_h string" for f in FIELDS]))
        pairs = spark.createDataFrame([(f"a{i}", f"b{i}") for i in range(n)], "url1 string, url2 string")
        wide = with_pair_key(attach_pair_fields(pairs, records))

        assert [(c.name, c.dataType.simpleString()) for c in wide.schema] == [
            ("url2", "string"), ("url1", "string"),
            *[(f + "1", "string") for f in FIELDS],
            *[(f + "2", "string") for f in FIELDS],
            ("pair_key", "string"),
            *[(f + "_eq", "boolean") for f in FIELDS],
            ("person_lev", "double"), ("pf_false", "boolean"),
        ]
        flags = [f + "_eq" for f in FIELDS] + ["person_lev", "pf_false"]
        got = {int(r["url1"][1:]): r for r in wide.select("url1", *flags).collect()}
        assert len(got) == n
        for i, r in got.items():
            assert [r[c] for c in flags] == [data[c][i] for c in flags], i

    def test_jvm_featurize_matches_rowwise_fuzz(self, spark):
        """The Arrow ``featurize`` plan (one mapInPandas pass over the pair
        rows) must agree with the row-wise reference on the same fuzzed rows."""
        from entity_resolution_pipeline_spark.operators.pairs import (
            PAIR_SIDE_COLS,
            _BatchMemo,
            featurize,
        )

        n = 300
        data = _fuzz_pair_data(n, seed=11)
        rows = [
            tuple([str(i)] + [data[c][i] for c in PAIR_SIDE_COLS]) for i in range(n)
        ]
        schema = (
            "pair_key string, "
            + ", ".join(f"{f}{s} string" for s in ("1", "2") for f in FIELDS)
            + ", "
            + ", ".join(f"{f}_eq boolean" for f in FIELDS)
            + ", person_lev double, pf_false boolean"
        )
        # schema order must match PAIR_SIDE_COLS construction
        cols = ["pair_key"] + PAIR_SIDE_COLS
        schema = "pair_key string, " + ", ".join(
            c + (" string" if c.endswith(("1", "2")) and c != "person_lev" else
                 " double" if c == "person_lev" else " boolean")
            for c in PAIR_SIDE_COLS
        )
        sdf = spark.createDataFrame(rows, schema)
        assert sdf.columns == cols
        got = {r["pair_key"]: r for r in featurize(sdf).collect()}
        memo = _BatchMemo()
        for i in range(n):
            row = {c: data[c][i] for c in PAIR_SIDE_COLS}
            fv, p = compute_features_row(row, memo)
            g = got[str(i)]
            assert g["prefilter"] == p, (i, row)
            np.testing.assert_allclose(
                np.asarray(g["features"]), np.asarray(fv), atol=1e-12,
                err_msg=str((i, row)),
            )


class TestClassifier:
    def _toy(self, n=400, seed=0):
        rng = np.random.RandomState(seed)
        X = rng.randn(n, 4)
        w = np.array([2.0, -1.0, 0.5, 0.0])
        y = (1 / (1 + np.exp(-(X @ w + 0.3))) > 0.5).astype(float)
        return X, y

    def test_fit_separates(self):
        X, y = self._toy()
        m = fit_logistic_regression(X, y)
        p = m.predict_proba(X)
        c = confusion(y, (p >= 0.5).astype(int))
        assert c["accuracy"] > 0.95

    def test_deterministic(self):
        X, y = self._toy()
        m1 = fit_logistic_regression(X, y)
        m2 = fit_logistic_regression(X, y)
        assert np.allclose(m1.weights, m2.weights)

    def test_balanced_weights_shift_boundary(self):
        X, y = self._toy()
        # heavily imbalance: drop most positives
        keep = np.concatenate([np.where(y == 0)[0], np.where(y == 1)[0][:20]])
        mb = fit_logistic_regression(X[keep], y[keep], balanced=True)
        mu = fit_logistic_regression(X[keep], y[keep], balanced=False)
        # balanced model predicts the minority class more often
        assert (mb.predict_proba(X) >= 0.5).sum() > (mu.predict_proba(X) >= 0.5).sum()

    def test_stratified_split(self):
        y = np.array([0] * 70 + [1] * 30).astype(float)
        tr, te = stratified_split(y, 0.7, 42)
        assert len(tr) + len(te) == 100
        assert abs(y[tr].mean() - 0.3) < 0.02
        assert set(tr).isdisjoint(te)

    def test_predict_proba_independent_of_batching(self):
        """A row's score is bitwise the same whether it is scored alone, in
        a slice, or in the whole matrix: the Arrow batch a pair row lands in
        depends on the partitioning, its score must not."""
        from entity_resolution_pipeline_spark.operators.classify import LRModel

        rng = np.random.RandomState(7)
        X = rng.rand(2000, 18)
        m = LRModel(weights=rng.randn(18), intercept=0.3,
                    means=rng.rand(18), stds=rng.rand(18) + 0.5)
        whole = m.predict_proba(X)
        for lo, hi in ((0, 1), (0, 7), (3, 250), (1000, 1999), (1999, 2000)):
            np.testing.assert_array_equal(m.predict_proba(X[lo:hi]), whole[lo:hi])

    def test_zero_variance_feature(self):
        X, y = self._toy()
        X[:, 3] = 5.0  # constant
        m = fit_logistic_regression(X, y)
        assert np.isfinite(m.weights).all()
        assert np.isfinite(m.predict_proba(X)).all()


class TestRFE:
    def _informative(self, n=500, seed=3):
        rng = np.random.RandomState(seed)
        X = rng.randn(n, 8)
        # only features 1 and 5 carry signal
        w = np.zeros(8)
        w[1], w[5] = 3.0, -2.5
        y = (1 / (1 + np.exp(-(X @ w))) > 0.5).astype(float)
        return X, y

    def test_selects_informative_features(self):
        from entity_resolution_pipeline_spark.operators.classify import rfe_select

        X, y = self._informative()
        sel = rfe_select(X, y, min_features=2)
        assert sel == [1, 5]

    def test_default_target_matches_reference_rule(self):
        from entity_resolution_pipeline_spark.operators.classify import rfe_select

        X, y = self._informative()
        sel = rfe_select(X, y)  # max(5, ceil(0.2*8)) = 5
        assert len(sel) == 5 and {1, 5} <= set(sel)
        assert sel == sorted(sel)

    def test_expand_model_predictions_identical(self):
        from entity_resolution_pipeline_spark.operators.classify import (
            expand_model,
            rfe_select,
        )

        X, y = self._informative()
        sel = rfe_select(X, y, min_features=3)
        sub = fit_logistic_regression(
            X[:, sel], y, balanced=True, feature_names=[str(i) for i in sel]
        )
        full = expand_model(sub, sel, [f"f{i}" for i in range(8)])
        assert np.allclose(full.predict_proba(X), sub.predict_proba(X[:, sel]))
        # dropped features carry exactly zero weight
        dropped = [i for i in range(8) if i not in sel]
        assert all(full.weights[i] == 0.0 for i in dropped)

    def test_pipeline_rfe_integration(self, spark, tmp_path_factory):
        """ERConfig.rfe_min_features trains on the selected subset, records
        the selection in metrics, and the scored table still materializes
        through the unchanged fixed-width scoring path."""
        from entity_resolution_pipeline_spark.plans.pipeline import ERConfig, ERPipeline
        from entity_resolution_pipeline_spark.sources.webpages import (
            labeled_pairs_pdf,
            web_pages_df,
        )

        wh = str(tmp_path_factory.mktemp("erp_wh_rfe"))
        wp = web_pages_df(spark, 60)
        lp = spark.createDataFrame(labeled_pairs_pdf(60, 300))
        pipe = ERPipeline(spark, wh, ERConfig(rfe_min_features=8))
        res = pipe.run(wp, lp)
        assert len(pipe.metrics["rfe_selected"]) == 8
        assert pipe.catalog.read("scored_pairs").count() > 0
        # prefilters dominate the synthetic corpus, so the gate still holds
        assert res["evaluation"]["blocked_pairs"]["f1"] >= 0.95


class TestClassifierExtras:
    def test_feature_importance_ranked(self):
        from entity_resolution_pipeline_spark.operators.classify import (
            LRModel,
            feature_importance,
        )

        m = LRModel(
            weights=np.array([0.1, -2.0, 0.5]),
            intercept=0.0,
            means=np.zeros(3),
            stds=np.ones(3),
            feature_names=["a", "b", "c"],
        )
        ranked = feature_importance(m)
        assert [n for n, _ in ranked] == ["b", "c", "a"]
        assert abs(sum(v for _, v in ranked) - 1.0) < 1e-9

    def test_roc_auc(self):
        from entity_resolution_pipeline_spark.operators.classify import roc_auc

        # perfect separation
        assert roc_auc([0, 0, 1, 1], [0.1, 0.2, 0.8, 0.9]) == 1.0
        # random-ish / anti-correlated
        assert roc_auc([1, 1, 0, 0], [0.1, 0.2, 0.8, 0.9]) == 0.0
        # ties handled with average ranks
        assert roc_auc([0, 1], [0.5, 0.5]) == 0.5
        # degenerate
        assert roc_auc([1, 1], [0.2, 0.9]) == 0.5

    def test_precision_recall_curve(self):
        from entity_resolution_pipeline_spark.operators.classify import (
            precision_recall_curve,
        )

        pts = precision_recall_curve([1, 0, 1, 1], [0.9, 0.8, 0.7, 0.3])
        assert [round(p["threshold"], 2) for p in pts] == [0.9, 0.8, 0.7, 0.3]
        assert [p["precision"] for p in pts] == [1.0, 0.5, 2 / 3, 0.75]
        assert [p["recall"] for p in pts] == pytest.approx([1 / 3, 1 / 3, 2 / 3, 1.0])
        # ties collapse to one point (cumulative past all tied rows)
        pts = precision_recall_curve([1, 0], [0.5, 0.5])
        assert len(pts) == 1 and pts[0]["precision"] == 0.5 and pts[0]["recall"] == 1.0
        # subsampling keeps ends
        many = precision_recall_curve(
            [1, 0] * 50, [i / 100 for i in range(100)], max_points=10
        )
        assert len(many) <= 10

    def test_single_class_raises(self):
        X = np.random.RandomState(0).randn(20, 3)
        y = np.ones(20)
        with pytest.raises(ValueError, match="single class"):
            fit_logistic_regression(X, y)

    def test_balance_classes(self):
        """M3: single-class -> synthetic missing class; >10x skew ->
        minority upsampled to majority size; healthy sets untouched."""
        from entity_resolution_pipeline_spark.operators.classify import (
            balance_classes,
        )

        rng = np.random.RandomState(0)
        X = rng.randn(30, 4)
        # single class: adds <=100 jittered rows of the missing class
        Xb, yb = balance_classes(X, np.ones(30))
        assert (yb == 0).sum() == 30 and (yb == 1).sum() == 30
        assert np.isfinite(Xb).all()
        # deterministic
        Xb2, _ = balance_classes(X, np.ones(30))
        assert np.allclose(Xb, Xb2)
        # fit succeeds on the balanced output
        m = fit_logistic_regression(Xb, yb)
        assert np.isfinite(m.weights).all()
        # >10x imbalance: minority upsampled to majority count
        y = np.array([0.0] * 28 + [1.0] * 2)
        Xb, yb = balance_classes(X, y)
        assert (yb == 1).sum() == (yb == 0).sum() == 28
        # healthy: no-op
        y = np.array([0.0] * 20 + [1.0] * 10)
        Xb, yb = balance_classes(X, y)
        assert Xb.shape == X.shape and len(yb) == 30
