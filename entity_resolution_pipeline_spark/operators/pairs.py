"""Stage 4 — pairwise features, prefilters, and classifier scoring.

One Iterator-of-batches Arrow pass computes, per candidate pair, the
reference's 18 features (config order, /root/reference/config.yml:69-117 +
/root/reference/src/parallel_features.py:101-141):

    {person,title,provision,subjects,composite}_cosine   (string-estimated!)
    person_levenshtein, person_jaro_winkler               (token_sort_ratio!)
    six harmonic means, person_subjects_product, composite_subjects_ratio
    birth_year_match, death_year_match, has_birth_death_years

plus the three prefilters (P10-P12, parallel_features.py:1044-1110) that
short-circuit the classifier: exact-name-with-years -> auto-true, composite
equality -> auto-true, person Levenshtein-sim < 0.3 -> auto-false.
Prefiltered-true pairs enter clustering with weight 1.0
(/root/reference/src/clustering.py:261-281).

Plan shape:
- person Levenshtein + the P12 prefilter are built-in JVM expressions
  (whole-stage codegen) computed in ``with_pair_key``; the 39-char hash
  strings stay JVM-side and only equality flags cross into Python.
- ``featurize`` / ``score`` are one mapInPandas pass of the vectorized
  batch kernel (``_features_batch``) over the caller's pair rows, with the
  columns it needs passed through; ``score`` carries the trained model in
  its closure. No shuffle, no join. Repeated field tuples are not deduped
  in the plan: per-partition memo dicts (``_BatchMemo``) compute
  token_sort_ratio once per distinct string pair and year extraction once
  per distinct person string.
- ``compute_features_row`` is the row-wise reference implementation;
  pytest fuzzes the batch kernel against it.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from ..functions.similarity import (
    harmonic_mean,
    indel_ratio,
    levenshtein_sim,
    ratio_capped,
)
from ..functions.years import extract_birth_death_years
from .classify import LRModel

FIELDS = ["composite", "person", "title", "provision", "subjects"]

FEATURE_NAMES = [
    "person_cosine",
    "title_cosine",
    "provision_cosine",
    "subjects_cosine",
    "composite_cosine",
    "person_levenshtein",
    "person_jaro_winkler",
    "person_title_harmonic",
    "person_provision_harmonic",
    "person_subjects_harmonic",
    "title_subjects_harmonic",
    "title_provision_harmonic",
    "provision_subjects_harmonic",
    "person_subjects_product",
    "composite_subjects_ratio",
    "birth_year_match",
    "death_year_match",
    "has_birth_death_years",
]

_HARMONIC_PAIRS = [
    ("person", "title"),
    ("person", "provision"),
    ("person", "subjects"),
    ("title", "subjects"),
    ("title", "provision"),
    ("provision", "subjects"),
]

# Columns shipped through Arrow to the scoring kernel: both sides' strings,
# JVM-precomputed equality flags, plus two JVM-precomputed hot-path values:
# ``person_lev`` (built-in codegen'd levenshtein — the round-1 throughput
# ceiling was this kernel in Python) and ``pf_false`` (the P12 dissimilarity
# prefilter, derived from person_lev). Hash columns stay JVM-side (they are
# 39-char decimal strings; shipping them halved Arrow-pipe throughput).
PAIR_SIDE_COLS = (
    [f + "1" for f in FIELDS]
    + [f + "2" for f in FIELDS]
    + [f + "_eq" for f in FIELDS]
    + ["person_lev", "pf_false"]
)


class _BatchMemo:
    """Per-partition caches for year extraction and string-pair similarities.

    Strings repeat across pairs far more than pairs repeat, so everything
    derivable from one string (years, token-sorted form, LCS char masks) is
    memoized per string and everything pairwise per unordered pair.
    """

    def __init__(self):
        self.years: dict[str, tuple] = {}
        self.lev: dict[tuple, float] = {}
        self.tsr: dict[tuple, float] = {}
        self.sorted_form: dict[str, str] = {}
        self.masks: dict[str, dict] = {}

    def get_years(self, s: str):
        y = self.years.get(s)
        if y is None:
            y = extract_birth_death_years(s)
            self.years[s] = y
        return y

    def get_lev(self, s1: str, s2: str) -> float:
        k = (s1, s2) if s1 <= s2 else (s2, s1)
        v = self.lev.get(k)
        if v is None:
            v = levenshtein_sim(s1, s2)
            self.lev[k] = v
        return v

    def _sorted(self, s: str) -> str:
        t = self.sorted_form.get(s)
        if t is None:
            t = " ".join(sorted(s.split()))
            self.sorted_form[s] = t
        return t

    def get_tsr(self, s1: str, s2: str) -> float:
        k = (s1, s2) if s1 <= s2 else (s2, s1)
        v = self.tsr.get(k)
        if v is None:
            # token_sort_ratio = indel ratio of the token-sorted forms
            t1, t2 = self._sorted(s1), self._sorted(s2)
            if t1 == t2:
                v = 1.0
            else:
                v = indel_ratio(t1, t2, mask_cache=self.masks)
            self.tsr[k] = v
        return v

    def bulk_tsr(self, items) -> None:
        """Pre-fill the tsr memo for many (s1, s2) pairs at once.

        Misses route through the numpy-batched LCS kernel
        (similarity.lcs_lens_batch) instead of one scalar bigint loop per
        pair — value-identical (ratio computed from the same integer LCS
        with the same float expression), ~3x faster at the distinct-pair
        volumes the scoring kernel sees. Token-sorted forms are deduped
        (LCS and the length sum are symmetric, so the canonical
        orientation shares work without changing the value).
        """
        from ..functions.similarity import lcs_lens_batch

        miss: dict = {}
        for s1, s2 in items:
            k = (s1, s2) if s1 <= s2 else (s2, s1)
            if k not in self.tsr and k not in miss:
                miss[k] = None
        if not miss:
            return
        tasks: dict = {}
        key_tp = []
        for k in miss:
            t1, t2 = self._sorted(k[0]), self._sorted(k[1])
            tp = (t1, t2) if t1 <= t2 else (t2, t1)
            key_tp.append((k, tp))
            if tp not in tasks:
                tasks[tp] = 1.0 if t1 == t2 else None
        todo = [tp for tp, v in tasks.items() if v is None]
        if todo:
            lens = lcs_lens_batch(todo, mask_cache=self.masks)
            for tp, lcs in zip(todo, lens.tolist()):
                lensum = len(tp[0]) + len(tp[1])
                tasks[tp] = (
                    1.0 if lensum == 0
                    else 1.0 - (lensum - 2 * lcs) / lensum
                )
        for k, tp in key_tp:
            self.tsr[k] = tasks[tp]


def compute_features_row(row: dict, memo: _BatchMemo) -> tuple[list[float], str | None]:
    """(18 features, prefilter in {'true','false',None}) for one pair.

    Reference row-wise implementation (semantics of
    _construct_feature_vector + _apply_prefilters): features only computed
    when both sides present; else 0.0. The production path is the vectorized
    ``_features_batch`` below — tests fuzz the two against each other.

    ``row`` may carry JVM-precomputed ``person_lev``; if absent it is derived
    here (hash-equal pairs short-circuit to 1.0 — the reference compares the
    single shared unique_strings representative for both sides).
    """
    fv = [0.0] * len(FEATURE_NAMES)
    idx = {n: i for i, n in enumerate(FEATURE_NAMES)}

    p1, p2 = row["person1"], row["person2"]

    def person_lev() -> float:
        v = row.get("person_lev")
        if v is not None and not (isinstance(v, float) and np.isnan(v)):
            return float(v)
        if row["person_eq"]:
            return 1.0
        return memo.get_lev(p1, p2)

    # --- prefilters (ordered exactly as the reference) ---
    # equality flags are hash equality (case/ws-insensitive) computed JVM-side
    prefilter = None
    if row["person_eq"] and p1 is not None:
        b, d = memo.get_years(p1)
        if b is not None or d is not None:
            prefilter = "true"
    if prefilter is None and row["composite_eq"]:
        prefilter = "true"
    if prefilter is None and p1 is not None and p2 is not None:
        max_len = max(len(p1), len(p2))
        if max_len == 0 or person_lev() < 0.3:
            prefilter = "false"

    # --- person string similarities ---
    if p1 is not None and p2 is not None:
        fv[idx["person_levenshtein"]] = person_lev()
        fv[idx["person_jaro_winkler"]] = 1.0 if row["person_eq"] else memo.get_tsr(p1, p2)

    # --- birth/death year features ---
    if p1 is not None and p2 is not None:
        b1, d1 = memo.get_years(p1)
        b2, d2 = memo.get_years(p2)
        fv[idx["birth_year_match"]] = 1.0 if (b1 is not None and b2 is not None and b1 == b2) else 0.0
        fv[idx["death_year_match"]] = 1.0 if (d1 is not None and d2 is not None and d1 == d2) else 0.0
        has_years = (b1 is not None or d1 is not None) and (b2 is not None or d2 is not None)
        fv[idx["has_birth_death_years"]] = 1.0 if has_years else 0.0

    # --- string-estimated "cosine" per field ---
    sims: dict[str, float] = {}
    for f in ["person", "title", "provision", "subjects", "composite"]:
        s1, s2 = row[f + "1"], row[f + "2"]
        if s1 is None or s2 is None:
            continue
        if row[f + "_eq"]:
            sim = 1.0
        elif f == "person":
            sim = person_lev()
        else:
            sim = memo.get_tsr(s1, s2)
        sims[f] = sim
        fv[idx[f + "_cosine"]] = sim

    # --- interactions ---
    for f1, f2 in _HARMONIC_PAIRS:
        if f1 in sims and f2 in sims:
            fv[idx[f"{f1}_{f2}_harmonic"]] = harmonic_mean(sims[f1], sims[f2])
    if "person" in sims and "subjects" in sims:
        fv[idx["person_subjects_product"]] = sims["person"] * sims["subjects"]
    if "composite" in sims and "subjects" in sims:
        fv[idx["composite_subjects_ratio"]] = ratio_capped(sims["composite"], sims["subjects"])

    return fv, prefilter


_IDX = {n: i for i, n in enumerate(FEATURE_NAMES)}


def _obj_col(pdf: pd.DataFrame, c: str) -> tuple[np.ndarray, np.ndarray]:
    """(object ndarray with NaN normalized to None, not-null mask) — the
    mask rides along so callers never re-scan the object array per row."""
    s = pdf[c]
    a = s.to_numpy(dtype=object, copy=True)
    na = s.isna().to_numpy()
    if na.any():
        a[na] = None
    return a, ~na


def _pair_sim_gather(
    s1: np.ndarray, s2: np.ndarray, idx: np.ndarray
) -> tuple[np.ndarray, int, list]:
    """Group the (s1[i], s2[i]) rows of ``idx`` by DISTINCT unordered pair.

    Returns (inv, unique_pair_count, unique_pairs) where ``unique_pairs``
    is a list of (a, b) tuples and ``inv`` maps each idx row to its pair's
    position — so a similarity computed once per distinct pair scatters
    back with one fancy index instead of a dict lookup per row.
    pd.factorize + integer pair codes do the dedup at C speed.
    """
    m = idx.size
    alls = np.empty(2 * m, dtype=object)
    alls[:m] = s1[idx]
    alls[m:] = s2[idx]
    codes, uniq = pd.factorize(alls)
    ca, cb = codes[:m], codes[m:]
    lo = np.minimum(ca, cb).astype(np.int64)
    hi = np.maximum(ca, cb).astype(np.int64)
    up, inv = np.unique((lo << 32) | hi, return_inverse=True)
    ua = uniq[(up >> 32).astype(np.intp)]
    ub = uniq[(up & 0xFFFFFFFF).astype(np.intp)]
    return inv, len(up), list(zip(ua.tolist(), ub.tolist()))


def _features_batch(pdf: pd.DataFrame, memo: _BatchMemo) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized feature assembly: numpy masks + per-*unique* Python kernels.

    The only row loops left run over rows that genuinely need a Python
    similarity (non-hash-equal pairs) or a year extraction, and each call is
    a memo-dict hit after the first occurrence of a string (pair).
    """
    n = len(pdf)
    X = np.zeros((n, len(FEATURE_NAMES)))

    cols = {c: _obj_col(pdf, c) for f in FIELDS for c in (f + "1", f + "2")}
    strs = {c: v[0] for c, v in cols.items()}
    notna = {c: v[1] for c, v in cols.items()}
    eq = {f: pdf[f + "_eq"].fillna(False).to_numpy(dtype=bool) for f in FIELDS}
    plev = pd.to_numeric(pdf["person_lev"], errors="coerce").to_numpy(dtype=np.float64)
    pf_false = pdf["pf_false"].fillna(False).to_numpy(dtype=bool)

    # both-sides-present masks straight from the isna masks _obj_col
    # already computed (the former per-row generator scans re-walked every
    # object array)
    present = {f: notna[f + "1"] & notna[f + "2"] for f in FIELDS}

    # --- per-field similarity (the f_cosine features) ---
    # Every miss row is grouped by DISTINCT unordered string pair first
    # (_pair_sim_gather: factorize + integer pair codes, C speed); the tsr
    # memo is bulk-filled through the numpy-batched LCS kernel once per
    # batch, then each field's values gather back with ONE fancy index.
    # The former code did a memoized-dict call PER ROW (~4 per pair row —
    # the second-largest kernel cost after the LCS itself).
    gathers = {}
    bulk_items = []
    for f in FIELDS:
        if f == "person":
            continue
        need = np.flatnonzero(present[f] & ~eq[f])
        if need.size:
            inv, _, upairs = _pair_sim_gather(strs[f + "1"], strs[f + "2"], need)
            gathers[f] = (need, inv, upairs)
            bulk_items.extend(upairs)
    pp = present["person"]
    need_p = np.flatnonzero(pp & ~eq["person"])
    if need_p.size:
        inv, _, upairs = _pair_sim_gather(strs["person1"], strs["person2"], need_p)
        gathers["person"] = (need_p, inv, upairs)
        bulk_items.extend(upairs)
    memo.bulk_tsr(bulk_items)

    sims = {}
    for f in FIELDS:
        sim = np.zeros(n)
        if f == "person":
            # JVM-precomputed (eq-pairs already short-circuited to 1.0)
            sim = np.where(np.isnan(plev), 0.0, plev)
        else:
            sim[eq[f] & present[f]] = 1.0
            if f in gathers:
                need, inv, upairs = gathers[f]
                vals = np.fromiter(
                    (memo.get_tsr(a, b) for a, b in upairs),
                    dtype=np.float64,
                    count=len(upairs),
                )
                sim[need] = vals[inv]
        sims[f] = sim
        X[:, _IDX[f + "_cosine"]] = sim

    X[:, _IDX["person_levenshtein"]] = sims["person"]

    # person_jaro_winkler: 1.0 on hash equality, else token_sort_ratio
    pjw = np.zeros(n)
    pjw[eq["person"] & pp] = 1.0
    if "person" in gathers:
        need, inv, upairs = gathers["person"]
        vals = np.fromiter(
            (memo.get_tsr(a, b) for a, b in upairs),
            dtype=np.float64,
            count=len(upairs),
        )
        pjw[need] = vals[inv]
    X[:, _IDX["person_jaro_winkler"]] = pjw

    # --- birth/death years: one extraction per DISTINCT person string
    # (factorize), scattered back by code — not two memo calls per row ---
    by1 = np.full(n, np.nan)
    dy1 = np.full(n, np.nan)
    by2 = np.full(n, np.nan)
    dy2 = np.full(n, np.nan)
    has1 = np.zeros(n, dtype=bool)
    has2 = np.zeros(n, dtype=bool)
    p_rows = np.flatnonzero(pp)
    if p_rows.size:
        m = p_rows.size
        alls = np.empty(2 * m, dtype=object)
        alls[:m] = strs["person1"][p_rows]
        alls[m:] = strs["person2"][p_rows]
        codes, uniq = pd.factorize(alls)
        ub = np.full(len(uniq), np.nan)
        ud = np.full(len(uniq), np.nan)
        for j, s in enumerate(uniq.tolist()):
            b, d = memo.get_years(s)
            if b is not None:
                ub[j] = b
            if d is not None:
                ud[j] = d
        uhas = ~np.isnan(ub) | ~np.isnan(ud)
        c1, c2 = codes[:m], codes[m:]
        by1[p_rows] = ub[c1]
        dy1[p_rows] = ud[c1]
        by2[p_rows] = ub[c2]
        dy2[p_rows] = ud[c2]
        has1[p_rows] = uhas[c1]
        has2[p_rows] = uhas[c2]
    X[:, _IDX["birth_year_match"]] = (~np.isnan(by1) & ~np.isnan(by2) & (by1 == by2)).astype(float)
    X[:, _IDX["death_year_match"]] = (~np.isnan(dy1) & ~np.isnan(dy2) & (dy1 == dy2)).astype(float)
    X[:, _IDX["has_birth_death_years"]] = (has1 & has2).astype(float)

    # --- interactions (sims are 0.0 when a side is missing, matching the
    # row-wise semantics: harmonic/product/ratio all collapse to 0.0) ---
    for f1, f2 in _HARMONIC_PAIRS:
        a, b = sims[f1], sims[f2]
        both = (a > 0) & (b > 0)
        h = np.zeros(n)
        np.divide(2.0 * a * b, a + b, out=h, where=both)
        X[:, _IDX[f"{f1}_{f2}_harmonic"]] = h
    X[:, _IDX["person_subjects_product"]] = np.where(
        present["person"] & present["subjects"], sims["person"] * sims["subjects"], 0.0
    )
    ratio = np.zeros(n)
    np.divide(sims["composite"], sims["subjects"], out=ratio, where=sims["subjects"] > 0)
    X[:, _IDX["composite_subjects_ratio"]] = np.where(
        present["composite"] & present["subjects"], np.minimum(ratio, 10.0), 0.0
    )

    # --- prefilters, in reference order (P10 -> P11 -> P12) ---
    pref = np.full(n, None, dtype=object)
    # person_eq implies both persons present; years come from side 1 (P10)
    p10 = eq["person"] & pp & has1
    pref[p10] = "true"
    undecided = pref == None  # noqa: E711 (elementwise)
    pref[undecided & eq["composite"]] = "true"
    undecided = pref == None  # noqa: E711
    pref[undecided & pf_false] = "false"
    return X, pref


def with_pair_key(df: DataFrame) -> DataFrame:
    """Single join key over the 10-field-hash tuple + JVM equality flags.

    The eq flags keep the 39-char decimal hash strings out of the Arrow
    transfer to the scoring kernel (they exist only for equality tests).
    Few projections: each PySpark call analyzes the plan built so far.
    """
    hashes = [f + s for s in ("_h1", "_h2") for f in FIELDS]
    pair_key = F.sha1(F.concat_ws("", *[F.coalesce(F.col(h), F.lit("NULL")) for h in hashes]))
    eq = {f: F.coalesce(F.col(f + "_h1") == F.col(f + "_h2"), F.lit(False)) for f in FIELDS}
    # person Levenshtein similarity JVM-side (whole-stage codegen) — the
    # heaviest round-1 Python kernel. person_eq short-circuits to 1.0: the
    # reference looks both sides up from unique_strings by normalized hash,
    # so hash-equal pairs compare one shared representative (sim 1.0).
    p1, p2 = F.col("person1"), F.col("person2")
    both = p1.isNotNull() & p2.isNotNull()
    max_len = F.greatest(F.length(p1), F.length(p2))
    lev_sim = F.when(eq["person"], F.lit(1.0)).otherwise(
        F.when(max_len == 0, F.lit(1.0)).otherwise(
            F.lit(1.0) - F.levenshtein(p1, p2).cast("double") / max_len.cast("double")
        )
    )
    person_lev = F.when(both, lev_sim).otherwise(F.lit(None).cast("double"))
    # the 39-char hash strings exist only to derive pair_key + eq flags:
    # nothing downstream reads them, and leaving them in made every
    # materialized pair_fields table (and its re-read) carry ~20 dead
    # string columns per row
    out = df.select(
        *[c for c in df.columns if c not in hashes],
        pair_key.alias("pair_key"),
        *[eq[f].alias(f + "_eq") for f in FIELDS],
        person_lev.alias("person_lev"),
    )
    # P12 person-dissimilarity auto-FALSE (parallel_features.py:1044-1110):
    # both sides present and (max_len == 0 or lev < 0.3). A projection of
    # its own: in the one above, the optimizer pushes ``< 0.3`` into
    # person_lev's CASE and codegen runs levenshtein twice per row.
    return out.withColumn(
        "pf_false",
        F.when(both, (max_len == 0) | (F.col("person_lev") < 0.3)).otherwise(F.lit(False)),
    )


def _kernel_pass(df: DataFrame, passthrough: tuple[str, ...],
                 model_dict: dict | None) -> DataFrame:
    """One mapInPandas pass of ``_features_batch`` over ``df``'s pair rows:
    (pair_key, *passthrough, features | confidence, prefilter). Features
    without a model, the model's confidence with one. Passthrough columns
    keep their input types."""
    keep = ["pair_key", *passthrough]
    out_field = (
        StructField("features", ArrayType(DoubleType())) if model_dict is None
        else StructField("confidence", DoubleType())
    )
    schema = StructType(
        [df.schema[c] for c in keep] + [out_field, StructField("prefilter", StringType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = None if model_dict is None else LRModel.from_dict(model_dict)
        memo = _BatchMemo()
        for pdf in batches:
            X, pref = _features_batch(pdf, memo)
            out = {c: pdf[c] for c in keep}
            if model is None:
                out["features"] = list(X)
            else:
                p = model.predict_proba(X)
                out["confidence"] = np.where(
                    pref == "true", 1.0, np.where(pref == "false", 0.0, p)
                )
            out["prefilter"] = pref
            yield pd.DataFrame(out)

    src = df.select(*keep, *[c for c in PAIR_SIDE_COLS if c not in keep])
    return src.mapInPandas(run, schema=schema)


def featurize(df: DataFrame, passthrough: tuple[str, ...] = ()) -> DataFrame:
    """pairs-with-fields -> (pair_key, *passthrough, features array, prefilter).

    ``passthrough`` columns (urls, labels, field strings) ride through the
    Arrow pass, so callers featurize their own rows with no join back."""
    return _kernel_pass(df, passthrough, None)


def score(
    df: DataFrame, model_dict: dict, passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """pairs-with-fields -> (pair_key, *passthrough, confidence, prefilter).

    confidence = 1.0 / 0.0 for prefiltered pairs, else sigmoid(LR). One
    mapInPandas pass over the pair rows with the vectorized batch kernel
    (per-partition memo dicts dedupe string work); no shuffle or join.
    ``passthrough`` columns (e.g. url1/url2) ride through the Arrow pass.
    """
    return _kernel_pass(df, passthrough, model_dict)


def attach_pair_fields(pairs: DataFrame, records: DataFrame) -> DataFrame:
    """(url1, url2) x records^2 -> wide pair rows with both sides' fields.

    Two hash joins against the record table (J4); record side is the smaller
    relation, so at 100 TB this is a shuffle join on url with AQE; at test
    scale Catalyst broadcasts it.
    """
    side_cols = ["url"] + FIELDS + [f + "_h" for f in FIELDS]
    r1 = records.select(*[F.col(c).alias(c + "1") for c in side_cols])
    r2 = records.select(*[F.col(c).alias(c + "2") for c in side_cols])
    return pairs.join(r1, "url1").join(r2, "url2")
