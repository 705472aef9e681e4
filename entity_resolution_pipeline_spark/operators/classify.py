"""Match classifier — logistic regression fit driver-side, applied in UDFs.

The reference trains sklearn LogisticRegression (L2, C=1.0,
class_weight='balanced', seed 42) on ~2k labeled pairs and scores candidates
at p >= 0.90 (/root/reference/src/classification.py:510-555, :231-232).
sklearn is unavailable here, so the same objective is minimized with
full-batch Newton / IRLS in numpy (deterministic, no learning-rate knobs):

    min_{w,b}  0.5*||w||^2 / C  +  sum_i s_i * log(1 + exp(-y_i (x_i·w + b)))

with balanced sample weights s_i = n / (2 * n_class(y_i)) — exactly sklearn's
'balanced' heuristic. The intercept is unpenalized (sklearn semantics).
Feature z-scoring uses train-split statistics, sigma=0 -> 1
(/root/reference/src/classification.py:473-508).

The trained (w, b, mu, sigma) tuple is tiny: callers broadcast it into the
scoring pandas UDF (SURVEY.md §2.9 M5).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np


@dataclass
class LRModel:
    weights: np.ndarray
    intercept: float
    means: np.ndarray
    stds: np.ndarray
    feature_names: list[str] = field(default_factory=list)

    def predict_proba(self, X: np.ndarray) -> np.ndarray:
        Xn = (X - self.means) / self.stds
        Xn = np.nan_to_num(Xn, nan=0.0, posinf=1e10, neginf=-1e10)
        # a row-wise sum, not a BLAS dot product: a row's score must not
        # depend on which other rows share its batch
        z = (Xn * self.weights).sum(axis=1) + self.intercept
        return 1.0 / (1.0 + np.exp(-z))

    def to_dict(self) -> dict:
        return {
            "weights": self.weights.tolist(),
            "intercept": float(self.intercept),
            "means": self.means.tolist(),
            "stds": self.stds.tolist(),
            "feature_names": list(self.feature_names),
        }

    def digest(self) -> str:
        """Content hash of the trained parameters — mixed into the score-stage
        resume fingerprint so retraining invalidates cached scores."""
        import hashlib
        import json

        blob = json.dumps(self.to_dict(), sort_keys=True).encode("utf-8")
        return hashlib.sha1(blob).hexdigest()[:16]

    @classmethod
    def from_dict(cls, d: dict) -> "LRModel":
        return cls(
            weights=np.asarray(d["weights"], dtype=np.float64),
            intercept=float(d["intercept"]),
            means=np.asarray(d["means"], dtype=np.float64),
            stds=np.asarray(d["stds"], dtype=np.float64),
            feature_names=list(d.get("feature_names", [])),
        )


def zscore_stats(X: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    means = X.mean(axis=0)
    stds = X.std(axis=0)
    stds = np.where(stds == 0, 1.0, stds)
    return means, stds


def stratified_split(
    y: np.ndarray, train_frac: float = 0.7, seed: int = 42
) -> tuple[np.ndarray, np.ndarray]:
    """Per-class shuffled 70/30 index split (M1)."""
    rng = np.random.RandomState(seed)
    train_idx, test_idx = [], []
    for cls in np.unique(y):
        idx = np.where(y == cls)[0]
        rng.shuffle(idx)
        k = int(round(len(idx) * train_frac))
        train_idx.append(idx[:k])
        test_idx.append(idx[k:])
    return np.sort(np.concatenate(train_idx)), np.sort(np.concatenate(test_idx))


def balance_classes(
    X: np.ndarray, y: np.ndarray, seed: int = 42, max_ratio: float = 10.0
) -> tuple[np.ndarray, np.ndarray]:
    """M3 guard-rail (classification.py:415-471): make degenerate label sets
    trainable. Single class -> synthesize <=100 samples of the missing class
    by jittering existing rows with N(0, 0.1) noise; imbalance ratio > 10 ->
    upsample the minority class with replacement to majority size.
    Deterministic (seeded rng); a no-op on healthy label sets.
    """
    rng = np.random.RandomState(seed)
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    uniq, counts = np.unique(y, return_counts=True)
    if len(uniq) == 1:
        missing = 1.0 if uniq[0] == 0 else 0.0
        k = min(len(X), 100)
        idx = rng.choice(len(X), k, replace=True)
        synth = X[idx] + rng.normal(0, 0.1, (k, X.shape[1]))
        return np.vstack([X, synth]), np.hstack([y, np.full(k, missing)])
    if counts.max() / counts.min() > max_ratio:
        minority = uniq[np.argmin(counts)]
        majority = uniq[np.argmax(counts)]
        mi = np.where(y == minority)[0]
        ma = np.where(y == majority)[0]
        up = rng.choice(mi, size=len(ma), replace=True)
        return np.vstack([X[ma], X[up]]), np.hstack([y[ma], y[up]])
    return X, y


def fit_logistic_regression(
    X: np.ndarray,
    y: np.ndarray,
    c: float = 1.0,
    balanced: bool = True,
    max_iter: int = 100,
    tol: float = 1e-8,
    feature_names: list[str] | None = None,
) -> LRModel:
    """IRLS/Newton fit on z-scored features. X raw; scaling handled inside."""
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    if len(np.unique(y)) < 2:
        # M3 guard (classification.py:415-471): a single-class training set
        # cannot fit a boundary — fail loudly instead of returning garbage
        raise ValueError(
            "training labels contain a single class; the reference's synthetic"
            " balancing fallback is out of scope — supply both classes"
        )
    means, stds = zscore_stats(X)
    Xn = np.nan_to_num((X - means) / stds, nan=0.0, posinf=1e10, neginf=-1e10)

    n, d = Xn.shape
    if balanced:
        n_pos = max(float((y == 1).sum()), 1.0)
        n_neg = max(float((y == 0).sum()), 1.0)
        s = np.where(y == 1, n / (2.0 * n_pos), n / (2.0 * n_neg))
    else:
        s = np.ones(n)

    lam = 1.0 / c
    Xb = np.hstack([Xn, np.ones((n, 1))])
    theta = np.zeros(d + 1)
    reg = np.eye(d + 1) * lam
    reg[d, d] = 0.0  # intercept unpenalized

    prev_loss = np.inf
    for _ in range(max_iter):
        z = Xb @ theta
        p = 1.0 / (1.0 + np.exp(-np.clip(z, -35, 35)))
        g = Xb.T @ (s * (p - y)) + reg @ theta
        w_diag = np.maximum(s * p * (1 - p), 1e-10)
        H = (Xb * w_diag[:, None]).T @ Xb + reg
        step = np.linalg.solve(H, g)
        theta = theta - step
        loss = (
            -np.sum(s * (y * np.log(np.clip(p, 1e-12, 1)) + (1 - y) * np.log(np.clip(1 - p, 1e-12, 1))))
            + 0.5 * lam * float(theta[:d] @ theta[:d])
        )
        if abs(prev_loss - loss) < tol * max(1.0, abs(prev_loss)):
            break
        prev_loss = loss

    return LRModel(
        weights=theta[:d],
        intercept=float(theta[d]),
        means=means,
        stds=stds,
        feature_names=feature_names or [],
    )


def rfe_select(
    X: np.ndarray,
    y: np.ndarray,
    min_features: int | None = None,
    c: float = 1.0,
) -> list[int]:
    """M4: recursive feature elimination (reference
    /root/reference/src/classification.py:557-611; shipped DISABLED in its
    default config.yml:105 — provided here for full API parity).

    Iteratively fits the balanced z-scored IRLS LR on the remaining
    features and drops the one with the smallest absolute standardized
    weight, until ``min_features`` (default: the reference's
    max(5, int(0.2 * n_features)) — a floor, classification.py:560) remain.
    Returns the selected column indices in original order. Deterministic:
    ties drop the highest-indexed feature.
    """
    n = X.shape[1]
    if min_features is None:
        min_features = max(5, int(0.2 * n))
    keep = list(range(n))
    while len(keep) > min_features:
        m = fit_logistic_regression(
            X[:, keep], y, c=c, balanced=True,
            feature_names=[str(i) for i in keep],
        )
        w = np.abs(m.weights)
        # ties -> drop the LAST minimal index (stable, deterministic)
        drop_pos = int(np.where(w == w.min())[0][-1])
        keep.pop(drop_pos)
    return keep


def expand_model(model: LRModel, selected: list[int],
                 full_names: list[str]) -> LRModel:
    """Re-embed a model fit on a feature SUBSET into the full feature
    space: dropped features get weight 0 (mean 0, std 1 — their z-scored
    contribution is exactly zero), so every existing scoring path (Arrow
    batch, JVM dims assembly) keeps its fixed-width feature contract
    unchanged while predictions equal the subset model's."""
    n = len(full_names)
    w = np.zeros(n)
    means = np.zeros(n)
    stds = np.ones(n)
    for j, idx in enumerate(selected):
        w[idx] = model.weights[j]
        means[idx] = model.means[j]
        stds[idx] = model.stds[j]
    return LRModel(
        weights=w, intercept=model.intercept, means=means, stds=stds,
        feature_names=list(full_names),
    )


def confusion(y_true: np.ndarray, y_pred: np.ndarray) -> dict:
    """A9/M6: TP/FP/TN/FN + precision/recall/F1/accuracy."""
    y_true = np.asarray(y_true).astype(int)
    y_pred = np.asarray(y_pred).astype(int)
    tp = int(((y_true == 1) & (y_pred == 1)).sum())
    fp = int(((y_true == 0) & (y_pred == 1)).sum())
    tn = int(((y_true == 0) & (y_pred == 0)).sum())
    fn = int(((y_true == 1) & (y_pred == 0)).sum())
    precision = tp / (tp + fp) if tp + fp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    accuracy = (tp + tn) / max(len(y_true), 1)
    return {
        "tp": tp, "fp": fp, "tn": tn, "fn": fn,
        "precision": precision, "recall": recall, "f1": f1, "accuracy": accuracy,
    }


def feature_importance(model: LRModel) -> list[tuple[str, float]]:
    """W5/M7: |weight| normalized, ranked desc (classification.py:709-757)."""
    import numpy as np

    w = np.abs(model.weights)
    total = w.sum() or 1.0
    names = model.feature_names or [f"f{i}" for i in range(len(w))]
    ranked = sorted(zip(names, (w / total).tolist()), key=lambda t: -t[1])
    return ranked


def precision_recall_curve(y_true, scores, max_points: int | None = None) -> list[dict]:
    """M6: PR curve points at every distinct score threshold, descending
    (classification.py:1085-1150 analogue; same cumulative-TP formulation
    as the m6_pr_curve contract query). Optionally subsampled evenly to
    ``max_points`` for metrics storage."""
    import numpy as np

    y = np.asarray(y_true).astype(int)
    s = np.asarray(scores, dtype=np.float64)
    total_pos = int((y == 1).sum())
    if len(s) == 0 or total_pos == 0:
        return []
    order = np.argsort(-s, kind="mergesort")
    s_sorted, y_sorted = s[order], y[order]
    cum_pos = np.cumsum(y_sorted)
    cum_n = np.arange(1, len(s) + 1)
    # last index of each distinct threshold (ties collapse to one point)
    last = np.nonzero(np.diff(s_sorted, append=np.inf) != 0)[0]
    pts = [
        {
            "threshold": float(s_sorted[i]),
            "precision": float(cum_pos[i] / cum_n[i]),
            "recall": float(cum_pos[i] / total_pos),
        }
        for i in last
    ]
    if max_points and len(pts) > max_points:
        idx = np.linspace(0, len(pts) - 1, max_points).round().astype(int)
        pts = [pts[i] for i in sorted(set(idx.tolist()))]
    return pts


def roc_auc(y_true, scores) -> float:
    """M6: exact ROC-AUC via the rank-sum (Mann-Whitney) formulation."""
    import numpy as np

    y = np.asarray(y_true).astype(int)
    s = np.asarray(scores, dtype=np.float64)
    n_pos = int((y == 1).sum())
    n_neg = int((y == 0).sum())
    if n_pos == 0 or n_neg == 0:
        return 0.5
    order = np.argsort(s, kind="mergesort")
    ranks = np.empty(len(s), dtype=np.float64)
    ranks[order] = np.arange(1, len(s) + 1)
    # average ranks for ties
    sorted_s = s[order]
    i = 0
    while i < len(s):
        j = i
        while j + 1 < len(s) and sorted_s[j + 1] == sorted_s[i]:
            j += 1
        if j > i:
            ranks[order[i : j + 1]] = (i + 1 + j + 1) / 2.0
        i = j + 1
    rank_sum_pos = ranks[y == 1].sum()
    return float((rank_sum_pos - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg))
