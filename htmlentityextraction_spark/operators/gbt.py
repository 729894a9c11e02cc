"""Minimal deterministic gradient-boosted trees (numpy only).

The reference trains one GradientBoostedTreesModel per web domain
(`domain/models/GBTDomainSuperPar.scala:60-63`: 30 iterations, depth
5, logistic loss). The scalable rebuild shape is one model per group
inside ``applyInPandas`` (SURVEY.md §7 M4) — Spark ML can't fit
per-group, and sklearn isn't in this container, so this is a small
self-contained implementation:

- binary classification, logistic loss, Friedman-style Newton leaf
  values;
- regression trees on the negative gradient, exact split among
  per-feature quantile thresholds (vectorized numpy, no Python row
  loops);
- fully deterministic for a given (X, y) order — required for the
  driver's repeated-run row-count checks.

Sizing: per-domain candidate sets are ~10^3-10^5 rows x ~101 dense
features after top-k TF-IDF selection; exact-quantile splits are
O(nodes * features * thresholds * n) vectorized — comfortably inside
one executor task. The cluster-level parallelism comes from Spark
running many domains concurrently, not from the fit itself.
"""

from __future__ import annotations

import io
import pickle

import numpy as np

_EPS = 1e-12
# Shrinkage per tree, the smallest leaf a split may leave, and the
# quantile thresholds tried per feature.
_LEARNING_RATE = 0.3
_MIN_LEAF = 5
_N_THRESHOLDS = 16


def _sigmoid(z: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-np.clip(z, -35.0, 35.0)))


class _Node:
    __slots__ = ("feature", "threshold", "left", "right", "value")

    def __init__(self):
        self.feature = -1
        self.threshold = 0.0
        self.left = None
        self.right = None
        self.value = 0.0


def _bin_features(X: np.ndarray, n_thresholds: int) -> tuple[list[np.ndarray], np.ndarray]:
    """Per-feature quantile thresholds computed ONCE per fit, plus the
    binned matrix (bin = searchsorted-left, so `x <= thr[i]` ⇔
    `bin <= i`). Histogram split search then costs O(n) per feature
    per node via bincount + prefix sums instead of O(thresholds · n)
    masked reductions — ~5x faster fits at equal quality."""
    thresholds: list[np.ndarray] = []
    binned = np.empty(X.shape, dtype=np.int16)
    grid = np.linspace(0.1, 0.9, n_thresholds)
    for f in range(X.shape[1]):
        x = X[:, f]
        thr = np.unique(np.quantile(x, grid)) if x.min() != x.max() else np.empty(0)
        thresholds.append(thr)
        binned[:, f] = np.searchsorted(thr, x, side="left")
    return thresholds, binned


def _fit_tree_binned(
    binned: np.ndarray,
    thresholds: list[np.ndarray],
    idx: np.ndarray,
    grad: np.ndarray,
    hess: np.ndarray,
    depth: int,
    min_leaf: int,
) -> _Node:
    """Regression tree on -grad with Newton leaf values
    (sum grad / sum hess), histogram split search."""
    node = _Node()
    n = idx.shape[0]
    g, h = grad[idx], hess[idx]
    g_sum, h_sum = g.sum(), h.sum()
    node.value = g_sum / (h_sum + _EPS)
    if depth == 0 or n < 2 * min_leaf:
        return node

    parent_gain = g_sum * g_sum / (h_sum + _EPS)
    best_gain, best_f, best_i = 0.0, -1, -1
    for f in range(binned.shape[1]):
        thr = thresholds[f]
        if thr.size == 0:
            continue
        b = binned[idx, f]
        nbins = thr.size + 1
        cnt = np.bincount(b, minlength=nbins)
        gs = np.bincount(b, weights=g, minlength=nbins)
        hs = np.bincount(b, weights=h, minlength=nbins)
        # left side of split i = bins 0..i
        nl = np.cumsum(cnt)[:-1]
        gl = np.cumsum(gs)[:-1]
        hl = np.cumsum(hs)[:-1]
        nr = n - nl
        valid = (nl >= min_leaf) & (nr >= min_leaf)
        if not valid.any():
            continue
        gr, hr = g_sum - gl, h_sum - hl
        gain = gl * gl / (hl + _EPS) + gr * gr / (hr + _EPS) - parent_gain
        gain[~valid] = -np.inf
        i = int(np.argmax(gain))
        if gain[i] > best_gain + 1e-9:
            best_gain, best_f, best_i = float(gain[i]), f, i

    if best_f < 0:
        return node
    node.feature = best_f
    node.threshold = float(thresholds[best_f][best_i])
    mask = binned[idx, best_f] <= best_i
    node.left = _fit_tree_binned(
        binned, thresholds, idx[mask], grad, hess, depth - 1, min_leaf
    )
    node.right = _fit_tree_binned(
        binned, thresholds, idx[~mask], grad, hess, depth - 1, min_leaf
    )
    return node


def _predict_tree(node: _Node, X: np.ndarray) -> np.ndarray:
    if node.feature < 0:
        return np.full(X.shape[0], node.value)
    out = np.empty(X.shape[0])
    mask = X[:, node.feature] <= node.threshold
    out[mask] = _predict_tree(node.left, X[mask])
    out[~mask] = _predict_tree(node.right, X[~mask])
    return out


class GBTClassifier:
    """Binary GBT with logistic loss. ``margin`` is the additive score
    (the reference's confidenceGBT, `transform/Transformer.scala:
    290-293`, is the same weighted-vote margin); ``predict`` thresholds
    it at 0."""

    def __init__(self, n_estimators: int, max_depth: int):
        self.n_estimators = n_estimators
        self.max_depth = max_depth
        self.base_: float = 0.0
        self.trees_: list[_Node] = []

    def fit(self, X: np.ndarray, y: np.ndarray) -> "GBTClassifier":
        X = np.asarray(X, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64)
        p = min(max(y.mean(), 1e-6), 1 - 1e-6)
        self.base_ = float(np.log(p / (1 - p)))
        thresholds, binned = _bin_features(X, _N_THRESHOLDS)
        idx = np.arange(X.shape[0])
        margin = np.full(X.shape[0], self.base_)
        self.trees_ = []
        for _ in range(self.n_estimators):
            prob = _sigmoid(margin)
            grad = y - prob           # negative gradient of logloss
            hess = prob * (1 - prob)
            tree = _fit_tree_binned(
                binned, thresholds, idx, grad, hess, self.max_depth, _MIN_LEAF
            )
            margin = margin + _LEARNING_RATE * _predict_tree(tree, X)
            self.trees_.append(tree)
        return self

    def margin(self, X: np.ndarray) -> np.ndarray:
        X = np.asarray(X, dtype=np.float64)
        m = np.full(X.shape[0], self.base_)
        for tree in self.trees_:
            m = m + _LEARNING_RATE * _predict_tree(tree, X)
        return m

    def predict(self, X: np.ndarray) -> np.ndarray:
        return (self.margin(X) > 0).astype(np.int64)

    def margin_curve(self, X: np.ndarray) -> np.ndarray:
        """(n_estimators+1, n) margins of every tree-prefix sub-model
        (the reference's model-size curve, `transform/Transformer.
        scala:295-304` / `emr/BuildModels.scala:45-55`): row k is the
        margin using only the first k trees."""
        X = np.asarray(X, dtype=np.float64)
        out = np.empty((len(self.trees_) + 1, X.shape[0]))
        m = np.full(X.shape[0], self.base_)
        out[0] = m
        for k, tree in enumerate(self.trees_, start=1):
            m = m + _LEARNING_RATE * _predict_tree(tree, X)
            out[k] = m
        return out

    def best_prefix_by_f1(self, X: np.ndarray, y: np.ndarray) -> tuple[int, float]:
        """Model-size selection (`emr/BuildModels.scala:48-54`):
        argmax over prefixes of F = 2*sen*prec/(sen+prec); ties go to
        the SMALLER model. Returns (k, f1)."""
        y = np.asarray(y, dtype=np.float64)
        curves = self.margin_curve(X)
        best_k, best_f1 = 0, -1.0
        for k in range(1, curves.shape[0]):
            pred = curves[k] > 0
            tp = float((pred & (y == 1)).sum())
            prec = tp / max(float(pred.sum()), 1.0)
            sen = tp / max(float((y == 1).sum()), 1.0)
            f1 = 2 * sen * prec / max(sen + prec, 1e-12)
            if f1 > best_f1 + 1e-12:
                best_k, best_f1 = k, f1
        return best_k, best_f1

    def truncate(self, k: int) -> "GBTClassifier":
        """Sub-model with only the first k trees (shares fitted trees)."""
        sub = GBTClassifier(n_estimators=k, max_depth=self.max_depth)
        sub.base_ = self.base_
        sub.trees_ = self.trees_[:k]
        return sub

    # --- registry (de)serialization ---
    def to_bytes(self) -> bytes:
        buf = io.BytesIO()
        pickle.dump(self, buf, protocol=4)
        return buf.getvalue()

    @staticmethod
    def from_bytes(b: bytes) -> "GBTClassifier":
        return pickle.loads(b)
