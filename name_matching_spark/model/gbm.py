"""Pure-numpy gradient-boosted decision trees (binary logloss).

Replaces the reference's LGBMClassifier (train_model.py:155-237 in
vietexob/name-matching) in an environment with no ML libraries.  Standard
second-order boosting: per-node exact greedy splits on pre-sorted features
with gradient/hessian prefix sums (the published XGBoost objective), shallow
trees, shrinkage.  The fitted model is a set of flat arrays — cheap to
broadcast to executors and to evaluate vectorized over Arrow batches.

Training data here is ~45k rows x 8 features, so driver-side fitting in
numpy is the right scale choice (same call the reference makes by fitting
sklearn on a pandas frame); only *inference* is distributed.
"""

from __future__ import annotations

import json

import numpy as np


def _sigmoid(z: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-z))


class _Tree:
    """Flat-array binary tree: feature[i] < 0 marks a leaf with value[i]."""

    __slots__ = ("feature", "threshold", "left", "right", "value")

    def __init__(self):
        self.feature: list[int] = []
        self.threshold: list[float] = []
        self.left: list[int] = []
        self.right: list[int] = []
        self.value: list[float] = []

    def _new_node(self) -> int:
        self.feature.append(-1)
        self.threshold.append(0.0)
        self.left.append(-1)
        self.right.append(-1)
        self.value.append(0.0)
        return len(self.feature) - 1

    def predict(self, X: np.ndarray) -> np.ndarray:
        feat = np.asarray(self.feature)
        thr = np.asarray(self.threshold)
        left = np.asarray(self.left)
        right = np.asarray(self.right)
        val = np.asarray(self.value)
        node = np.zeros(len(X), dtype=np.int64)
        # Depth-bounded vectorized descent.
        for _ in range(64):
            f = feat[node]
            active = f >= 0
            if not active.any():
                break
            fx = X[np.arange(len(X)), np.where(active, f, 0)]
            go_left = fx <= thr[node]
            nxt = np.where(go_left, left[node], right[node])
            node = np.where(active, nxt, node)
        return val[node]


_LEAF_BITS = 64
_MAX_DEPTH = 6  # 2**6 leaves fill the 64-bit leaf mask
_ALL_LEAVES = np.uint64(2**64 - 1)
# De Bruijn multiply-and-shift maps a 64-bit power of two to its exponent.
_DEBRUIJN = np.uint64(0x03F79D71B4CB0A89)
_DEBRUIJN_BIT = np.zeros(64, dtype=np.intp)
_DEBRUIJN_BIT[(((_DEBRUIJN << np.arange(64, dtype=np.uint64)) >> np.uint64(58)))] = np.arange(64)


class _BitvectorForest:
    """QuickScorer-style forest evaluation (Lucchese et al., SIGIR 2015).

    Leaves are numbered left to right; each tree keeps a 64-bit mask of
    the leaves a row can still reach.  A split ``x[f] <= thr`` that a row
    FAILS (x > thr, or x is NaN) clears the bits of its left subtree, and
    the row's exit leaf is then the lowest bit left set.  The failed
    splits of feature f are exactly the ones whose threshold is below
    x[f]: a prefix of f's splits sorted by threshold, found by one binary
    search.  The AND over that prefix is stored only at every STRIDE-th
    split (per split it would cost 8 bytes x trees); the at most STRIDE-1
    splits past the stored prefix come from a second table indexed by the
    prefix length, whose row lists their trees and masks.

    Margins add ``lr * value`` per tree in tree order onto ``base_score``,
    the same float operations as the per-tree reference, so they are
    bit-identical to it."""

    STRIDE = 8
    CHUNK = 256  # rows per pass: keeps the (rows x trees) masks in cache

    def __init__(self, trees: list, learning_rate: float, base_score: float):
        n = self.n_trees = len(trees)
        S = self.STRIDE
        self.base_score = base_score
        self._values = np.zeros((n, _LEAF_BITS))
        splits: dict = {}  # feature -> [(threshold, tree, mask)]
        for t, tree in enumerate(trees):
            self._walk(tree, t, 0, 0, learning_rate, self._values, splits)
        self._features = []
        for f, entries in sorted(splits.items()):
            entries.sort(key=lambda e: e[0])
            k = len(entries)
            thr = np.array([e[0] for e in entries])
            tree_of = np.array([e[1] for e in entries], dtype=np.intp)
            mask = np.array([e[2] for e in entries], dtype=np.uint64)
            # table[j] = AND of the masks of splits [0, j*S), per tree
            table = np.full((k // S + 1, n), _ALL_LEAVES)
            full = k - k % S  # the last, partial block is never a prefix
            np.bitwise_and.at(
                table[1:], (np.arange(full) // S, tree_of[:full]), mask[:full]
            )
            np.bitwise_and.accumulate(table, axis=0, out=table)
            # row c: the splits [c - c % S, c) past the stored prefix as
            # (tree, mask) slots; an unused slot ANDs all-ones into tree 0.
            c = np.arange(k + 1)
            start, rest = c - c % S, c % S
            slot_tree = np.zeros((k + 1, S - 1), dtype=np.intp)
            slot_mask = np.full((k + 1, S - 1), _ALL_LEAVES)
            for i in range(S - 1):
                on = rest > i
                slot_tree[on, i] = tree_of[start[on] + i]
                slot_mask[on, i] = mask[start[on] + i]
            self._features.append((f, thr, table, slot_tree, slot_mask))

    @staticmethod
    def _walk(tree, t, node, leaf, lr, values, splits) -> int:
        """Number the leaves under ``node`` left to right from ``leaf``,
        record each split's mask; return the next free leaf number."""
        f = tree.feature[node]
        if f < 0:
            if leaf == _LEAF_BITS:
                raise ValueError(
                    f"tree {t} has more than {_LEAF_BITS} leaves; "
                    f"the bitvector forest needs max_depth <= {_MAX_DEPTH}"
                )
            values[t, leaf] = lr * tree.value[node]
            return leaf + 1
        thr = tree.threshold[node]
        if thr != thr:
            raise ValueError(f"tree {t} has a NaN split threshold")
        mid = _BitvectorForest._walk(tree, t, tree.left[node], leaf, lr, values, splits)
        cleared = ((1 << (mid - leaf)) - 1) << leaf  # the left subtree's leaves
        splits.setdefault(f, []).append((thr, t, (2**64 - 1) ^ cleared))
        return _BitvectorForest._walk(tree, t, tree.right[node], mid, lr, values, splits)

    @property
    def nbytes(self) -> int:
        return self._values.nbytes + sum(
            a.nbytes for ft in self._features for a in ft[1:]
        )

    def margin(self, X: np.ndarray) -> np.ndarray:
        n, S = self.n_trees, self.STRIDE
        # failed[f][r] = how many of f's splits row r fails (NaN: all)
        failed = [np.searchsorted(thr, X[:, f]) for f, thr, *_ in self._features]
        out = np.empty(len(X))
        m = max(min(self.CHUNK, len(X)), 1)
        live = np.empty((m, n), dtype=np.uint64)
        buf = np.empty_like(live)
        rows = np.arange(m)[:, None]
        for lo in range(0, len(X), m):
            hi = min(lo + m, len(X))
            lv, sc, r = live[: hi - lo], buf[: hi - lo], rows[: hi - lo]
            lv.fill(_ALL_LEAVES)
            for (_, _, table, slot_tree, slot_mask), c in zip(self._features, failed):
                c = c[lo:hi]
                # mode="clip": indices are in range; "raise" buffers `out`
                np.take(table, c // S, axis=0, out=sc, mode="clip")
                lv &= sc
                # .at, not &=: one row may list a tree in two slots
                np.bitwise_and.at(lv, (r, slot_tree[c]), slot_mask[c])
            # lowest set bit -> leaf number (De Bruijn) -> lr * leaf value
            np.negative(lv, out=sc)
            sc &= lv
            sc *= _DEBRUIJN
            sc >>= np.uint64(58)
            leaf = _DEBRUIJN_BIT[sc.T]
            contrib = np.take_along_axis(self._values, leaf, axis=1)
            # base + tree 0, then + tree 1, ...: the reference's order
            contrib[0] += self.base_score
            np.add.accumulate(contrib, axis=0, out=contrib)
            out[lo:hi] = contrib[-1]
        return out


class GBMClassifier:
    def __init__(
        self,
        n_estimators: int = 300,
        learning_rate: float = 0.1,
        max_depth: int = 4,
        min_child_weight: float = 1.0,
        reg_lambda: float = 1.0,
        min_gain: float = 1e-6,
    ):
        if max_depth > _MAX_DEPTH:  # fail before training, not at predict
            raise ValueError(
                f"max_depth={max_depth}: the bitvector forest needs "
                f"max_depth <= {_MAX_DEPTH} (at most {_LEAF_BITS} leaves per tree)"
            )
        self.n_estimators = n_estimators
        self.learning_rate = learning_rate
        self.max_depth = max_depth
        self.min_child_weight = min_child_weight
        self.reg_lambda = reg_lambda
        self.min_gain = min_gain
        self.base_score = 0.0
        self.trees: list[_Tree] = []
        self._forest: _BitvectorForest | None = None  # built by predict_margin
        # Optional serving contract: the feature-column names (in order)
        # the model was fitted on.  Set by model.train.train() before
        # save; load_artifacts() enforces append-only evolution against
        # the current features.FEATURE_COLS.
        self.feature_cols: list[str] | None = None

    # -- training -------------------------------------------------------------

    def fit(
        self,
        X: np.ndarray,
        y: np.ndarray,
        verbose_every: int = 0,
        sample_weight: np.ndarray | None = None,
    ) -> "GBMClassifier":
        """``sample_weight`` scales each row's gradient/hessian (standard
        second-order weighting, as in XGBoost/LightGBM): a row at weight w
        contributes w times the loss of an unweighted row.  None = all 1."""
        X = np.ascontiguousarray(X, dtype=np.float64)
        y = np.asarray(y, dtype=np.float64)
        if sample_weight is None:
            w = np.ones(len(y), dtype=np.float64)
        else:
            w = np.asarray(sample_weight, dtype=np.float64)
            if w.shape != y.shape:
                raise ValueError(f"sample_weight shape {w.shape} != y shape {y.shape}")
        p0 = np.clip(np.average(y, weights=w), 1e-6, 1 - 1e-6)
        self.base_score = float(np.log(p0 / (1 - p0)))
        margin = np.full(len(y), self.base_score)
        # Pre-sort every feature once; nodes reuse the global order.
        order = np.argsort(X, axis=0, kind="stable")
        self.trees = []
        self._forest = None  # invalidate the forest of a prior fit
        for t in range(self.n_estimators):
            p = _sigmoid(margin)
            g = (p - y) * w
            h = np.maximum(p * (1.0 - p), 1e-12) * w
            tree = _Tree()
            self._build_node(tree, X, g, h, np.arange(len(y)), order, depth=0)
            self.trees.append(tree)
            margin += self.learning_rate * tree.predict(X)
            if verbose_every and (t + 1) % verbose_every == 0:
                loss = -np.mean(y * np.log(p + 1e-12) + (1 - y) * np.log(1 - p + 1e-12))
                print(f"tree {t + 1}/{self.n_estimators} logloss={loss:.6f}")
        return self

    def _build_node(self, tree, X, g, h, idx, order, depth) -> int:
        node = tree._new_node()
        G, H = g[idx].sum(), h[idx].sum()
        leaf_val = -G / (H + self.reg_lambda)
        if depth >= self.max_depth or len(idx) < 2:
            tree.value[node] = leaf_val
            return node
        best = None
        parent_score = G * G / (H + self.reg_lambda)
        in_node = np.zeros(X.shape[0], dtype=bool)
        in_node[idx] = True
        for f in range(X.shape[1]):
            ordered = order[:, f][in_node[order[:, f]]]
            vals = X[ordered, f]
            gc = np.cumsum(g[ordered])
            hc = np.cumsum(h[ordered])
            # Splits only between distinct consecutive values.
            cut = np.nonzero(vals[:-1] < vals[1:])[0]
            if len(cut) == 0:
                continue
            Gl, Hl = gc[cut], hc[cut]
            Gr, Hr = G - Gl, H - Hl
            ok = (Hl >= self.min_child_weight) & (Hr >= self.min_child_weight)
            if not ok.any():
                continue
            gain = (
                Gl * Gl / (Hl + self.reg_lambda)
                + Gr * Gr / (Hr + self.reg_lambda)
                - parent_score
            )
            gain[~ok] = -np.inf
            k = int(np.argmax(gain))
            if gain[k] > self.min_gain and (best is None or gain[k] > best[0]):
                thr = 0.5 * (vals[cut[k]] + vals[cut[k] + 1])
                best = (float(gain[k]), f, thr)
        if best is None:
            tree.value[node] = leaf_val
            return node
        _, f, thr = best
        go_left = X[idx, f] <= thr
        li = self._build_node(tree, X, g, h, idx[go_left], order, depth + 1)
        ri = self._build_node(tree, X, g, h, idx[~go_left], order, depth + 1)
        tree.feature[node] = f
        tree.threshold[node] = thr
        tree.left[node] = li
        tree.right[node] = ri
        return node

    # -- inference --------------------------------------------------------------

    def predict_margin(self, X: np.ndarray) -> np.ndarray:
        """Raw additive margin (pre-sigmoid log-odds).  The sigmoid
        SATURATES above ~0.99 probability — thousands of pairs collapse
        onto 0.9999+ — while the margin keeps ranking them; cluster
        refinement uses it where probability carries no signal.

        Bit-identical to ``base_score + sum(lr * tree.predict(X))`` summed
        in tree order; evaluated by a :class:`_BitvectorForest` built once
        per fitted model."""
        X = np.ascontiguousarray(X, dtype=np.float64)
        if not self.trees:
            return np.full(len(X), self.base_score)
        forest = self._forest
        if forest is None or forest.n_trees != len(self.trees):
            forest = self._forest = _BitvectorForest(
                self.trees, self.learning_rate, self.base_score
            )
        return forest.margin(X)

    def predict_proba(self, X: np.ndarray) -> np.ndarray:
        return _sigmoid(self.predict_margin(X))

    # -- (de)serialization --------------------------------------------------------

    def to_json(self) -> str:
        return json.dumps(
            {
                "base_score": self.base_score,
                "learning_rate": self.learning_rate,
                **(
                    {"feature_cols": self.feature_cols}
                    if self.feature_cols is not None
                    else {}
                ),
                "trees": [
                    {
                        "feature": t.feature,
                        "threshold": t.threshold,
                        "left": t.left,
                        "right": t.right,
                        "value": t.value,
                    }
                    for t in self.trees
                ],
            }
        )

    @classmethod
    def from_json(cls, payload: str) -> "GBMClassifier":
        obj = json.loads(payload)
        model = cls(learning_rate=obj["learning_rate"])
        model.base_score = obj["base_score"]
        model.feature_cols = obj.get("feature_cols")
        model.trees = []
        for td in obj["trees"]:
            t = _Tree()
            t.feature = td["feature"]
            t.threshold = td["threshold"]
            t.left = td["left"]
            t.right = td["right"]
            t.value = td["value"]
            model.trees.append(t)
        return model
