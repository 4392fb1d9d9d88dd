"""NumPy reference for the histogram requests: dense histograms computed
on the generated input with the program's documented bucketing
arithmetic (half-open bins, ``floor((x - lo) * n / (hi - lo))`` for
regular axes, flow bins dropped), then the result transforms and the
statistics, written independently of the program's Spark plans."""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

SCALE = 1e6  # the program's default weight_scale=6 quantisation


@dataclass
class Axis:
    kind: str  # "regular" | "variable" | "category"
    edges: list  # bin edges (interval axes) or categories
    n: int

    def widths(self) -> np.ndarray:
        if self.kind == "category":
            return np.ones(self.n)
        e = self.edges
        return np.array([e[i + 1] - e[i] for i in range(self.n)])

    def centers(self) -> np.ndarray:
        if self.kind == "category":
            return np.arange(self.n) + 0.5
        e = self.edges
        return np.array([(e[i] + e[i + 1]) / 2.0 for i in range(self.n)])

    def lefts(self) -> np.ndarray:
        return np.asarray(self.edges[: self.n], dtype=float)


def regular(n: int, lo: float, hi: float) -> Axis:
    es = [lo + (hi - lo) * i / n for i in range(n + 1)]
    es[0], es[-1] = float(lo), float(hi)
    return Axis("regular", es, n)


def variable(edges) -> Axis:
    return Axis("variable", [float(e) for e in edges], len(edges) - 1)


def category(cats) -> Axis:
    return Axis("category", list(cats), len(cats))


def bucket(ax: Axis, x: np.ndarray) -> np.ndarray:
    """Core bin id per value, -1 for values outside the core bins."""
    if ax.kind == "category":
        lut = {c: i for i, c in enumerate(ax.edges)}
        return np.array([lut.get(v, -1) for v in x], dtype=np.int64)
    x = np.asarray(x, dtype=np.float64)
    if ax.kind == "regular":
        lo, hi = ax.edges[0], ax.edges[-1]
        ids = np.floor((x - lo) * float(ax.n) / (hi - lo))
        ids = np.minimum(ids, ax.n - 1)
        ok = (x >= lo) & (x < hi)
    else:
        ids = np.searchsorted(np.asarray(ax.edges), x, side="right") - 1
        ok = (x >= ax.edges[0]) & (x < ax.edges[-1])
    return np.where(ok, ids, -1).astype(np.int64)


def quantile_edges(x: np.ndarray, n: int) -> list[float]:
    xs = np.sort(np.asarray(x, dtype=np.float64))
    c = len(xs)
    ranks = sorted({((c - 1) * i) // n for i in range(n + 1)})
    return sorted(set(float(xs[r]) for r in ranks))


def scaled(w: np.ndarray) -> np.ndarray:
    """Half-away-from-zero int64 quantisation of ``w * 1e6``."""
    x = np.asarray(w, dtype=np.float64) * SCALE
    return np.where(x >= 0, np.floor(x + 0.5), -np.floor(-x + 0.5)).astype(
        np.int64)


@dataclass
class Hist:
    groups: list  # sorted group keys (1-tuples), [()] when ungrouped
    axes: list
    vals: np.ndarray  # (G, n1, ..., nk) int64 mass (scaled when weighted)
    divisor: float
    density: np.ndarray = None  # pdf values once normalized
    sparse: bool = True  # statistics see only observed cells

    def dense(self) -> np.ndarray:
        if self.density is not None:
            out = self.density
        else:
            out = self.vals.astype(np.float64) / self.divisor \
                if self.divisor != 1.0 else self.vals.astype(np.float64)
        return out if self.groups != [()] else out[0]


def fill(cols: list, axes: list, group=None, weights=None) -> Hist:
    ids = [bucket(a, c) for a, c in zip(axes, cols)]
    keep = np.logical_and.reduce([i >= 0 for i in ids])
    if group is None:
        gkeys, gidx = [()], np.zeros(len(keep), dtype=np.int64)
    else:
        g = np.asarray(group)[keep]
        uniq = sorted(set(g.tolist()))
        lut = {u: i for i, u in enumerate(uniq)}
        gkeys = [(u,) for u in uniq]
        gidx = np.full(len(keep), -1, dtype=np.int64)
        gidx[keep] = [lut[v] for v in g.tolist()]
    shape = (len(gkeys), *[a.n for a in axes])
    flat = np.ravel_multi_index(
        (gidx[keep], *[i[keep] for i in ids]), shape)
    if weights is None:
        vals = np.bincount(flat, minlength=int(np.prod(shape)))
        div = 1.0
    else:
        w = scaled(weights)[keep]
        vals = np.zeros(int(np.prod(shape)), dtype=np.int64)
        np.add.at(vals, flat, w)
        div = SCALE
    # an ungrouped fill is densified before aggregation, so statistics see
    # every cell; a grouped one only the observed cells
    return Hist(gkeys, list(axes), vals.reshape(shape).astype(np.int64), div,
                sparse=group is not None)


# ---- result transforms ----

def normalize(h: Hist) -> Hist:
    k = len(h.axes)
    tot = h.vals.sum(axis=tuple(range(1, k + 1)), keepdims=True)
    area = np.ones([a.n for a in h.axes])
    for j, a in enumerate(h.axes):
        sh = [1] * k
        sh[j] = a.n
        area = area * a.widths().reshape(sh)
    raw = h.vals.astype(np.float64) / h.divisor
    totd = tot.astype(np.float64) / h.divisor
    with np.errstate(divide="ignore", invalid="ignore"):
        pdf = np.where(totd == 0, np.nan, raw / area / totd)
    return Hist(h.groups, h.axes, h.vals, h.divisor, pdf, h.sparse)


def rebin(h: Hist, j: int, f: int) -> Hist:
    a = h.axes[j]
    v = np.moveaxis(h.vals, j + 1, -1)
    v = v.reshape(*v.shape[:-1], a.n // f, f).sum(axis=-1)
    axes = list(h.axes)
    axes[j] = variable(a.edges[::f])
    # re-aggregated from the dense result: statistics see every cell
    return Hist(h.groups, axes, np.moveaxis(v, -1, j + 1), h.divisor,
                sparse=False)


def slice_bins(h: Hist, j: int, lo: int, hi: int) -> Hist:
    a = h.axes[j]
    axes = list(h.axes)
    axes[j] = variable(a.edges[lo:hi + 1])
    sl = [slice(None)] * h.vals.ndim
    sl[j + 1] = slice(lo, hi)
    return Hist(h.groups, axes, h.vals[tuple(sl)], h.divisor, sparse=False)


# ---- statistics: rows (group…, other-axis ids…, value) ----

def _parts(h: Hist, j: int):
    """Yield (part key, 1-d mass along axis j) per group × other-axis cell."""
    v = np.moveaxis(h.vals, j + 1, -1)
    others = [i for i in range(len(h.axes)) if i != j]
    for gi, g in enumerate(h.groups):
        for cell in np.ndindex(*[h.axes[i].n for i in others]):
            m = v[(gi, *cell)]
            if h.sparse and not m.any():
                continue
            yield (*g, *cell), m


def ppf_rows(h: Hist, j: int, q: float) -> list:
    ax = h.axes[j]
    left, w = ax.lefts(), ax.widths()
    out = []
    for key, m in _parts(h, j):
        cum = np.cumsum(m)
        qt = q * float(cum[-1])
        best = None
        for i in range(ax.n):
            cumb = float(cum[i] - m[i])
            if float(cum[i]) >= qt and cumb < qt:
                x = left[i] + (qt - cumb) / float(m[i]) * w[i]
                best = x if best is None else max(best, x)
        out.append((*key, best))
    return out


def mean_rows(h: Hist, j: int) -> list:
    c = h.axes[j].centers()
    out = []
    for key, m in _parts(h, j):
        tot = float(m.sum())
        out.append((*key, float(np.dot(m, c)) / tot if tot else None))
    return out


# ---- comparison ----

def close(a, b, rtol: float = 1e-9) -> bool:
    """Equal keys and equal numbers to ``rtol`` (NaN/None equal to
    themselves) for nested rows / arrays."""
    if isinstance(a, np.ndarray) or isinstance(b, np.ndarray):
        a, b = np.asarray(a, dtype=float), np.asarray(b, dtype=float)
        return a.shape == b.shape and bool(np.allclose(
            a, b, rtol=rtol, atol=0.0, equal_nan=True))
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(close(x, y, rtol) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is None and b is None
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=rtol, abs_tol=0.0)
    return a == b
