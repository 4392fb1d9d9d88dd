"""Histogram-derived distribution statistics as Spark window/fold queries.

Reference parity: the accessor's scipy ``rv_histogram``-backed statistics
(/root/reference/src/xarray_histogram/accessor.py:397-573): mean/var/std/
moment are moments of the piecewise-uniform distribution (the width²/12 term
in the variance is the within-bin uniform contribution, matching continuous
``rv_histogram``); cdf/ppf/median/interval are the piecewise-linear CDF and
its inverse.  Flow bins are stripped first (accessor.py:415-417); the other
histogram variables and any group keys act as the "loop dims" the statistic
is vectorised over (accessor.py:428-437) — here simply extra grouping keys.

Determinism design (the oracle hash-compares floats bit-for-bit):
- cdf/ppf run on the exact-int64 ``__val`` representation: running and total
  sums are integer (order-independent); only the final interpolation is
  double arithmetic on int64→double casts — identical in Spark and DuckDB.
- moments need Σ mass·f(center) over non-integer doubles, where sum order
  matters.  Each group's (tiny, dense) bin list is collected, sorted by bin
  id, and folded sequentially with an explicit 0.0 seed — a strict
  left-to-right reduction that DuckDB mirrors with
  ``list_reduce(list_prepend(0.0, list_transform(...)))``.  Per-group lists
  are ≤ axis extent (hundreds), so collect_list here is cheap and stays
  fully distributed across groups.
"""

from __future__ import annotations

import math
from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..binspec import IntCategory, StrCategory, sql_chain
from ..functions.hashing import dlit, q
from ..functions.hashing import q as quote  # ``ppf`` takes a ``q`` argument
from .histogram import (
    axis_meta, dense_positions, id_col, label_col, zero_val,
)
from .result import HistogramResult


def _prep(result: HistogramResult, variable: Optional[str]):
    """Resolve the target var ``v`` and the partition keys, and pick the
    rows a statistic reads.  Returns ``(v, part, df, core, meta)``:
    ``core`` is the core-bin test of ``v`` — a row failing it (flow or
    hidden bin) keeps its partition but adds no mass, and ``meta``'s
    label/width/center lookups run only under it (in ANSI mode
    ``element_at`` must never read past its array).

    One row rule, the oracle's: one output row per (group, other-axis
    core cell) of the dense result, NULL when that slice holds no mass
    (accessor.py:415-417 flow strip).  Statistics read the aggregate
    itself: zero-mass cells contribute exactly nothing to any statistic
    here (integer cumulative/total sums are unchanged; a ``0·x`` term
    cannot change an IEEE fold), so no dense fill enters the plan.  The
    aggregate of a grouped multi-variable result may miss a (group,
    other-axis cell) entirely, so ``_with_presence`` adds the rows that
    keep each such partition present."""
    result._read(lazy=True)
    v = result._one_var(variable)
    spec = result.specs[v]
    if isinstance(spec, (IntCategory, StrCategory)):
        raise ValueError(f"statistics need an interval axis, {v!r} is categorical")
    core = {
        c: f"{q(id_col(c))} >= 0 AND {q(id_col(c))} <= {result.specs[c].n - 1}"
        for c in result.variables
    }
    part = result.group_by + [id_col(c) for c in result.variables if c != v]
    keys = ("label", "width", "center")
    meta = dict(zip(keys, [e for e, _ in axis_meta(v, spec, False)[:3]]))
    if label_col(v) in result.given:
        meta["label"] = q(label_col(v))
    df = result._agg
    others = [c for c in result.variables if c != v]
    if others:
        if not result.complete:
            df = _with_presence(result, others)
        df = df.where(sql_chain("AND", [core[c] for c in others]))
    return v, part, df, core[v], meta


def _with_presence(result: HistogramResult, others: Sequence[str]) -> DataFrame:
    """The aggregate's rows plus zero-mass presence rows: per group, one
    row per other-axis core cell (each axis's id a div/mod position of a
    ``sequence`` index) with the target id ``-1`` — off-core, so it adds
    no mass and skips the metadata lookups, but keeps its partition
    present.  Each group's rows are collected and exploded again together
    with its presence rows, so the aggregate is read once: a union with a
    distinct-groups branch is planned as a second scan of the source
    (Catalyst drops an aggregate under a bare DISTINCT).  The generator is
    ``inline_outer`` only to spare the non-empty-array filter Catalyst
    infers for ``inline``; the array always holds the presence rows."""
    names = [id_col(c) for c in result.variables] + ["__val"]
    exts = [result.specs[c].n for c in others]
    pos = dict(zip(others, dense_positions(exts)))

    def row(exprs) -> str:
        return "struct(" + ", ".join(
            f"{e} AS {q(n)}" for e, n in zip(exprs, names)
        ) + ")"

    absent = row([pos.get(c, "-1") for c in result.variables]
                 + [zero_val(result.int_mode)])
    gsel = [q(g) for g in result.group_by]
    return result._agg.groupBy(*result.group_by).agg(
        F.expr(f"collect_list({row(map(q, names))}) AS __rows")
    ).selectExpr(*gsel, (
        f"inline_outer(concat(__rows, transform("
        f"sequence(0, {math.prod(exts) - 1}), __j -> {absent})))"
    ))


def _when(core: str, e: str, other: str = "NULL") -> str:
    return f"CASE WHEN {core} THEN {e} ELSE {other} END"


def _fold(term: str) -> str:
    """Strict sequential left fold of ``term`` (over the struct ``_x`` of
    each bin of ``__a``) with a 0.0 seed — deterministic sum order."""
    return f"aggregate(__a, 0.0D, (_acc, _x) -> _acc + {term})"


def _moment_fold_df(result: HistogramResult, variable: Optional[str]):
    v, part, df, core, m = _prep(result, variable)
    # off-core rows collect as NULL, which collect_list skips
    entry = _when(core, (
        f"struct({q(id_col(v))} AS i, CAST(__val AS DOUBLE) AS m, "
        f"{m['center']} AS c, {m['width']} AS w)"
    ))
    g = df.groupBy(*part).agg(
        F.expr(f"array_sort(collect_list({entry})) AS __a")
    )
    return v, part, g


def _ratio(num: str, tot: str) -> str:
    return f"{num} / nullif({tot}, 0.0D)"


def _moment_df(result, variable, name: str, stat) -> DataFrame:
    """One statistic of the folded per-group bin arrays: ``stat(v)`` is
    its Spark SQL text, the output column is ``<v>_<name>``."""
    v, part, g = _moment_fold_df(result, variable)
    return g.selectExpr(*[q(p) for p in part], f"{stat} AS {q(f'{v}_{name}')}")


_TOT = _fold("_x.m")


def mean(result: HistogramResult, variable: Optional[str] = None) -> DataFrame:
    """Distribution mean Σ mass·center (accessor.py:473-484)."""
    return _moment_df(
        result, variable, "mean", _ratio(_fold("_x.m * _x.c"), _TOT)
    )


def _var_expr() -> str:
    """Σ mass·(c² + w²/12)/Σmass − mean² — shared by var and std so the
    piecewise-uniform formula lives in exactly one place."""
    e1 = _ratio(_fold("_x.m * _x.c"), _TOT)
    e2 = _ratio(_fold("_x.m * (_x.c * _x.c + _x.w * _x.w / 12.0D)"), _TOT)
    return f"({e2}) - ({e1}) * ({e1})"


def var(result: HistogramResult, variable: Optional[str] = None) -> DataFrame:
    """Variance of the piecewise-uniform distribution:
    Σ mass·(c² + w²/12) − mean²  (accessor.py:501-512)."""
    return _moment_df(result, variable, "var", _var_expr())


def std(result: HistogramResult, variable: Optional[str] = None) -> DataFrame:
    """Standard deviation (accessor.py:514-525)."""
    return _moment_df(result, variable, "std", f"sqrt({_var_expr()})")


def moment(
    result: HistogramResult, order: int, variable: Optional[str] = None
) -> DataFrame:
    """Raw n-th moment Σ mass·centerⁿ (accessor.py:527-540; bin-center
    approximation, within the reference's half-bin-width test tolerance)."""
    if order < 1:
        raise ValueError("order must be >= 1")
    powk = " * ".join(["_x.c"] * order)
    return _moment_df(
        result, variable, f"moment{order}",
        _ratio(_fold(f"_x.m * ({powk})"), _TOT),
    )


def _cum_df(result: HistogramResult, variable: Optional[str]):
    """The rows ``_prep`` picks with their mass, the bin metadata and the
    running and total integer sums per partition, in ONE projection."""
    v, part, df, core, m = _prep(result, variable)
    mass = _when(core, "__val", "0")
    pk = ", ".join(q(p) for p in part)
    over = f"PARTITION BY {pk}" if part else ""
    df = df.selectExpr(
        *[q(p) for p in part],
        q(id_col(v)),
        f"CAST({_when(core, m['label'])} AS DOUBLE) AS __left",
        f"{_when(core, m['width'])} AS __w",
        f"{mass} AS __val",
        f"sum({mass}) OVER ({over} ORDER BY {q(id_col(v))}) AS __cum",
        f"sum({mass}) OVER ({over}) AS __tot",
    )
    return v, part, df


def ppf(
    result: HistogramResult,
    q,
    variable: Optional[str] = None,
    names: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Percent-point (inverse CDF) by piecewise-linear interpolation within
    the bracketing bin (accessor.py:443-458).  ``q`` may be a float or a list
    of floats (one output column each).  All running sums are exact int64;
    only the final interpolation is float."""
    qs = [q] if isinstance(q, (int, float)) else list(q)
    for qq in qs:
        if not (0.0 < qq < 1.0):
            raise ValueError("q must be in (0, 1)")
    v, part, df = _cum_df(result, variable)
    names = list(names) if names else [
        f"{v}_ppf" if len(qs) == 1 else f"{v}_ppf_{i}" for i, _ in enumerate(qs)
    ]
    cumb = "CAST(__cum - __val AS DOUBLE)"
    sels = []
    for name, qq in zip(names, qs):
        qt = f"{dlit(qq)} * CAST(__tot AS DOUBLE)"
        cross = f"CAST(__cum AS DOUBLE) >= {qt} AND {cumb} < {qt}"
        interp = f"__left + ({qt} - {cumb}) / CAST(__val AS DOUBLE) * __w"
        sels.append(F.expr(
            f"max(CASE WHEN {cross} THEN {interp} END) AS {quote(name)}"
        ))
    return df.groupBy(*part).agg(*sels)


def median(result: HistogramResult, variable: Optional[str] = None) -> DataFrame:
    """ppf(0.5) (accessor.py:460-471)."""
    v = result._one_var(variable)
    return ppf(result, 0.5, variable, names=[f"{v}_median"])


def interval(
    result: HistogramResult, confidence: float, variable: Optional[str] = None
) -> DataFrame:
    """Equal-tailed confidence interval [ppf(α), ppf(1−α)], α=(1−conf)/2
    (accessor.py:542-573)."""
    if not (0.0 < confidence < 1.0):
        raise ValueError("confidence must be in (0, 1)")
    v = result._one_var(variable)
    alpha = (1.0 - confidence) / 2.0
    return ppf(
        result, [alpha, 1.0 - alpha], variable, names=[f"{v}_low", f"{v}_high"]
    )


def cdf(result: HistogramResult, x: float, variable: Optional[str] = None) -> DataFrame:
    """CDF at scalar ``x``: mass below the bracketing bin plus the linear
    within-bin fraction (accessor.py:486-499).  The bracketing bin and the
    fraction are resolved Python-side from the BinSpec (x is a literal)."""
    v, part, df, core, _ = _prep(result, variable)
    mass = _when(core, "__val", "0")
    spec = result.specs[v]
    bins = spec.core_bins()
    x = float(x)
    if math.isnan(x):
        # NaN passes neither range guard and would fall through to a bare
        # StopIteration from the bin search
        raise ValueError("cdf: x must not be NaN")
    if x < bins[0].left:
        j, frac = -1, 0.0
    elif x >= bins[-1].right:
        j, frac = spec.n, 0.0
    else:
        j = next(i for i, b in enumerate(bins) if b.left <= x < b.right)
        b = bins[j]
        frac = (x - b.left) / (b.right - b.left)
    i = q(id_col(v))
    below = f"sum(CASE WHEN {i} < {j} THEN {mass} ELSE 0 END)"
    at = f"sum(CASE WHEN {i} = {j} THEN {mass} ELSE 0 END)"
    expr = (
        f"(CAST({below} AS DOUBLE) + CAST({at} AS DOUBLE) * {dlit(frac)}) / "
        f"nullif(CAST(sum({mass}) AS DOUBLE), 0.0D)"
    )
    return df.groupBy(*part).agg(F.expr(f"{expr} AS {q(f'{v}_cdf')}"))
