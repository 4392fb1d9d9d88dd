"""HistogramResult: the histogram-DataFrame wrapper + bin-coordinate algebra.

Reference parity: the ``hist`` accessor
(/root/reference/src/xarray_histogram/accessor.py) — bins/edges/centers/
widths/areas (accessor.py:148-250), remove_flow (278-305), normalize
(252-276), apply_func/scale (355-395).  The reference round-trips schema
through a naming convention + coordinate attrs; here the wrapper carries the
BinSpec objects directly (and ``sources.io`` persists them as a JSON sidecar
next to parquet, the analog of NetCDF attrs).

A result holds ONE piece of data: the sparse aggregate ``_agg`` (group
keys, ``<var>_bin`` ids, the exact ``__val``).  Everything else is
metadata — the specs and a few flags — so ``remove_flow``, ``apply_func``,
``scale`` and ``normalize`` build no DataFrame (matches accessor.py:355-380:
transforming a coordinate relabels it, the counts are untouched).  The
labelled dense frame is built once, by ``plans.histogram.dense_frame``,
when ``df``, a handoff or ``write_result`` asks for it, and cached per
result object; it carries internal ``__<var>_width`` / ``__<var>_center``
/ ``__<var>_is_flow`` columns and ``__val``, which the public ``df`` drops.

Hidden rows: the aggregate may hold rows whose ids lie outside the bins
the current specs emit (flow bins after ``remove_flow``, bins outside a
slice, the flow ids ``preserve_groups`` aggregates).  They add no visible
mass, but keep their group present: a group whose mass lies entirely in
hidden bins shows zero rows and a NULL statistic.

Reads share one aggregate.  A handoff (``to_pandas``/``to_numpy``/
``to_xarray``) and ``write_result`` execute at once; a statistic and
``df`` hand out a lazy frame that may execute later.  The cache pays in
one order only — a lazy frame handed out before another read executes
(``s = r.median(); r.to_numpy(); s.collect()``) — so a read that follows
a lazy read of the same result persists ``_agg``: whichever executes
first fills the cache and the other scans the aggregate, not the source.
A result read once, or handed off before its statistic is built, keeps
its plan (a lazy frame that executed before the next read costs one
cache fill nothing reads).  The results ``remove_flow``/``normalize``/
``apply_func``/``scale`` return share ``_agg`` and its cache; those
``rebin``/``slice_bins``/``project``/``merge`` build over a cached
``_agg`` read the cache while it lives and the source after.  When the
``_agg`` DataFrame object is garbage-collected (the last result over it
is gone) its cache is queued, and the next read of any result unpersists
it: the collector may run inside another py4j call, so it makes none.
Stale source: while the cache lives, every plan that holds the same
aggregate — a result built from the cached one, or the same histogram
built again over the same input (Spark matches cached plans by result) —
answers from the aggregate the first executed read computed.  To see
changed source data, drop the old results (or call
``spark.catalog.clearCache()``) and build the histogram again.
"""

from __future__ import annotations

import dataclasses
import weakref
from dataclasses import dataclass, field, replace
from functools import cached_property
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..binspec import BinSpec, Variable, sql_chain
from ..functions.hashing import q

# the JVM frames of cached aggregates whose DataFrame object is gone, to
# unpersist at the next read (see ``HistogramResult._read``)
_released: list = []


def _release_pending() -> None:
    """Unpersist the queued caches of collected aggregates."""
    while _released:
        try:
            jdf = _released.pop()
        except IndexError:  # another thread drained it
            return
        # a stopped context took its caches with it (and refuses the call)
        if not jdf.sparkSession().sparkContext().isStopped():
            jdf.unpersist()


@dataclass
class HistogramResult:
    # group keys + ``<var>_bin`` ids + ``__val`` (exact int64 or raw
    # double), plus the ``given`` columns
    _agg: DataFrame
    variables: list[str]
    specs: dict[str, BinSpec]
    group_by: list[str]
    value_col: str
    density: bool
    flow: bool
    # internal value representation: exact int64 (count or scaled-int weighted
    # sum) with a display divisor, or raw double (int_mode=False)
    int_mode: bool = True
    divisor: float = 1.0
    # the display value is the int64 ``__val`` itself (unweighted int64
    # storage), not its double
    exact: bool = False
    # ``_agg`` holds every emitted cell of every group, so the dense frame
    # needs no fill (ungrouped results — the spine is unioned in — and
    # ``histogram_columns``, reloaded and adopted frames)
    complete: bool = False
    # ``_agg`` may hold hidden rows (ids outside the emitted bins)
    hidden: bool = False
    # the variables a ``normalize`` divided by (the density's partition is
    # the group keys plus the other variables' ids)
    norm: tuple[str, ...] = ()
    # columns of ``_agg`` the dense frame takes as they are: a reloaded or
    # adopted frame's labels and value column (an adopted label can differ
    # from its inferred spec's by an ulp; a pdf is not normalized twice)
    given: tuple[str, ...] = ()
    # a lazy frame (a statistic or ``df``) of this result was handed out
    _lazy_out: bool = field(default=False, init=False, repr=False, compare=False)

    def _read(self, lazy: bool) -> None:
        """One public read (see the module docstring): unpersist the
        queued caches, then persist ``_agg`` if an earlier read handed out
        a lazy frame — once per DataFrame object (a streaming frame cannot
        be cached).  The release is bound to that object, not to this
        result, so results sharing ``_agg`` share the cache; the finalizer
        only queues it, since it runs wherever the collector does."""
        _release_pending()
        agg = self._agg
        if self._lazy_out and not agg.is_cached and not agg.isStreaming:
            agg.persist()
            weakref.finalize(agg, _released.append, agg._jdf).atexit = False
        self._lazy_out = self._lazy_out or lazy

    # ---- the labelled dense frame, built once per result ----
    @cached_property
    def _dense(self) -> DataFrame:
        from .histogram import dense_frame

        return dense_frame(self)

    @cached_property
    def _df(self) -> DataFrame:
        d = self._dense
        return d.drop(*[c for c in d.columns if c.startswith("__")])

    @property
    def df(self) -> DataFrame:
        """The public dense result (internal ``__`` columns dropped)."""
        self._read(lazy=True)
        return self._df

    def _one_var(self, variable: Optional[str]) -> str:
        if variable is None:
            if len(self.variables) != 1:
                raise ValueError("multiple variables; specify one")
            return self.variables[0]
        if variable not in self.variables:
            raise ValueError(f"unknown variable {variable!r}")
        return variable

    def _visible(self, variables: Sequence[str]) -> str:
        """Spark SQL predicate: the ``variables``' ids are emitted bins."""
        from .histogram import _axis_id_range, id_col

        ranges = [(v, *_axis_id_range(self.specs[v], self.flow)) for v in variables]
        return sql_chain("AND", [
            f"{q(id_col(v))} >= {lo} AND {q(id_col(v))} <= {hi}"
            for v, lo, hi in ranges
        ])

    # ---- coordinate algebra (pure metadata; accessor.py:148-250) ----
    def bins(self, variable: Optional[str] = None, flow: bool = True) -> list:
        v = self._one_var(variable)
        return self.specs[v].labels(flow=flow and self.flow)

    def edges(self, variable: Optional[str] = None, flow: bool = True) -> list[float]:
        """Edges including the rightmost; with ``flow=True`` (the reference's
        default) the flow-bin positions wrap the interior edges exactly as
        ``get_edges`` inserts the right edge before the overflow coordinate
        (accessor.py:164-179, core.py:594-611): ±inf for Regular/Variable,
        the int64 sentinels for Integer."""
        v = self._one_var(variable)
        s = self.specs[v]
        e = s.edges()
        if e is None:
            raise ValueError(f"category axis {v!r} has no edges")
        if flow and self.flow:
            if s.underflow:
                e = [s.flow_under_bin().label] + e
            if s.overflow:
                e = e + [s.flow_over_bin().label]
        return e

    def centers(self, variable: Optional[str] = None, flow: bool = True) -> list[float]:
        v = self._one_var(variable)
        return self.specs[v].centers(flow=flow and self.flow)

    def widths(self, variable: Optional[str] = None, flow: bool = True) -> list[float]:
        v = self._one_var(variable)
        return self.specs[v].widths(flow=flow and self.flow)

    def areas(self, variables: Optional[Sequence[str]] = None, flow: bool = True) -> list:
        """Outer product of per-variable widths, flow cells forced to 1
        (core.py:638-646).  Row-major over the chosen variables."""
        vs = list(variables) if variables is not None else list(self.variables)
        import itertools

        grids = [self.specs[v].bins(flow=flow and self.flow) for v in vs]
        out = []
        for combo in itertools.product(*grids):
            a = 1.0
            for b in combo:
                a *= 1.0 if b.is_flow else b.width
            out.append(a)
        return out

    def is_normalized(self) -> bool:
        return self.density

    # ---- flow removal (accessor.py:278-305) ----
    def remove_flow(self, variables: Optional[Sequence[str]] = None) -> "HistogramResult":
        """The flow bins of ``variables`` stop being emitted; their rows
        stay in the aggregate as hidden rows."""
        vs = list(variables) if variables is not None else list(self.variables)
        if not vs:
            raise ValueError("remove_flow: no variables given")
        new_specs = dict(self.specs)
        for v in vs:
            s = self.specs[v]
            init = {f.name for f in dataclasses.fields(s) if f.init}
            fields = {k: False for k in ("underflow", "overflow") if k in init}
            new_specs[v] = replace(s, **fields) if fields else s
        return replace(self, specs=new_specs, hidden=True)

    # ---- normalization (accessor.py:252-276, core.py:649-663) ----
    def normalize(self, variables: Optional[Sequence[str]] = None) -> "HistogramResult":
        if self.density:
            raise ValueError("histogram is already normalized")
        vs = list(variables) if variables is not None else list(self.variables)
        if not vs:
            raise ValueError("normalize: no variables given")
        for v in vs:
            if v not in self.variables:
                raise ValueError(f"unknown variable {v!r}")
        new_name = (
            self.value_col[: -len("_histogram")] + "_pdf"
            if self.value_col.endswith("_histogram")
            else self.value_col + "_pdf"
        )
        return replace(self, value_col=new_name, density=True, norm=tuple(vs))

    # ---- coordinate transforms (accessor.py:355-395): metadata-only ----
    def apply_func(
        self,
        func: Callable[..., float],
        variable: Optional[str] = None,
        **kwargs,
    ) -> "HistogramResult":
        """Relabel one variable's bin coordinate by applying ``func`` to its
        edges — equivalent to having histogrammed ``func(x)``.  Data is
        untouched; only the spec changes (labels, widths and centers come
        from it when the dense frame is built).  ``func`` must be strictly
        increasing on the edge range.  Extra ``kwargs`` are forwarded to
        ``func`` (reference accessor.py:354-380 signature:
        ``apply_func(func, variable, **kwargs)``)."""
        v = self._one_var(variable)
        s = self.specs[v]
        old_edges = s.edges()
        if old_edges is None:
            raise ValueError("apply_func needs an interval axis (Regular/Variable)")
        new_edges = [float(func(e, **kwargs)) for e in old_edges]
        if any(b <= a for a, b in zip(new_edges, new_edges[1:])):
            raise ValueError("func must be strictly increasing over the edges")
        new_specs = dict(self.specs)
        new_specs[v] = Variable(
            tuple(new_edges), underflow=s.underflow, overflow=s.overflow
        )
        given = tuple(c for c in self.given if c != f"{v}_bins")
        return replace(self, specs=new_specs, given=given)

    def scale(self, factor: float, variable: Optional[str] = None) -> "HistogramResult":
        """Scale a bin coordinate by a constant factor (accessor.py:382-395)."""
        if factor <= 0:
            raise ValueError("factor must be > 0 (monotonicity)")
        return self.apply_func(lambda e: e * factor, variable)

    def _reaggregated(
        self, agg: DataFrame, variables: Sequence[str], specs: dict
    ) -> "HistogramResult":
        """A result over the re-aggregated ``agg`` (labels and value column
        computed again, from ``specs``)."""
        from .histogram import value_col_name

        return replace(
            self, _agg=agg, variables=list(variables), specs=specs,
            value_col=value_col_name(variables, False), given=(),
        )

    # ---- rebin (boost UHI-style adjacent-bin merge) ----
    def rebin(self, factor: int, variable: Optional[str] = None) -> "HistogramResult":
        """Merge ``factor`` adjacent bins along one variable — boost's rebin.
        Runs on the aggregate only (raw data never re-read): integer id
        remap + one re-sum.  The new axis is a ``Variable`` over every
        ``factor``-th OLD edge, so the label doubles survive EXACTLY
        (recomputing ``lo + i·span/(n/f)`` could differ in the last ulp
        from the original edge values).  Flow bins pass through unchanged
        (hidden ids land on hidden flow ids).  Rebin before ``normalize`` —
        merging pdf bins is not mass-preserving."""
        from ..binspec import Regular, Variable as _Var

        v = self._one_var(variable)
        if self.density:
            raise ValueError("rebin the histogram, then normalize")
        s = self.specs[v]
        if not isinstance(s, (Regular, _Var)):
            raise TypeError("rebin needs an interval axis (Regular/Variable)")
        f = int(factor)
        if f < 1 or s.n % f != 0:
            raise ValueError(f"factor {f} must divide n={s.n}")
        if f == 1:
            return self
        new_spec = _Var(
            tuple(s.edges()[::f]),
            underflow=getattr(s, "underflow", True),
            overflow=getattr(s, "overflow", True),
        )
        old = q(f"{v}_bin")
        new_id = (
            f"CAST(CASE WHEN {old} < 0 THEN -1 "
            f"WHEN {old} >= {s.n} THEN {new_spec.n} "
            f"ELSE floor({old} / {f}) END AS INT)"
        )
        names = [f"{c}_bin" for c in self.variables]
        agg = (
            self._agg.selectExpr(
                *[q(g) for g in self.group_by],
                *[f"{new_id} AS {q(n)}" if c == v else q(n)
                  for c, n in zip(self.variables, names)],
                "__val",
            )
            .groupBy(*self.group_by, *names)
            .agg(F.expr("sum(__val) AS __val"))
        )
        return self._reaggregated(
            agg, self.variables, {**self.specs, v: new_spec}
        )

    # ---- bin-range slicing (boost UHI h[a:b]) ----
    def slice_bins(
        self, lo: int, hi: int, variable: Optional[str] = None
    ) -> "HistogramResult":
        """Keep core bins ``lo <= id < hi`` of one interval axis — boost's
        UHI slice with CROP semantics (``h[bh.loc(a):bh.loc(b):bh.crop]``):
        out-of-slice content is DROPPED, not accumulated into flow.  (The
        boost-histogram DEFAULT slice ``h[a:b]`` accumulates cropped
        content into the flow bins instead — not what this implements.)
        One projection of the aggregate's id: the new axis is a
        ``Variable`` over the original edge doubles (exact labels), ids
        shifted to 0-based, so the ids outside the slice fall outside the
        new axis — hidden rows.  The result is flow-free, so the flow rows
        of EVERY axis become hidden rows too.  (A filter on a shifted id
        the dense frame pushes into the scan costs the same as one on the
        original id.)"""
        from ..binspec import Regular as _Reg, Variable as _Var
        from .histogram import id_col as _id

        v = self._one_var(variable)
        if self.density:
            raise ValueError("slice the histogram, then normalize")
        s = self.specs[v]
        if not isinstance(s, (_Reg, _Var)):
            raise TypeError("slice_bins needs an interval axis")
        if not (0 <= lo < hi <= s.n):
            raise ValueError(f"need 0 <= lo < hi <= {s.n}")
        out = self._agg.withColumn(_id(v), F.expr(f"{q(_id(v))} - {lo}"))
        specs = {**self.specs, v: _Var(tuple(s.edges()[lo : hi + 1]))}
        return replace(self, _agg=out, specs=specs, flow=False, hidden=True)

    # ---- projection (boost Histogram.project / summing out dims) ----
    def project(self, variables) -> "HistogramResult":
        """Marginalize onto ``variables``: sum the other axes out — boost's
        ``Histogram.project`` / the reference's xarray ``sum`` over bin
        dims.  One re-sum of the aggregate (raw data never re-read) by the
        kept ids; the hidden rows of the dropped axes add zero.

        Whatever bins the result EMITS for the dropped axes collapse into
        the sums: with ``flow=True`` that is the axes' full content (boost
        semantics — the projection equals a direct histogram of the kept
        variables); with ``flow=False`` the dropped axes' keep filters
        remain baked into the data, so the projection equals a histogram of
        the kept variables over rows passing ALL original keep filters.
        Project the histogram, then normalize — a pdf cannot be summed."""
        if isinstance(variables, str):
            variables = [variables]
        want = set(variables)
        unknown = want - set(self.variables)
        if unknown:
            raise ValueError(f"unknown variable(s) {sorted(unknown)}")
        if self.density:
            raise ValueError("project the histogram, then normalize")
        keep = [v for v in self.variables if v in want]
        if len(keep) == len(self.variables):
            return self
        if not keep:
            raise ValueError("project needs at least one kept variable")
        val = "__val"
        if self.hidden:
            dropped = [v for v in self.variables if v not in want]
            zero = "CAST(0 AS BIGINT)" if self.int_mode else "0.0D"
            val = f"CASE WHEN {self._visible(dropped)} THEN __val ELSE {zero} END"
        agg = self._agg.groupBy(
            *self.group_by, *[f"{v}_bin" for v in keep]
        ).agg(F.expr(f"sum({val}) AS __val"))
        return self._reaggregated(agg, keep, {v: self.specs[v] for v in keep})

    # ---- histogram addition (xarray DataArray arithmetic / boost `+`) ----
    def merge(self, *others: "HistogramResult") -> "HistogramResult":
        """Sum histograms with identical schema (specs, grouping, flow) —
        the reference's DataArray addition; the merge of per-shard or
        incremental histograms.  One re-sum of the unioned aggregates;
        exact in int_mode (integer addition).  Labels every operand takes
        as given stay given."""
        for o in others:
            if (
                o.variables != self.variables
                or o.specs != self.specs
                or o.group_by != self.group_by
                or o.flow != self.flow
                or o.int_mode != self.int_mode
                or o.divisor != self.divisor
            ):
                raise ValueError("merge needs identical histogram schemas")
            if o.density or self.density:
                raise ValueError("merge normalized histograms before normalize, not after")
        rs = (self, *others)
        labels = [
            f"{v}_bins" for v in self.variables
            if all(f"{v}_bins" in r.given for r in rs)
        ]
        keys = self.group_by + [f"{v}_bin" for v in self.variables] + labels
        sel = [q(k) for k in keys] + ["__val"]
        unioned = self._agg.selectExpr(*sel)
        for o in others:
            unioned = unioned.unionByName(o._agg.selectExpr(*sel))
        summed = unioned.groupBy(*keys).agg(F.expr("sum(__val) AS __val"))
        return replace(
            self, _agg=summed, given=tuple(labels),
            complete=all(r.complete for r in rs),
            hidden=any(r.hidden for r in rs),
        )

    def __add__(self, other: "HistogramResult") -> "HistogramResult":
        return self.merge(other)

    # ---- distribution statistics (accessor.py:397-573); see plans.stats ----
    def mean(self, variable: Optional[str] = None) -> DataFrame:
        from . import stats

        return stats.mean(self, variable)

    def var(self, variable: Optional[str] = None) -> DataFrame:
        from . import stats

        return stats.var(self, variable)

    def std(self, variable: Optional[str] = None) -> DataFrame:
        from . import stats

        return stats.std(self, variable)

    def moment(self, order: int, variable: Optional[str] = None) -> DataFrame:
        from . import stats

        return stats.moment(self, order, variable)

    def median(self, variable: Optional[str] = None) -> DataFrame:
        from . import stats

        return stats.median(self, variable)

    def ppf(self, q, variable: Optional[str] = None) -> DataFrame:
        from . import stats

        return stats.ppf(self, q, variable)

    def cdf(self, x: float, variable: Optional[str] = None) -> DataFrame:
        from . import stats

        return stats.cdf(self, x, variable)

    def interval(self, confidence: float, variable: Optional[str] = None) -> DataFrame:
        from . import stats

        return stats.interval(self, confidence, variable)

    # ---- dense exports (migration surface: the reference RETURNS a dense
    # labelled array; these collect the bin-bounded result — never raw data —
    # and rebuild that exact shape driver-side) ----
    def to_pandas(self):
        """Collect the result ordered by (group keys, bin ids) — flow bins
        first/last like the reference's coordinates (underflow leads,
        overflow trails, core.py:524-587)."""
        self._read(lazy=False)
        order = self.group_by + [f"{v}_bin" for v in self.variables]
        return self._df.orderBy(*order).toPandas()

    def _dense_pivot(self):
        """(values ndarray, dim names, coords dict).  Shape = (sorted
        distinct observed values per group column…, bin extents…); group
        combinations never observed are NaN-filled (the reference cannot
        produce them — its loop dims come from a dense array).  A NULL
        group key (possible when grouping by a nullable column) becomes an
        explicit trailing ``None`` level — observed groups are never
        silently dropped."""
        import numpy as np

        pdf = self.to_pandas()
        labels = {v: self.specs[v].labels(flow=self.flow) for v in self.variables}
        ids = {
            v: [b.id for b in self.specs[v].bins(self.flow)]
            for v in self.variables
        }
        dims = list(self.group_by) + [f"{v}_bins" for v in self.variables]
        coords: dict = {}
        code_cols: list[np.ndarray] = []
        shape: list[int] = []
        for g in self.group_by:
            col = pdf[g]
            isna = col.isna().to_numpy()
            uniq = sorted(col.dropna().unique().tolist())
            level = uniq + ([None] if isna.any() else [])
            coords[g] = level
            lut = {v: i for i, v in enumerate(uniq)}
            codes = np.array(
                [len(uniq) if na else lut[v] for v, na in zip(col.tolist(), isna)],
                dtype=np.int64,
            )
            code_cols.append(codes)
            shape.append(len(level))
        for v in self.variables:
            coords[f"{v}_bins"] = labels[v]
            lut = {b: i for i, b in enumerate(ids[v])}
            code_cols.append(
                np.array([lut[b] for b in pdf[f"{v}_bin"].tolist()], dtype=np.int64)
            )
            shape.append(len(ids[v]))
        flat = np.full(int(np.prod(shape)), np.nan)
        if len(pdf):
            idx = np.ravel_multi_index(tuple(code_cols), tuple(shape))
            flat[idx] = pdf[self.value_col].to_numpy(dtype="float64")
        return flat.reshape(tuple(shape)), dims, coords

    def to_numpy(self):
        """Dense ndarray shaped (group dims…, bin dims…), reference array
        layout (underflow first, overflow last along each bin dim)."""
        return self._dense_pivot()[0]

    def to_xarray(self):
        """The reference's exact output object: a DataArray named
        ``<vars>_{histogram|pdf}`` with ``<var>_bins`` coordinates carrying
        ``bin_type`` / ``right_edge`` / ``underflow`` / ``overflow`` attrs
        (core.py:524-591, accessor.py:25-47).  Requires xarray (optional
        dependency)."""
        try:
            import xarray as xr
        except ImportError as e:  # pragma: no cover - xarray optional
            raise ImportError(
                "to_xarray() needs the optional xarray package"
            ) from e

        values, dims, coords = self._dense_pivot()
        da = xr.DataArray(
            values, dims=dims, coords=coords, name=self.value_col
        )
        for v in self.variables:
            s = self.specs[v]
            emitted = s.bins(self.flow)
            attrs = {
                "bin_type": type(s).__name__,
                "underflow": int(any(b.id == -1 for b in emitted)),
                "overflow": int(any(b.id == s.n for b in emitted)),
            }
            edges = s.edges()
            if edges is not None and type(s).__name__ in (
                "Regular", "MonotoneRegular", "Variable",
            ):
                attrs["right_edge"] = edges[-1]
            da.coords[f"{v}_bins"].attrs.update(attrs)
        return da


# ---------------------------------------------------------------------------
# foreign-histogram adoption: attach the accessor surface to ANY well-named
# histogram DataFrame, no BinSpec sidecar required
# ---------------------------------------------------------------------------

_VALID_VALUE_TYPES = ("histogram", "pdf")
_ADOPT_MAX_BINS = 100_000


def _validate_value_name(name: str, variables: Sequence[str]) -> str:
    """Name-convention validation, mirroring the reference accessor's
    greedy decomposition (accessor.py:73-105): the value column must end
    in a valid type and be prefixed by every ``_bins`` variable (in some
    order); anything else is malformed.  Returns the type suffix."""
    err = f"Malformed value column name '{name}'. "
    vtype = ""
    for t in _VALID_VALUE_TYPES:
        if name.endswith(f"_{t}") or name == t:
            vtype = t
            break
    if not vtype:
        raise ValueError(
            err + f"Name should end in one of {list(_VALID_VALUE_TYPES)}"
        )
    rest = name
    unaccounted = list(variables)
    for _ in range(len(variables)):
        found = False
        for var in unaccounted:
            # require the separator: bare startswith(var) would let
            # "var1_histogram" satisfy a variable named "var"
            if rest.startswith(var + "_"):
                found = True
                rest = rest.removeprefix(var + "_")
                unaccounted.remove(var)
                break
        if not found:
            raise ValueError(
                err + "Name contains unrecognized variables "
                f"(found variables are {list(variables)})."
            )
    if unaccounted:
        raise ValueError(
            err + f"Variables {unaccounted} are not present in the name."
        )
    if rest != vtype:
        # leftover between the variables and the type suffix, e.g.
        # "var1_junk_histogram"
        raise ValueError(
            err + "Name contains unrecognized variables "
            f"(found variables are {list(variables)})."
        )
    return vtype


def _isclose(a: float, b: float) -> bool:
    # np.allclose's default tolerances (accessor.py:124 uses np.allclose)
    return abs(a - b) <= 1e-8 + 1e-5 * abs(b)


def _infer_axis(var: str, pairs: list, dtype) -> tuple:
    """Infer a BinSpec from one axis's distinct (id, label) pairs.

    The dtype of the label column picks the axis family (the reference's
    "Default is Regular" + right-edge inference, accessor.py:107-130);
    flow bins are recognized by THEIR label encodings (±inf / int64
    min-max / "_flow_bin" — binspec.py:36-38), the same encodings
    ``to_xarray``/NetCDF round-trips use.

    Returns ``(spec, frame_core_labels)``: for double axes,
    ``frame_core_labels`` is the sorted list of the FRAME's actual core
    label values — the inferred Regular recomputes its labels as
    ``lo + i·span/n``, which can drift from the stored labels by an ulp,
    so id/metadata lookups must be keyed by the frame's own values, not
    the recomputation.  ``None`` for exact (int/string/bool) label types,
    whose spec labels are constructed bit-identical from the frame's."""
    from pyspark.sql import types as T

    from ..binspec import (
        FLOW_STR, I64_MAX, I64_MIN, Integer, IntCategory, Regular,
        StrCategory,
    )

    have_ids = all(i is not None for i, _ in pairs)
    if have_ids:
        pairs = sorted(pairs, key=lambda p: p[0])
    labels = [l for _, l in pairs]

    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        labels = sorted(float(l) for l in labels)
        under = any(l == float("-inf") for l in labels)
        over = any(l == float("inf") for l in labels)
        core = [l for l in labels if l not in (float("-inf"), float("inf"))]
        if len(core) < 2:
            raise ValueError(
                f"Cannot infer right edge: bins for {var} need at least "
                "two regular bins."
            )
        diffs = [core[i + 1] - core[i] for i in range(len(core) - 1)]
        if not all(_isclose(d, diffs[0]) for d in diffs):
            raise ValueError(
                f"Cannot infer right edge: bins for {var} are not "
                "regularly spaced."
            )
        return (
            Regular(
                len(core), core[0], core[-1] + diffs[0],
                underflow=under, overflow=over,
            ),
            core,
        )
    if isinstance(dtype, T.BooleanType):
        return (
            Integer(0, 2, underflow=False, overflow=False, bool_labels=True),
            None,
        )
    if isinstance(
        dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    ):
        labels = sorted(int(l) for l in labels)
        under = I64_MIN in labels
        over = I64_MAX in labels
        core = [l for l in labels if l not in (I64_MIN, I64_MAX)]
        if not core:
            raise ValueError(f"bins for {var}: no core (non-flow) bins")
        consecutive = core == list(range(core[0], core[-1] + 1))
        if consecutive:
            return (
                Integer(core[0], core[-1] + 1, underflow=under, overflow=over),
                None,
            )
        if under:
            raise ValueError(
                f"bins for {var}: non-consecutive integer labels with an "
                "underflow sentinel cannot be represented (IntCategory "
                "has no underflow)"
            )
        return IntCategory(tuple(core), overflow=over), None
    if isinstance(dtype, T.StringType):
        over = FLOW_STR in labels
        core = [l for l in labels if l != FLOW_STR]
        if not have_ids:
            core = sorted(core)
        if not core:
            raise ValueError(f"bins for {var}: no core (non-flow) bins")
        return StrCategory(tuple(core), overflow=over), None
    raise TypeError(
        f"bins for {var}: unsupported label dtype {dtype.simpleString()}"
    )


def adopt_dataframe(
    df: DataFrame, value_col: Optional[str] = None
) -> HistogramResult:
    """Adopt a FOREIGN histogram DataFrame — one produced by another tool,
    or by this engine with the ``_binspec.json`` sidecar lost — purely
    from the naming convention, the reference accessor's interop story
    (accessor.py:49-130: attach to any well-named DataArray, default the
    bin type to Regular, infer the right edge from the bin coordinate,
    raise when edges are not inferable, accessor.py:123-130).

    Requirements (all by convention, no metadata):

    - one ``<var>_bins`` label column per axis (any of: double Regular
      left edges, int64 Integer/IntCategory labels, string StrCategory
      labels, boolean Integer bool labels — flow bins recognized by the
      ±inf / int64 min-max / ``"_flow_bin"`` encodings);
    - a value column named ``<v1>_..._<vN>_{histogram|pdf}`` (validated
      by the reference's greedy decomposition; pass ``value_col=`` to
      skip discovery when other columns share the suffix);
    - every other column is taken as a group (loop-dim) key — except
      ``__``-prefixed columns, this engine's internal-metadata convention,
      which are DROPPED and rebuilt (so ``read_result``'s lost-sidecar
      fallback adopts this engine's own full dense-frame parquet cleanly);
    - a ``<var>_bin`` integer id column is OPTIONAL: when present it
      fixes category order; ids are (re)derived from the labels via the
      inferred spec either way, so foreign id conventions cannot corrupt
      the coordinate algebra.

    Plan shape: ONE bounded aggregation job collects each axis's distinct
    labels (bin-bounded — the frame is an aggregated histogram; a
    ``_ADOPT_MAX_BINS`` guard refuses degenerate inputs), then everything
    else is projections (a label→id literal map; the dense frame adds the
    ``axis_meta`` lookups at that id) — no join, no extra shuffle.  The
    frame's labels and value column are kept as given.  The returned
    result supports the full accessor surface (normalize, stats,
    rebin, slice, merge, export).
    """
    internal = [c for c in df.columns if c.startswith("__")]
    if internal:
        df = df.drop(*internal)
    cols = df.columns
    variables = [c[: -len("_bins")] for c in cols if c.endswith("_bins")]
    variables = [v for v in variables if v]
    if not variables:
        raise ValueError("No bins coordinates found in DataFrame")
    if value_col is None:
        cands = [
            c
            for c in cols
            if any(c.endswith(f"_{t}") for t in _VALID_VALUE_TYPES)
        ]
        if len(cands) != 1:
            raise ValueError(
                "could not discover the value column (candidates: "
                f"{cands}); pass value_col="
            )
        value_col = cands[0]
    elif value_col not in cols:
        raise ValueError(f"value column {value_col!r} not in DataFrame")
    vtype = _validate_value_name(value_col, variables)
    density = vtype == "pdf"

    # ONE batched job: bounded distinct (id, label) pairs per axis
    schema = df.schema
    aggs = []
    for v in variables:
        lab = F.col(f"{v}_bins")
        if f"{v}_bin" in cols:
            src = F.struct(
                F.col(f"{v}_bin").cast("int").alias("i"), lab.alias("l")
            )
        else:
            src = F.struct(F.lit(None).cast("int").alias("i"), lab.alias("l"))
        aggs.append(
            F.slice(
                F.sort_array(F.collect_set(F.when(lab.isNotNull(), src))),
                1,
                _ADOPT_MAX_BINS + 1,
            ).alias(f"__lab_{v}")
        )
        # same job: a NULL label anywhere is a malformed histogram frame —
        # it would otherwise adopt with silent NULL ids poisoning stats
        aggs.append(F.max(lab.isNull()).alias(f"__null_{v}"))
    row = df.agg(*aggs).first()
    for v in variables:
        if row[f"__null_{v}"]:
            raise ValueError(
                f"bins for {v}: NULL labels present — not a well-formed "
                "histogram frame"
            )

    specs: dict[str, BinSpec] = {}
    frame_core: dict[str, Optional[list]] = {}
    flow = False
    for v in variables:
        pairs = [(r["i"], r["l"]) for r in row[f"__lab_{v}"]]
        if len(pairs) > _ADOPT_MAX_BINS:
            raise ValueError(
                f"bins for {v}: more than {_ADOPT_MAX_BINS} distinct "
                "labels — not a histogram frame?"
            )
        if not pairs:
            raise ValueError(f"bins for {v}: no labels (empty frame?)")
        spec, core_labels = _infer_axis(v, pairs, schema[f"{v}_bins"].dataType)
        specs[v] = spec
        frame_core[v] = core_labels
        flow = flow or any(b.is_flow for b in spec.bins(True))

    consumed = (
        {value_col}
        | {f"{v}_bins" for v in variables}
        | {f"{v}_bin" for v in variables}
    )
    group_by = [c for c in cols if c not in consumed]

    vdt = schema[value_col].dataType
    from pyspark.sql import types as T

    int_mode = vtype == "histogram" and isinstance(
        vdt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    )

    def keyed_bins(v: str) -> list:
        """(map_key, Bin) pairs: keys are the FRAME's own label values.
        An inferred Regular recomputes core labels as lo + i·span/n,
        which can drift from the stored labels by an ulp — a float-equal
        map keyed on the recomputation would miss those bins and emit
        NULL ids/metadata.  Core double keys therefore come from the
        collected frame labels (sorted ascending = id order); flow and
        exact-typed labels are bit-identical by construction."""
        s = specs[v]
        core = frame_core[v]
        out = []
        for b in s.bins(flow):
            if b.is_flow or core is None:
                out.append((b.label, b))
            else:
                out.append((core[b.id], b))
        return out

    # per variable, ONE label→id map keyed by the frame's labels; the
    # dense frame reads width/center/is_flow from axis_meta at that id
    from .histogram import id_col, spark_lit

    proj = [q(c) for c in group_by]
    for v in variables:
        s = specs[v]
        lab = q(f"{v}_bins")
        entries = ", ".join(
            f"{spark_lit(key, s.label_type)}, {b.id}"
            for key, b in keyed_bins(v)
        )
        proj += [f"element_at(map({entries}), {lab}) AS {q(id_col(v))}", lab]
    proj += [
        q(value_col),
        f"CAST({q(value_col)} AS {'BIGINT' if int_mode else 'DOUBLE'}) AS __val",
    ]
    return HistogramResult(
        _agg=df.selectExpr(*proj),
        variables=variables,
        specs=specs,
        group_by=group_by,
        value_col=value_col,
        density=density,
        flow=flow,
        int_mode=int_mode,
        divisor=1.0,
        exact=int_mode and isinstance(vdt, T.LongType),
        complete=True,
        given=(*[f"{v}_bins" for v in variables], value_col),
    )
