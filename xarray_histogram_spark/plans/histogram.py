"""Histogram planner: compose bucketize → groupBy agg → dense fill → density.

Reference parity: ``histogram`` / ``histogram2d`` / ``histogramdd``
(/root/reference/src/xarray_histogram/core.py:46-320).  The reference's
per-chunk boost fill + Dask tree-reduce (core.py:335-464) IS Spark's
partial+final HashAggregate — the whole distributed-execution module of the
reference collapses into ``groupBy().agg()`` and Catalyst does the rest
(partial map-side combine, AQE-sized shuffle, whole-stage codegen for the
bucketize arithmetic).

Scale notes (designed for ~100 TB inputs, 1000 executors):
- Bucketize is pure Column arithmetic → stays in WholeStageCodegen; no UDFs.
- The only shuffle is the groupBy on (group_keys, bin_ids); its output is
  tiny (|groups| × extent rows) because histograms compress.
- Dense fill, one aggregation either way: ungrouped, a zero-valued spine
  (cross-product of per-axis bin ids, a literal relation) unions in BEFORE
  the aggregation — on the Column path and the Arrow-fill path alike;
  grouped, each group's packed bins expand against a literal spine after
  it — no second scan of the raw data.
- One shared planner core (``check_inputs``, ``value_mode``,
  ``keep_and_bucketize``, ``flat_key``) makes the input check, weight
  mode, keep/bucketize rule and flat multi-axis key for EVERY planner of
  the package (this module, ``fast_fill``, ``binned``, ``rollup`` and the
  streaming histograms).
- Range inference (``bins=int, range=None``) runs ONE combined min/max job
  over all columns needing it (the reference does one eager pass per array,
  core.py:500-506 — this is the same cost, batched).
- Determinism of weighted sums: double addition is not associative, so a
  distributed sum is partitioning-dependent and can never hash-match an
  oracle bit-for-bit.  With ``weight_scale=s`` (default 6) weights are
  quantised to int64 (half-away-from-zero via sign-aware floor — see
  ``scaled_weight_col``) and summed as integers — exact,
  order-independent, identical in Spark and DuckDB (int64→double casts are
  hardware-rounded identically; DuckDB's DECIMAL→DOUBLE cast is NOT
  correctly rounded, which rules the DECIMAL route out).  The quantisation
  (~1e-11 relative on these tables) is the documented price of a
  deterministic gate; ``weight_scale=None`` gives raw double sums for
  production speed (int64 overflow bound: |w|·10^s · rows < 2^63).
  Unweighted counts are naturally integers — always exact.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, replace as dc_replace
from functools import reduce
from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..binspec import Bin, BinSpec, Integer, Regular
from .result import HistogramResult

BinsArg = Union[int, BinSpec, Sequence[Union[int, BinSpec]]]


def id_col(var: str) -> str:
    return f"{var}_bin"


def label_col(var: str) -> str:
    return f"{var}_bins"


def value_col_name(cols: Sequence[str], density: bool) -> str:
    return "_".join(cols) + ("_pdf" if density else "_histogram")


def resolve_specs(
    df: DataFrame,
    cols: Sequence[str],
    bins: BinsArg,
    ranges=None,
) -> list[BinSpec]:
    """Parse bins/range specs into BinSpec objects, inferring missing ranges
    with ONE combined min/max job (core.py:467-513 semantics: inferred
    bounds are the raw min/max — boost half-open bins send the max value to
    overflow; that is reference behaviour, kept)."""
    from ..binspec import Growth

    k = len(cols)
    if isinstance(bins, (int, BinSpec, Growth)):
        bins_list: list = [bins] * k
    else:
        bins_list = list(bins)
    if len(bins_list) != k:
        raise ValueError(f"got {len(bins_list)} bin specs for {k} variables")

    if ranges is None:
        ranges_list: list = [None] * k
    elif len(ranges) == 2 and not isinstance(ranges[0], (tuple, list, type(None))):
        ranges_list = [tuple(ranges)] * k
    else:
        ranges_list = list(ranges)
        if len(ranges_list) != k:
            raise ValueError(f"got {len(ranges_list)} ranges for {k} variables")

    # growth axes: discover-then-bin (one distinct scan per growth axis;
    # see binspec.Growth).  The reference's constructor spelling
    # (Int/StrCategory(..., growth=True)) resolves the same way, keeping
    # the declared categories in place and appending newly observed ones
    # in sorted order.
    from ..binspec import IntCategory as _IC, StrCategory as _SC

    def _resolve_growth(i: int, b):
        if isinstance(b, Growth):
            return categories_from_data(df, cols[i], b.max_categories)
        if isinstance(b, (_IC, _SC)) and b.growth:
            disc = categories_from_data(
                df, cols[i],
                b.max_categories if b.max_categories is not None else 10_000,
            )
            have = set(b.categories)
            merged = tuple(b.categories) + tuple(
                v for v in disc.categories if v not in have
            )
            return dc_replace(
                b, categories=merged, growth=False, max_categories=None
            )
        return b

    bins_list = [_resolve_growth(i, b) for i, b in enumerate(bins_list)]

    # figure out which bounds need inference; batch into one job
    need: list[tuple[int, bool, bool]] = []
    for i, (b, r) in enumerate(zip(bins_list, ranges_list)):
        if isinstance(b, BinSpec):
            continue
        lo = r[0] if r is not None else None
        hi = r[1] if r is not None else None
        if lo is None or hi is None:
            need.append((i, lo is None, hi is None))
    inferred: dict[int, tuple[float, float]] = {}
    if need:
        aggs = []
        for i, need_lo, need_hi in need:
            c = cols[i]
            aggs.append(F.min(F.col(c).cast("double")).alias(f"__lo_{i}"))
            aggs.append(F.max(F.col(c).cast("double")).alias(f"__hi_{i}"))
        row = df.agg(*aggs).first()
        for i, _, _ in need:
            inferred[i] = (row[f"__lo_{i}"], row[f"__hi_{i}"])

    specs: list[BinSpec] = []
    for i, (b, r) in enumerate(zip(bins_list, ranges_list)):
        if isinstance(b, BinSpec):
            specs.append(b)
            continue
        if not isinstance(b, int):
            raise TypeError(f"bins[{i}] must be an int or BinSpec, got {type(b)}")
        lo = r[0] if r is not None else None
        hi = r[1] if r is not None else None
        if lo is None:
            lo = inferred[i][0]
        if hi is None:
            hi = inferred[i][1]
        if lo is None or hi is None:
            raise ValueError(f"could not infer range for {cols[i]} (all-null column?)")
        specs.append(Regular(b, float(lo), float(hi)))
    return specs


def scaled_weight_col(w: Column, divisor: float) -> Column:
    """Exact-int64 weight quantization: half-away-from-zero rounding of
    ``w·divisor`` via sign-aware floor — pure IEEE double ops, so Spark,
    DuckDB (same CASE/FLOOR mirror) and the numpy fill path compute the
    BIT-IDENTICAL int64 for every input.  ``F.round`` would round the
    decimal string repr through BigDecimal: subtly different on
    adversarial doubles AND ~1.8× slower per row (BigDecimal allocation
    in the hot path).

    NaN weights are treated as NULL (skipped by SUM, zero mass) — the one
    semantic all three execution paths can share: Spark's NaN ordering
    would otherwise quietly quantize NaN to 0 through the ``>= 0`` branch
    while the DuckDB mirror ERRORS on its NaN→BIGINT cast, and the Arrow
    fill kernel receives Spark NULLs as pandas NaN so it cannot tell the
    two apart (it already skips both).  Raw-double mode
    (``weight_scale=None``) keeps IEEE semantics (NaN poisons the sum)."""
    x = w.cast("double") * F.lit(divisor)
    return (
        F.when(F.isnan(x), F.lit(None))
        .when(x >= 0, F.floor(x + F.lit(0.5)))
        .otherwise(-F.floor(-x + F.lit(0.5)))
        .cast("bigint")
    )


# ---- shared planner core --------------------------------------------------
# Every planner (histogramdd, histogram_columns, histogramdd_fill,
# binned_statistic, rollup_histogramdd, the streaming histograms) makes the
# input check, the value mode, the keep/bucketize rule and the flat
# multi-axis key through these helpers, so the planners cannot drift apart.

# reference storage families (core.py:29-34): Double/Unlimited → float
# output, Int64/AtomicInt64 → integer output
_STORAGE = {
    "double": "double", "unlimited": "double",
    "int64": "int64", "atomicint64": "int64",
}


def check_inputs(
    df: DataFrame,
    cols: Sequence[str],
    bins: BinsArg,
    ranges=None,
    *,
    flow: bool,
    storage: str = "double",
) -> tuple[list[BinSpec], str]:
    """Shared input check: the histogrammed ``cols`` are the axes of ONE
    histogram over ``df``.  Fails before any Spark job on a bad storage
    name or a missing column, then resolves the specs (``resolve_specs``),
    validates each axis against its column dtype, applies the reference's
    boolean-axis relabel and rejects infeasible dense extents.  Returns
    the (possibly relabelled) specs and the normalized storage."""
    cols = list(cols)
    if not cols:
        raise ValueError("need at least one variable column")
    norm = _STORAGE.get(storage.lower())
    if norm is None:
        raise ValueError(
            "storage must be 'double'/'unlimited' or 'int64'/'atomicint64'"
        )
    schema = {f.name: f.dataType for f in df.schema.fields}
    for c in cols:
        if c not in schema:
            raise ValueError(f"column {c!r} not in DataFrame")
    specs = []
    for c, s in zip(cols, resolve_specs(df, cols, bins, ranges)):
        s.validate_dtype(schema[c], c)
        # reference bool-axis labeling (core.py:542-543): a flow-off
        # Integer(0,2) axis over a boolean column emits False/True labels,
        # not int64 0/1
        if (
            not flow
            and isinstance(s, Integer)
            and not s.bool_labels
            and (s.lo, s.hi) == (0, 2)
            and isinstance(schema[c], T.BooleanType)
        ):
            s = dc_replace(s, bool_labels=True)
        specs.append(s)
    # the OUTPUT is dense (Π(n_i+2) cells per group) — reject extents no
    # engine could materialize rather than failing opaquely downstream;
    # this also guarantees the flat bigint key cannot overflow
    total_space = 1
    for s in specs:
        total_space *= s.n + 2
    if total_space > 2**31:
        raise ValueError(
            f"dense histogram extent ({total_space} cells per group) is "
            "infeasible to materialize; reduce bin counts or histogram "
            "fewer variables together"
        )
    return specs, norm


@dataclass(frozen=True)
class ValueMode:
    """What a planner aggregates per row, from ``(weights, weight_scale)``.

    ``int_mode``: the per-row value is an exact int64 (a COUNT, or a
    scaled-int weight) and the aggregate is an integer sum —
    order-independent, the oracle-deterministic representation; display
    values divide by ``divisor`` once at the end."""

    weights: Optional[str]
    int_mode: bool
    divisor: float

    @property
    def zero_sql(self) -> str:
        """The typed zero of the aggregate (spine rows, empty bins)."""
        return "CAST(0 AS BIGINT)" if self.int_mode else "CAST(0.0 AS DOUBLE)"

    def value(self, c: Optional[Column] = None) -> Optional[Column]:
        """Per-row value of ``c`` (default: the weights column); ``None``
        when unweighted — the aggregate is then a COUNT."""
        if self.weights is None:
            return None
        c = F.col(self.weights) if c is None else c
        if self.int_mode:
            return scaled_weight_col(c, self.divisor)
        return c.cast("double")

    def display_sum(self, c: Column) -> Column:
        """Display double of SUM(value(c)): the exact int64 sum, then one
        division, in int_mode; the raw double sum otherwise."""
        s = F.sum(self.value(c))
        return s.cast("double") / F.lit(self.divisor) if self.int_mode else s


def value_mode(weights: Optional[str], weight_scale: Optional[int]) -> ValueMode:
    """Weighted sums are exact int64 sums of ``round(w·10^scale)``
    (deterministic, oracle-matchable — see module docstring);
    ``weight_scale=None`` gives raw double sums."""
    if weights is None:
        return ValueMode(None, True, 1.0)
    if weight_scale is None:
        return ValueMode(weights, False, 1.0)
    return ValueMode(weights, True, float(10**weight_scale))


def keep_and_bucketize(
    df: DataFrame,
    xs: Sequence[Column],
    specs: Sequence[BinSpec],
    flow: bool,
    keep: bool = True,
) -> tuple[DataFrame, list[Column]]:
    """Keep filter plus per-axis raw bin ids of the values ``xs``.

    The keep filter runs FIRST, on the raw values (``keep_pred_col``):
    pushed into the scan, and the bucketize is then evaluated exactly once
    per row — an id-range filter would be pushdown-substituted into both
    BETWEEN bounds, tripling the bucketize work per row.  An axis uses the
    kept-fast id (``raw_id_col_kept``: no NULL/NaN/flow CASE wrapper,
    identical ids on kept rows) exactly when its keep predicate was applied
    and ``flow`` is off.  ``keep=False`` keeps every row (flow ids too)."""
    preds = [
        s.keep_pred_col(x, flow) if keep else None for x, s in zip(xs, specs)
    ]
    applied = [p for p in preds if p is not None]
    src = df.where(reduce(lambda a, b: a & b, applied)) if applied else df
    ids = [
        s.raw_id_col_kept(x) if p is not None and not flow else s.raw_id_col(x)
        for x, s, p in zip(xs, specs, preds)
    ]
    return src, ids


def flat_strides(specs: Sequence[BinSpec]) -> list[int]:
    """Strides of the flat multi-axis key ``Σ (id_i+1)·stride_i``: raw ids
    live in [-1, n_i], so axis i spans n_i + 2 slots — injective."""
    strides = [1] * len(specs)
    for i in range(len(specs) - 2, -1, -1):
        strides[i] = strides[i + 1] * (specs[i + 1].n + 2)
    return strides


def flat_key(ids: Sequence[Column], specs: Sequence[BinSpec]) -> Column:
    """One bigint key from k bin ids: the hash-aggregate hashes/compares a
    single long instead of k ints, and a map probe compares longs."""
    return reduce(
        lambda a, b: a + b,
        [
            (i + F.lit(1)).cast("bigint") * F.lit(st)
            for i, st in zip(ids, flat_strides(specs))
        ],
    )


def flat_key_ids(cols: Sequence[str], specs: Sequence[BinSpec]) -> list[Column]:
    """Inverse of ``flat_key`` on the ``__fk`` column: the per-axis ids as
    ``<col>_bin`` columns (integer div/mod)."""
    return [
        F.expr(f"CAST((__fk div {st}) % {s.n + 2} - 1 AS INT)").alias(id_col(c))
        for c, s, st in zip(cols, specs, flat_strides(specs))
    ]


def spark_lit(v, typ: str) -> str:
    """Spark-SQL literal with exact repr round-trip (doubles go through a
    VARCHAR cast so the parsed value is bit-identical to the Python float)."""
    if typ == "double":
        x = float(v)
        if math.isinf(x):
            return f"CAST('{'Infinity' if x > 0 else '-Infinity'}' AS DOUBLE)"
        return f"CAST('{x!r}' AS DOUBLE)"
    if typ == "bigint":
        return f"CAST({int(v)} AS BIGINT)"
    if typ == "boolean":
        return "true" if v else "false"
    return "'" + str(v).replace("'", "''") + "'"


def spine_df(spark: SparkSession, var: str, spec: BinSpec, flow: bool) -> DataFrame:
    """Tiny per-axis bin table: (id, label, width, center, is_flow) — the
    analog of the reference's bin coordinate (core.py:524-587), broadcast
    into the dense join.

    Built as a pure-Catalyst literal relation (``inline`` of literal structs
    → LocalRelation after constant folding): a ``createDataFrame`` here would
    round-trip through a Python RDD and cost seconds of Python-worker
    startup per query, serially, for a few dozen constant rows."""
    rows = ", ".join(
        "named_struct("
        f"'{id_col(var)}', CAST({b.id} AS INT), "
        f"'{label_col(var)}', {spark_lit(b.label, spec.label_type)}, "
        f"'__{var}_width', {spark_lit(b.width, 'double')}, "
        f"'__{var}_center', {spark_lit(b.center, 'double')}, "
        f"'__{var}_is_flow', {'true' if b.is_flow else 'false'})"
        for b in spec.bins(flow)
    )
    # one selectExpr round trip instead of hundreds of py4j lit() calls —
    # plan-construction latency is real overhead at interactive scale
    return spark.range(1).selectExpr(f"inline(array({rows}))")


def _axis_id_range(spec: BinSpec, flow: bool) -> tuple[int, int]:
    """Contiguous [lo, hi] id range of the emitted bins (every BinSpec
    family emits consecutive ids: underflow −1, core 0..n−1, overflow n)."""
    bins = spec.bins(flow)
    ids = [b.id for b in bins]
    lo = ids[0]
    if ids != list(range(lo, lo + len(ids))):  # pragma: no cover
        raise AssertionError(f"non-contiguous bin ids: {ids}")
    return lo, ids[-1]


def spine_ids_zero(
    spark: SparkSession, cols: Sequence[str], specs: Sequence[BinSpec],
    flow: bool, zero_sql: str, val_name: str = "__v",
) -> DataFrame:
    """Cross-product of per-axis bin ids with a typed zero value — the
    union branch that densifies the aggregation (every bin appears in some
    group even if no data row hits it).  Pure literal `sequence`/`explode`
    plan: a few hundred driver-local rows, no job, no broadcast."""
    df = spark.range(1)
    for c, s in zip(cols, specs):
        lo, hi = _axis_id_range(s, flow)
        df = df.selectExpr("*", f"explode(sequence({lo}, {hi})) AS __seq_{c}")
    return df.selectExpr(
        *[f"CAST(__seq_{c} AS INT) AS {id_col(c)}" for c in cols],
        f"{zero_sql} AS {val_name}",
    )


def axis_meta_exprs(var: str, spec: BinSpec, flow: bool) -> list[str]:
    """Post-aggregation label/width/center/is_flow columns as literal-array
    lookups on the bin id — O(1) per OUTPUT row (the aggregate is
    bin-bounded), replacing the reference's dense coordinate arrays
    (core.py:524-587) without any join."""
    bins = spec.bins(flow)
    lo, _ = _axis_id_range(spec, flow)
    idx = f"({id_col(var)} + {1 - lo})"
    labels = ", ".join(spark_lit(b.label, spec.label_type) for b in bins)
    widths = ", ".join(spark_lit(b.width, "double") for b in bins)
    centers = ", ".join(spark_lit(b.center, "double") for b in bins)
    flows = ", ".join(spark_lit(b.is_flow, "boolean") for b in bins)
    return [
        f"element_at(array({labels}), {idx}) AS {label_col(var)}",
        f"element_at(array({widths}), {idx}) AS __{var}_width",
        f"element_at(array({centers}), {idx}) AS __{var}_center",
        f"element_at(array({flows}), {idx}) AS __{var}_is_flow",
    ]


def histogramdd(
    df: DataFrame,
    cols: Sequence[str],
    bins: BinsArg = 10,
    *,
    ranges=None,
    weights: Optional[str] = None,
    density: bool = False,
    group_by: Sequence[str] = (),
    flow: bool = False,
    storage: str = "double",
    weight_scale: Optional[int] = 6,
    preserve_groups: bool = False,
) -> HistogramResult:
    """N-dimensional weighted histogram over a long-form DataFrame.

    ``cols`` are the histogrammed variables (the reference's DataArrays —
    multiple broadcastable arrays ≡ multiple columns of one long-form table);
    ``group_by`` generalises the reference's retained "loop dims"
    (core.py:271-276): any grouping columns, e.g. a truncated date.
    ``flow=True`` emits the underflow/overflow bins of axes that have them.
    ``storage`` ∈ {"double", "int64"}: output dtype of unweighted counts
    (core.py:432-436); weighted histograms are always double.
    ``weight_scale``: weighted sums are computed as exact int64 sums of
    ``round(w·10^scale)`` (deterministic, oracle-matchable — see module
    docstring); ``None`` → raw double sums (fast path, not deterministic
    under reordering).
    ``preserve_groups``: with ``flow=False`` a group whose rows ALL land in
    flow bins (all NaN/NULL/out-of-range) has no surviving rows, so it
    vanishes from the output — whereas the reference's loop slices come
    from a dense array and would appear with all-zero counts.  ``True``
    restores reference semantics by aggregating flow ids too (the dense
    fill then drops them, but the group's spine rows remain): costs ≤2
    extra bins per group in the shuffle and forgoes the scan-level keep
    pushdown, so it is opt-in.
    """
    cols = list(cols)
    group_by = list(group_by)
    spark = df.sparkSession
    specs, storage = check_inputs(
        df, cols, bins, ranges, flow=flow, storage=storage
    )
    vm = value_mode(weights, weight_scale)
    # preserve_groups aggregates flow ids too: the dense fill drops them
    # but the group's spine rows survive (reference loop-slice semantics)
    src, id_exprs = keep_and_bucketize(
        df, [F.col(c) for c in cols], specs, flow,
        keep=not (preserve_groups and group_by),
    )
    # unweighted: no value column AT ALL — the aggregate is COUNT(*)
    # (measured ~20% cheaper per row than SUM of a literal-1 column at 1e7
    # rows, and the shuffle rows narrow to the key alone).  The dense spine
    # then contributes exactly ONE row per bin, corrected by a
    # post-aggregate −1 (below).
    vsrc = vm.value()
    vcols = [vsrc.alias("__v")] if vsrc is not None else []
    multi = len(cols) > 1
    if multi:
        # flatten the k bin ids into ONE bigint grouping key (flat_key; the
        # shuffle rows are one 8-byte slot narrower per extra axis); the
        # ids are recovered post-agg (≤ extent rows) by div/mod, so the
        # output is bit-identical.  The ids widen to bigint BEFORE the +1
        # (flat_key's own cast is then redundant and Catalyst drops it).
        fk = flat_key([e.cast("bigint") for e in id_exprs], specs)
        base = src.select(
            *[F.col(g) for g in group_by], fk.alias("__fk"), *vcols
        )
        agg_keys = group_by + ["__fk"]
    else:
        base = src.select(
            *[F.col(g) for g in group_by],
            *[e.alias(id_col(c)) for c, e in zip(cols, id_exprs)],
            *vcols,
        )
        agg_keys = group_by + [id_col(c) for c in cols]
    dense = not group_by
    if dense:
        # dense fill by construction: union the zero-valued bin spine with
        # the data rows BEFORE the aggregation — ONE partial+final
        # HashAggregate then emits every spine bin.  No join, no broadcast
        # of a computed aggregate (a broadcast subtree costs an extra job
        # per execution), one exchange of ≤ extent rows.
        spine0 = spine_ids_zero(spark, cols, specs, flow, vm.zero_sql)
        if multi:
            spine0 = spine0.select(
                flat_key(
                    [F.col(id_col(c)).cast("bigint") for c in cols], specs
                ).alias("__fk"),
                F.col("__v"),
            )
        if vsrc is None:
            spine0 = spine0.drop("__v")
        base = base.unionByName(spine0)
    if vsrc is None:
        # COUNT(*); the dense spine added exactly one row per bin → −1
        cnt = F.count(F.lit(1))
        val = (cnt - F.lit(1)) if dense else cnt
        agg = base.groupBy(*agg_keys).agg(val.alias("__val"))
    else:
        agg = base.groupBy(*agg_keys).agg(
            F.coalesce(F.sum("__v"), F.expr(vm.zero_sql)).alias("__val")
        )
    if multi:
        agg = agg.select(*group_by, *flat_key_ids(cols, specs), "__val")
    return finish_from_agg(
        agg, cols, specs, group_by=group_by, flow=flow, density=density,
        storage=storage, int_mode=vm.int_mode, divisor=vm.divisor,
        weighted=weights is not None,
        # preserve_groups aggregates flow ids so all-flow groups survive
        # densely; the sparse fast path would drop them (see finish_from_agg)
        sparse_ok=not (preserve_groups and group_by),
    )


def finish_from_agg(
    agg: DataFrame,
    cols: Sequence[str],
    specs: Sequence[BinSpec],
    *,
    group_by: Sequence[str],
    flow: bool,
    density: bool,
    storage: str,
    int_mode: bool,
    divisor: float,
    weighted: bool,
    sparse_ok: bool = True,
) -> HistogramResult:
    """Shared finish stage: (group, bin-ids, __val) aggregate → dense
    labelled result.  Used by both the pure-Column path and the
    Arrow/numpy fill path (plans.fast_fill) — identical output.

    ``sparse_ok``: whether downstream statistics may read the sparse
    aggregate directly instead of the dense result.  The fast path is
    only attached when ``flow`` is off AND the caller did not aggregate
    flow ids for group preservation: in either of those modes a group (or
    the global row set) whose mass sits ENTIRELY in flow bins survives
    into the dense output as zero-mass rows — the statistics then emit a
    NULL-statistic row for it — but the core-bin filter on the sparse
    aggregate would drop it with no row at all.

    Dense output:
    - Ungrouped: the aggregate must already hold one row per spine bin —
      every caller unions the zero spine in before its aggregation
      (``spine_ids_zero``), or re-aggregates an already dense result.  The
      bin labels/widths/centers attach as O(1) literal-array lookups on the
      id, so NO join and NO broadcast of a computed aggregate appears in
      the ungrouped plan at all.
    - Grouped: pack each group's sparse bins into a map and expand against
      the broadcast literal spine — ONE scan of the input and no self-join
      (a groups-distinct + join-back plan scans and aggregates the raw
      data twice; at 100 TB the scan dominates, so this halves the query).
      The map is keyed by the FLAT bin id (``flat_key``), not a struct: the unavoidable linear map probe then does cheap long
      compares instead of struct compares.  (The spine is a literal
      relation — broadcasting it is driver-local, not a job.)"""
    cols = list(cols)
    specs = list(specs)
    group_by = list(group_by)
    spark = agg.sparkSession
    zero = F.lit(0).cast("bigint") if int_mode else F.lit(0.0)
    if group_by:
        # identical flat-key arithmetic on the aggregate and the spine side
        def fkey():
            return flat_key([F.col(id_col(c)) for c in cols], specs)

        strides = flat_strides(specs)
        packed = agg.groupBy(*group_by).agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(fkey().alias("key"), F.col("__val").alias("value"))
                )
            ).alias("__m")
        )
        out_cols = [
            *group_by,
            *[F.col(id_col(c)) for c in cols],
            *[F.col(label_col(c)) for c in cols],
            None,  # placeholder for __val position
            *[F.col(f"__{c}_width") for c in cols],
            *[F.col(f"__{c}_center") for c in cols],
            *[F.col(f"__{c}_is_flow") for c in cols],
        ]
        extent_total = 1
        for s in specs:
            extent_total *= len(s.bins(flow))
        if extent_total <= 1024:
            # expand each group's packed map against an INLINE literal
            # spine (`inline(array(named_struct(...)))`): extent rows per
            # group generated in the same stage — no join node and no
            # broadcast-exchange job per execution
            import itertools

            entries = []
            for combo in itertools.product(
                *[s.bins(flow) for s in specs]
            ):
                k = sum((b.id + 1) * st for b, st in zip(combo, strides))
                fields = [f"'__k', CAST({k} AS BIGINT)"]
                for c, s, b in zip(cols, specs, combo):
                    fields.append(f"'{id_col(c)}', CAST({b.id} AS INT)")
                    fields.append(
                        f"'{label_col(c)}', {spark_lit(b.label, s.label_type)}"
                    )
                    fields.append(f"'__{c}_width', {spark_lit(b.width, 'double')}")
                    fields.append(
                        f"'__{c}_center', {spark_lit(b.center, 'double')}"
                    )
                    fields.append(
                        f"'__{c}_is_flow', {'true' if b.is_flow else 'false'}"
                    )
                entries.append("named_struct(" + ", ".join(fields) + ")")
            expanded = packed.selectExpr(
                "*", f"inline(array({', '.join(entries)}))"
            )
            val = F.coalesce(F.element_at(F.col("__m"), F.col("__k")), zero)
        else:
            # very wide spines: broadcast the literal spine relation and
            # cross-expand (driver-local literal, no job for the build side)
            spine = reduce(
                lambda a, b: a.crossJoin(b),
                [spine_df(spark, c, s, flow) for c, s in zip(cols, specs)],
            )
            expanded = packed.crossJoin(F.broadcast(spine))
            val = F.coalesce(F.element_at(F.col("__m"), fkey()), zero)
        filled = expanded.select(
            *[c for c in out_cols[: len(group_by) + 2 * len(cols)]],
            val.alias("__val"),
            *[c for c in out_cols[len(group_by) + 2 * len(cols) + 1 :]],
        )
    else:
        ids = [id_col(c) for c in cols]
        # NOTE on a rejected "optimization": coalescing this post-shuffle
        # tail to one task (fewer near-empty task dispatches) measured
        # neutral on the 1-D mirror and consistently ~20 ms SLOWER on the
        # along-dim mirror across interleaved A/B runs — the extra plan
        # node buys nothing locally and single-threads the (remote at real
        # scale) shuffle fetch, so the tail keeps shuffle.partitions tasks.
        # column order: ids, labels, __val, widths, centers, is_flow
        per_axis = [axis_meta_exprs(c, s, flow) for c, s in zip(cols, specs)]
        filled = agg.selectExpr(
            *ids,
            *[a[0] for a in per_axis],
            "__val",
            *[a[1] for a in per_axis],
            *[a[2] for a in per_axis],
            *[a[3] for a in per_axis],
        )

    return _finish_value_col(
        filled, cols, specs, group_by=group_by, flow=flow, density=density,
        storage=storage, int_mode=int_mode, divisor=divisor, weighted=weighted,
        sparse=agg if (sparse_ok and not flow) else None,
    )


def _density_expr(
    norm_vars: Sequence[str],
    partition_keys: Sequence[str],
    int_mode: bool,
    divisor: float,
) -> Column:
    """Histogram → PDF along ``norm_vars`` (core.py:649-663 semantics):
    the total EXCLUDES flow bins, and EVERY cell — flow included — is
    divided by ``area × total``; ``get_area`` (core.py:638-646) forces flow
    areas to 1, so flow cells come out as ``raw / total``.  In int_mode the
    window total is an exact integer sum → deterministic under any
    partitioning."""
    any_flow = reduce(
        lambda a, b: a | b, [F.col(f"__{v}_is_flow") for v in norm_vars]
    )
    area = reduce(lambda a, b: a * b, [F.col(f"__{v}_width") for v in norm_vars])
    w = Window.partitionBy(*[F.col(k) for k in partition_keys])
    if int_mode:
        zero = F.lit(0).cast("bigint")
        total = F.sum(F.when(any_flow, zero).otherwise(F.col("__val"))).over(w)
        raw = F.col("__val").cast("double")
        total_d = total.cast("double")
        if divisor != 1.0:
            raw = raw / F.lit(divisor)
            total_d = total_d / F.lit(divisor)
    else:
        total_d = F.sum(
            F.when(any_flow, F.lit(0.0)).otherwise(F.col("__val"))
        ).over(w)
        raw = F.col("__val")
    total_nz = F.nullif(total_d, F.lit(0.0))
    return F.when(any_flow, raw / total_nz).otherwise(raw / area / total_nz)


def histogram_columns(
    df: DataFrame,
    cols: Sequence[str],
    bins: Union[int, BinSpec] = 10,
    *,
    range=None,
    weights: Optional[str] = None,
    density: bool = False,
    flow: bool = False,
    storage: str = "double",
    weight_scale: Optional[int] = 6,
    dim_name: str = "series",
    var_name: str = "value",
) -> HistogramResult:
    """One histogram PER COLUMN of a wide DataFrame, sharing one axis —
    the reference's along-dim histogram of a (k × N) array
    (core.py:271-276: ``dims=['x']`` retains the other dim as a loop/
    coordinate dim; a wide Spark table with k value columns IS that array).

    Scale design — two physical shapes, one logical plan:

    - **k ≤ 16 (default workloads): a union of k column-pruned branches.**
      Each branch scans ONLY its own column (columnar pruning: the k
      branches together read the same bytes as one full-width scan), with
      its own pushed keep filter and a codegen'd bucketize producing the
      fused (column-index, bin) bigint key.  k× the scan tasks means k×
      the parallelism when the input has few partitions, and no per-row
      work beyond bare floor arithmetic.  (Measured 2.0× faster than the
      generator shape at k=3 × 1e7 cached rows.)
    - **wide tables (k > 16): one scan + ``posexplode``.**  Each row's k
      values explode into (column-index, value) pairs via a codegen'd
      generator; one shared keep filter + bucketize evaluates per
      generated value.  Avoids planning/scheduling k subtrees when k is
      hundreds, at the price of a per-row array allocation.

    Both shapes end identically: the zero spine (k × extent rows) unions
    in before the aggregation — ONE partial+final HashAggregate, one
    exchange of ≤ k·extent rows, no join.  ``weights`` (optional) is a
    shared per-row weight column, the analog of a broadcastable weight
    array.
    """
    cols = list(cols)
    if not cols:
        raise ValueError("need at least one column")
    spark = df.sparkSession
    if isinstance(bins, BinSpec):
        spec = bins
    else:
        if not isinstance(bins, int):
            raise TypeError(f"bins must be an int or BinSpec, got {type(bins)}")
        lo = hi = None
        if range is not None:
            lo, hi = range
        if lo is None or hi is None:
            # ONE shared min/max job across all columns (the reference's
            # along-dim axis is shared by every slice)
            row = df.agg(
                F.least(*[F.min(F.col(c).cast("double")) for c in cols])
                if len(cols) > 1
                else F.min(F.col(cols[0]).cast("double")),
                F.greatest(*[F.max(F.col(c).cast("double")) for c in cols])
                if len(cols) > 1
                else F.max(F.col(cols[0]).cast("double")),
            ).first()
            lo = lo if lo is not None else row[0]
            hi = hi if hi is not None else row[1]
        if lo is None or hi is None:
            raise ValueError("could not infer a shared range (all-null columns?)")
        spec = Regular(bins, float(lo), float(hi))
    # each column is its own 1-D histogram over the shared axis; the axis
    # takes the first column's (boolean) relabel
    checked = [
        check_inputs(df, [c], [spec], flow=flow, storage=storage) for c in cols
    ]
    (spec,), storage = checked[0]
    vm = value_mode(weights, weight_scale)
    # unweighted → COUNT(*) with spine −1 correction, as in histogramdd
    vsrc = vm.value()

    bin_id = id_col(var_name)
    # flat (column-index, bin) grouping key: __d·(n+2) + id + 1 — one
    # bigint to hash/compare/shuffle instead of two ints; recovered by
    # div/mod post-agg (≤ k·extent rows).
    width = spec.n + 2
    # one generated (pos, value) row per (input row, column): the array
    # elements share one Spark type — the exact type every raw_id_col
    # variant casts its input to first, so pre-casting is a no-op in the
    # id arithmetic and the ids match a per-column evaluation bit-for-bit
    from ..binspec import Integer as _Int, IntCategory as _IC, StrCategory as _SC
    if isinstance(spec, (_Int, _IC)):
        elem_t = "bigint"
    elif isinstance(spec, _SC):
        elem_t = "string"
    else:
        elem_t = "double"
    if len(cols) <= 16:
        # k column-pruned branches (see docstring): per-branch pushed keep
        # filter + bare bucketize, fused key with the branch index folded
        # in as a literal
        branches = []
        for kk, c in enumerate(cols):
            b, (idc,) = keep_and_bucketize(df, [F.col(c)], [spec], flow)
            fkc = (idc.cast("bigint") + F.lit(1) + F.lit(kk * width)).alias(
                "__fk"
            )
            branches.append(
                b.select(fkc) if vsrc is None
                else b.select(fkc, vsrc.alias("__v"))
            )
        data = reduce(lambda a, b: a.unionByName(b), branches)
    else:
        arr = F.array(*[F.col(c).cast(elem_t) for c in cols])
        extra = [F.col(weights)] if weights is not None else []
        gen = df.select(
            *extra, F.posexplode(arr).alias("__d", "__x")
        )
        gen, (idc,) = keep_and_bucketize(gen, [F.col("__x")], [spec], flow)
        fkc = (
            F.col("__d").cast("bigint") * F.lit(width)
            + idc.cast("bigint") + F.lit(1)
        ).alias("__fk")
        data = (
            gen.select(fkc) if vsrc is None
            else gen.select(fkc, vsrc.alias("__v"))
        )
    lo_id, hi_id = _axis_id_range(spec, flow)
    k = len(cols)
    spine = (
        spark.range(1)
        .selectExpr(
            f"explode(sequence(0, {k - 1})) AS __dseq",
            # placeholder select to chain the second explode below
        )
        .selectExpr("__dseq", f"explode(sequence({lo_id}, {hi_id})) AS __bseq")
        .selectExpr(
            f"CAST(__dseq * {width} + __bseq + 1 AS BIGINT) AS __fk",
            *([] if vsrc is None else [f"{vm.zero_sql} AS __v"]),
        )
    )
    u = data.unionByName(spine)
    if vsrc is None:
        agg = u.groupBy("__fk").agg(
            (F.count(F.lit(1)) - F.lit(1)).alias("__val")
        )
    else:
        agg = u.groupBy("__fk").agg(
            F.coalesce(F.sum("__v"), F.expr(vm.zero_sql)).alias("__val")
        )
    agg = agg.select(
        F.expr(f"CAST(__fk div {width} AS INT)").alias("__d"),
        F.expr(f"CAST(__fk % {width} - 1 AS INT)").alias(bin_id),
        "__val",
    )
    dim_labels = ", ".join(spark_lit(c, "string") for c in cols)
    per_axis = axis_meta_exprs(var_name, spec, flow)
    filled = agg.selectExpr(
        f"element_at(array({dim_labels}), __d + 1) AS {dim_name}",
        bin_id,
        per_axis[0],
        "__val",
        per_axis[1],
        per_axis[2],
        per_axis[3],
    )
    return _finish_value_col(
        filled, [var_name], [spec], group_by=[dim_name], flow=flow,
        density=density, storage=storage, int_mode=vm.int_mode,
        divisor=vm.divisor, weighted=weights is not None,
    )


def _finish_value_col(
    filled: DataFrame,
    cols: list[str],
    specs: list[BinSpec],
    *,
    group_by: list[str],
    flow: bool,
    density: bool,
    storage: str,
    int_mode: bool,
    divisor: float,
    weighted: bool,
    sparse: Optional[DataFrame] = None,
) -> HistogramResult:
    """Shared tail: dense labelled rows with ``__val`` → display value
    column + HistogramResult wrapper."""
    vname = value_col_name(cols, density)
    if density:
        vis = _density_expr(cols, group_by, int_mode, divisor)
    elif int_mode and not weighted and storage == "int64":
        vis = F.col("__val")
    elif int_mode:
        vis = F.col("__val").cast("double")
        if divisor != 1.0:
            vis = vis / F.lit(divisor)
    else:
        vis = F.col("__val")
    out = filled.withColumn(vname, vis)
    return HistogramResult(
        _df=out,
        variables=cols,
        specs={c: s for c, s in zip(cols, specs)},
        group_by=group_by,
        value_col=vname,
        density=density,
        flow=flow,
        int_mode=int_mode,
        divisor=divisor,
        _sparse=sparse,
    )


def quantile_edges(
    df: DataFrame, col: str, n: int, approx: bool = False
) -> list[float]:
    """Equal-mass bin edges: exact rank-based quantiles — edge_i is the
    value at sorted position ``(count-1)·i // n`` (pure integer rank
    arithmetic, so an oracle can reproduce the EXACT same doubles).
    Duplicate edges from skewed data are deduplicated (fewer, still
    strictly-increasing edges).

    The exact path is a DISTRIBUTED two-pass rank — no global sort, no
    single-partition exchange:

    1. bucket every value by a deterministic linear split of [min, max]
       (NULL/NaN are excluded up front — np.nanquantile semantics; a NaN
       edge could not feed a Variable axis anyway), count per bucket (map-side combined, ≤B rows shuffled), prefix-sum
       the offsets on the driver (≤B ints);
    2. rank within each bucket (``row_number`` partitioned BY BUCKET —
       a parallel hash-partitioned window, each task sorts only its
       buckets) and add the bucket's offset → exact global rank; filter
       to the target ranks.

    Equal values share a bucket (the bucket is a pure function of the
    value), so the recovered edge doubles are identical to a global
    sort's.  Data skew concentrates work in few buckets in the worst
    case; ``approx=True`` uses ``approxQuantile`` (Greenwald-Khanna
    sketch, one pass, fully skew-proof — the preferred 100 TB path) at
    the price of oracle-exactness.
    """
    if n < 1:
        raise ValueError("need n >= 1 bins")
    # NULL and NaN are excluded from the ranking (np.nanquantile semantics):
    # a NaN edge would break the strictly-increasing Variable axis anyway
    xc = F.col(col).cast("double")
    x = df.where(xc.isNotNull() & ~F.isnan(xc)).select(xc.alias("x"))
    if approx:
        qs = [i / n for i in range(n + 1)]
        edges = sorted(set(x.stat.approxQuantile("x", qs, 1e-4)))
        if len(edges) < 2:
            raise ValueError(
                f"column {col!r} has a single distinct value "
                f"({edges[0]!r})" if edges
                else f"cannot infer quantile bins of empty column {col!r}"
            )
        return edges
    row = x.agg(F.count("x"), F.min("x"), F.max("x")).first()
    c, lo, hi = row[0], row[1], row[2]
    if c == 0:
        raise ValueError(f"cannot infer quantile bins of empty column {col!r}")
    if lo == hi:
        raise ValueError(
            f"column {col!r} has a single distinct value "
            f"({lo!r}); equal-mass binning needs spread — "
            "use an Integer/Category axis instead"
        )
    targets = sorted({((c - 1) * i) // n for i in range(n + 1)})
    edges = sorted(set(values_at_ranks(x, targets, lo, hi).values()))
    if len(edges) < 2:
        raise ValueError(
            f"column {col!r} has a single distinct value "
            f"({edges[0]!r}); equal-mass binning needs spread — "
            "use an Integer/Category axis instead"
        )
    return edges


def values_at_ranks(
    x: DataFrame, targets: list[int], lo: float, hi: float
) -> dict[int, float]:
    """Exact values at the given 0-indexed ascending ranks of column
    ``x`` (no NULL/NaN, non-degenerate [lo, hi]) — the distributed
    two-pass bucket rank shared by quantile_edges and the top-fraction
    filter: deterministic linear bucketing, per-bucket counts (map-side
    combined, ≤B rows shuffled), driver prefix sums, per-bucket
    row_number + offset = exact global rank.  No global sort."""
    B = 256
    bucket = F.least(
        F.floor(
            (F.col("x") - F.lit(float(lo)))
            / F.lit(float(hi) - float(lo))
            * F.lit(float(B))
        ).cast("int"),
        F.lit(B - 1),
    )
    bx = x.select(bucket.alias("b"), "x")
    counts = {r["b"]: r["cnt"] for r in
              bx.groupBy("b").agg(F.count("x").alias("cnt")).collect()}
    offsets, acc = {}, 0
    for b in range(B):
        offsets[b] = acc
        acc += counts.get(b, 0)
    from pyspark.sql.window import Window as _W

    # keys and offsets both explicitly bigint (the ``L`` literal suffix):
    # offsets exceed 2^31 at exactly the >2^31-row scale this path targets,
    # and map() rejects mixed value types.  row_number is 32-bit-bounded PER
    # BUCKET only (B=256 buckets), so the global rank is computed in int64.
    # The map literal is built SERVER-SIDE as one parsed SQL string: the
    # previous create_map(*[F.lit(v).cast("bigint") ...]) form issued up to
    # 2*B py4j round trips (~1.2 s of pure driver latency per call, measured
    # round 14) for the identical folded Literal map (guide §7.3).
    map_sql = "map(" + ",".join(
        f"{b}L,{offsets[b]}L" for b in sorted(counts)
    ) + ")"
    off = F.element_at(F.expr(map_sql), F.col("b").cast("bigint"))
    rn = (
        F.row_number().over(_W.partitionBy("b").orderBy("x")).cast("bigint")
        - 1 + off
    ).alias("rn")
    rows = bx.select("x", rn).where(F.col("rn").isin(list(targets))).collect()
    return {r["rn"]: r["x"] for r in rows}


def categories_from_data(
    df: DataFrame, col: str, max_categories: int = 10_000
):
    """Emulate the reference's growth axes (rejected under Dask,
    core.py:266-269) with an explicit distinct scan: category axes need a
    deterministic schema before aggregation under distribution, so growth
    becomes discover-then-bin.  Returns a StrCategory/IntCategory over the
    observed values (sorted for a stable bin order)."""
    from ..binspec import IntCategory, StrCategory, _integral_ok
    from pyspark.sql import types as T

    dt = {f.name: f.dataType for f in df.schema.fields}[col]
    if not isinstance(dt, T.StringType) and not _integral_ok(dt):
        raise TypeError(
            f"growth axis needs a string or integral column, got {col}: {dt} "
            "(fractional values would be silently truncated into int "
            "categories — use an interval axis for continuous data)"
        )
    rows = (
        df.select(col).where(F.col(col).isNotNull()).distinct()
        .limit(max_categories + 1).collect()
    )
    if len(rows) > max_categories:
        raise ValueError(
            f"{col!r} has more than {max_categories} distinct values; "
            "use an interval axis or raise max_categories"
        )
    vals = sorted(r[0] for r in rows)
    if isinstance(dt, T.StringType):
        return StrCategory(tuple(vals))
    return IntCategory(tuple(vals))


def histogram(
    df: DataFrame,
    col: str,
    bins: BinsArg = 10,
    *,
    range=None,
    weights: Optional[str] = None,
    density: bool = False,
    group_by: Sequence[str] = (),
    flow: bool = False,
    storage: str = "double",
    weight_scale: Optional[int] = 6,
    preserve_groups: bool = False,
) -> HistogramResult:
    """1-D histogram (core.py:46-107)."""
    return histogramdd(
        df, [col], bins, ranges=[range] if range is not None else None,
        weights=weights, density=density, group_by=group_by, flow=flow,
        storage=storage, weight_scale=weight_scale,
        preserve_groups=preserve_groups,
    )


def histogram2d(
    df: DataFrame,
    col_x: str,
    col_y: str,
    bins: BinsArg = 10,
    *,
    ranges=None,
    weights: Optional[str] = None,
    density: bool = False,
    group_by: Sequence[str] = (),
    flow: bool = False,
    storage: str = "double",
    weight_scale: Optional[int] = 6,
    preserve_groups: bool = False,
) -> HistogramResult:
    """2-D histogram (core.py:110-179)."""
    return histogramdd(
        df, [col_x, col_y], bins, ranges=ranges, weights=weights,
        density=density, group_by=group_by, flow=flow, storage=storage,
        weight_scale=weight_scale, preserve_groups=preserve_groups,
    )
