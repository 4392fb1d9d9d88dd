"""DuckDB oracle-SQL generation mirroring the Spark histogram planner.

The driver's correctness gate runs each Spark query AND an ANSI-SQL oracle in
DuckDB side-by-side and hash-compares values.  Floating-point results only
hash-match if both engines execute the *same IEEE-754 operations in the same
order*, so this module generates SQL from the very same BinSpec objects the
Spark planner compiles, mirroring:

- the bucketize arithmetic (``BinSpec.raw_id_sql`` — identical literals via
  ``repr``, identical op order, no runtime transcendentals on the exact path);
- the exact-int64 value representation (counts, and weighted sums of
  ``round(w·10^s)``) — integer addition is order-independent, and the final
  int64→double cast is hardware-rounded identically in both engines (unlike
  DuckDB's DECIMAL→DOUBLE cast, which is observably off by an ulp);
- the dense spine join with groups derived from the aggregated output;
- the density window (flow-excluded integer total; flow cells ÷ total, area 1).

Spine VALUES literals are explicitly CAST — DuckDB parses bare numeric
literals as DECIMAL, which would silently change column types and poison
arithmetic with decimal semantics.
"""

from __future__ import annotations

import math
from typing import Optional, Sequence

from .binspec import BinSpec, flit, slit
from .plans.histogram import id_col, label_col, value_col_name


def scaled_weight_sql(expr: str, divisor: float) -> str:
    """Half-away-from-zero int64 quantization of ``expr·divisor`` via
    sign-aware FLOOR — the exact IEEE mirror of the engine's
    ``scaled_weight_expr`` (plain ROUND would round DuckDB's binary value
    while Spark's F.round rounds the decimal string: subtly different on
    adversarial doubles)."""
    x = f"(CAST({expr} AS DOUBLE) * {flit(divisor)})"
    # NaN → NULL (skipped by SUM): matches the engine's scaled_weight_expr
    # and the Arrow kernel; without the guard DuckDB errors on NaN→BIGINT
    return (
        f"CAST(CASE WHEN isnan({x}) THEN NULL WHEN {x} >= 0 "
        f"THEN FLOOR({x} + 0.5) "
        f"ELSE -FLOOR(-{x} + 0.5) END AS BIGINT)"
    )


def _spine_values(var: str, spec: BinSpec, flow: bool) -> str:
    rows = []
    for b in spec.bins(flow):
        if spec.label_type == "double":
            lab = f"CAST({flit(b.label)} AS DOUBLE)"
        elif spec.label_type == "bigint":
            lab = f"CAST({int(b.label)} AS BIGINT)"
        else:
            lab = spec.label_sql_lit(b.label)
        rows.append(
            f"({b.id}, {lab}, {flit(b.width)}, {flit(b.center)}, "
            f"{'TRUE' if b.is_flow else 'FALSE'})"
        )
    cols = (
        f"{id_col(var)}, {label_col(var)}, __{var}_width, __{var}_center, "
        f"__{var}_is_flow"
    )
    return f"(VALUES {', '.join(rows)}) AS sp_{var}({cols})"


def histogram_oracle_ctes(
    table: str,
    cols: Sequence[str],
    specs: Sequence[BinSpec],
    *,
    weights: Optional[str] = None,
    group_by: Sequence[str] = (),
    group_exprs: Optional[dict] = None,
    flow: bool = False,
    weight_scale: Optional[int] = 6,
    where: Optional[str] = None,
    label_specs: Optional[Sequence[BinSpec]] = None,
) -> tuple[list[str], bool, float]:
    """CTE list ending in ``filled`` (dense rows with exact-int ``__val`` and
    internal width/center/is_flow columns).  Returns (ctes, int_mode, divisor).

    ``label_specs`` (optional) supplies different specs for the spine
    labels/widths/centers than for the bucketize — the mirror of the
    accessor's metadata-only coordinate transforms (scale/apply_func), which
    relabel bins without touching the data.
    """
    cols = list(cols)
    specs = list(specs)
    group_by = list(group_by)
    group_exprs = dict(group_exprs or {})
    label_specs = list(label_specs) if label_specs is not None else specs

    gsel = ", ".join(f"{group_exprs.get(g, g)} AS {g}" for g in group_by)
    idsel = ", ".join(
        f"{s.raw_id_sql(c)} AS {id_col(c)}" for c, s in zip(cols, specs)
    )
    wsel = f", {weights} AS __w" if weights is not None else ""
    inner = f"SELECT {gsel + ', ' if gsel else ''}{idsel}{wsel} FROM {table}"
    if where:
        inner += f" WHERE {where}"
    keeps = []
    for c, s in zip(cols, specs):
        lo, hi = s.keep_range(flow)
        keeps.append(f"{id_col(c)} BETWEEN {lo} AND {hi}")
    base = f"SELECT * FROM ({inner}) AS raw WHERE {' AND '.join(keeps)}"

    if weights is not None:
        if weight_scale is not None:
            divisor = float(10**weight_scale)
            val = (
                f"CAST(SUM({scaled_weight_sql('__w', divisor)}) AS BIGINT)"
            )
            int_mode = True
        else:
            val = "SUM(CAST(__w AS DOUBLE))"
            int_mode, divisor = False, 1.0
    else:
        val = "CAST(COUNT(*) AS BIGINT)"
        int_mode, divisor = True, 1.0
    zero = "CAST(0 AS BIGINT)" if int_mode else "CAST(0.0 AS DOUBLE)"
    keys = group_by + [id_col(c) for c in cols]
    agg = (
        f"SELECT {', '.join(keys)}, {val} AS __val FROM base "
        f"GROUP BY {', '.join(keys)}"
    )

    spine = " CROSS JOIN ".join(
        _spine_values(c, s, flow) for c, s in zip(cols, label_specs)
    )
    if group_by:
        grp = f"SELECT DISTINCT {', '.join(group_by)} FROM agg"
        dense = f"SELECT * FROM grp CROSS JOIN (SELECT * FROM {spine}) AS spine"
    else:
        dense = f"SELECT * FROM {spine}"

    join_conds = [f"d.{g} IS NOT DISTINCT FROM a.{g}" for g in group_by] + [
        f"d.{id_col(c)} = a.{id_col(c)}" for c in cols
    ]
    filled_sel = (
        [f"d.{g} AS {g}" for g in group_by]
        + [f"d.{id_col(c)} AS {id_col(c)}" for c in cols]
        + [f"d.{label_col(c)} AS {label_col(c)}" for c in cols]
        + [f"COALESCE(a.__val, {zero}) AS __val"]
        + [f"d.__{c}_width AS __{c}_width" for c in cols]
        + [f"d.__{c}_center AS __{c}_center" for c in cols]
        + [f"d.__{c}_is_flow AS __{c}_is_flow" for c in cols]
    )
    filled = (
        f"SELECT {', '.join(filled_sel)} FROM dense d LEFT JOIN agg a "
        f"ON {' AND '.join(join_conds)}"
    )

    ctes = [f"base AS ({base})", f"agg AS ({agg})"]
    if group_by:
        ctes.append(f"grp AS ({grp})")
    ctes.append(f"dense AS ({dense})")
    ctes.append(f"filled AS ({filled})")
    return ctes, int_mode, divisor


def density_sql_expr(
    norm_vars: Sequence[str],
    partition_keys: Sequence[str],
    int_mode: bool,
    divisor: float,
) -> str:
    """Mirror of plans.histogram._density_expr."""
    any_flow = " OR ".join(f"__{v}_is_flow" for v in norm_vars)
    area = " * ".join(f"__{v}_width" for v in norm_vars)
    part = f"PARTITION BY {', '.join(partition_keys)}" if partition_keys else ""
    if int_mode:
        total = (
            f"SUM(CASE WHEN {any_flow} THEN CAST(0 AS BIGINT) ELSE __val END) "
            f"OVER ({part})"
        )
        raw = "CAST(__val AS DOUBLE)"
        total_d = f"CAST({total} AS DOUBLE)"
        if divisor != 1.0:
            raw = f"{raw} / {flit(divisor)}"
            total_d = f"{total_d} / {flit(divisor)}"
    else:
        total_d = (
            f"SUM(CASE WHEN {any_flow} THEN CAST(0.0 AS DOUBLE) ELSE __val END) "
            f"OVER ({part})"
        )
        raw = "__val"
    total_nz = f"NULLIF({total_d}, CAST(0.0 AS DOUBLE))"
    return (
        f"CASE WHEN {any_flow} THEN {raw} / {total_nz} "
        f"ELSE {raw} / ({area}) / {total_nz} END"
    )


def histogram_oracle_sql(
    table: str,
    cols: Sequence[str],
    specs: Sequence[BinSpec],
    *,
    weights: Optional[str] = None,
    density: bool = False,
    group_by: Sequence[str] = (),
    group_exprs: Optional[dict] = None,
    flow: bool = False,
    storage: str = "double",
    weight_scale: Optional[int] = 6,
    where: Optional[str] = None,
    value_name: Optional[str] = None,
    label_specs: Optional[Sequence[BinSpec]] = None,
) -> str:
    """DuckDB SQL equivalent of ``plans.histogram.histogramdd``.

    ``group_exprs`` maps a group column name to the SQL expression computing
    it (for Spark-side ``withColumn`` groups like a truncated date); plain
    table columns need no entry.  ``where`` mirrors any pre-filter the Spark
    side applied to the input DataFrame.  ``label_specs`` mirrors
    scale/apply_func relabelling (see ``histogram_oracle_ctes``).
    """
    cols = list(cols)
    group_by = list(group_by)
    vname = value_name or value_col_name(cols, density)
    ctes, int_mode, divisor = histogram_oracle_ctes(
        table, cols, specs, weights=weights, group_by=group_by,
        group_exprs=group_exprs, flow=flow, weight_scale=weight_scale,
        where=where, label_specs=label_specs,
    )
    out_cols = (
        list(group_by) + [id_col(c) for c in cols] + [label_col(c) for c in cols]
    )
    if density:
        vexpr = density_sql_expr(cols, group_by, int_mode, divisor)
    elif int_mode and weights is None and storage == "int64":
        vexpr = "__val"
    elif int_mode:
        vexpr = "CAST(__val AS DOUBLE)"
        if divisor != 1.0:
            vexpr = f"{vexpr} / {flit(divisor)}"
    else:
        vexpr = "__val"
    final = f"SELECT {', '.join(out_cols)}, {vexpr} AS {vname} FROM filled"
    return "WITH " + ", ".join(ctes) + " " + final


def histogram_columns_oracle_sql(
    table: str,
    cols: Sequence[str],
    spec: BinSpec,
    *,
    weights: Optional[str] = None,
    density: bool = False,
    flow: bool = False,
    storage: str = "double",
    weight_scale: Optional[int] = 6,
    dim_name: str = "series",
    var_name: str = "value",
) -> str:
    """DuckDB mirror of ``plans.histogram.histogram_columns``: one
    histogram per column over a shared axis — a UNION ALL of per-column
    bucketize branches, one GROUP BY, dense spine per column."""
    cols = list(cols)
    lo, hi = spec.keep_range(flow)
    bin_id = id_col(var_name)

    if weights is not None:
        wsel = f", {weights} AS __w"
        if weight_scale is not None:
            divisor = float(10**weight_scale)
            val = (
                f"CAST(SUM({scaled_weight_sql('__w', divisor)}) AS BIGINT)"
            )
            int_mode = True
        else:
            val = "SUM(CAST(__w AS DOUBLE))"
            int_mode, divisor = False, 1.0
    else:
        val = "CAST(COUNT(*) AS BIGINT)"
        wsel = ""
        int_mode, divisor = True, 1.0
    zero = "CAST(0 AS BIGINT)" if int_mode else "CAST(0.0 AS DOUBLE)"

    branches = []
    for i, c in enumerate(cols):
        inner = (
            f"SELECT {i} AS __d, {spec.raw_id_sql(c)} AS {bin_id}{wsel} "
            f"FROM {table}"
        )
        branches.append(
            f"SELECT * FROM ({inner}) AS b{i} "
            f"WHERE {bin_id} BETWEEN {lo} AND {hi}"
        )
    base = " UNION ALL ".join(branches)
    agg = (
        f"SELECT __d, {bin_id}, {val} AS __val FROM base "
        f"GROUP BY __d, {bin_id}"
    )
    dim_rows = ", ".join(f"({i}, {slit(c)})" for i, c in enumerate(cols))
    dense = (
        f"SELECT * FROM (VALUES {dim_rows}) AS dd(__d, __dim) "
        f"CROSS JOIN {_spine_values(var_name, spec, flow)}"
    )
    filled = (
        f"SELECT d.__dim AS {dim_name}, d.{bin_id} AS {bin_id}, "
        f"d.{label_col(var_name)} AS {label_col(var_name)}, "
        f"COALESCE(a.__val, {zero}) AS __val, "
        f"d.__{var_name}_width AS __{var_name}_width, "
        f"d.__{var_name}_center AS __{var_name}_center, "
        f"d.__{var_name}_is_flow AS __{var_name}_is_flow "
        f"FROM dense d LEFT JOIN agg a "
        f"ON d.__d = a.__d AND d.{bin_id} = a.{bin_id}"
    )
    vname = value_col_name([var_name], density)
    if density:
        vexpr = density_sql_expr([var_name], [dim_name], int_mode, divisor)
    elif int_mode and weights is None and storage == "int64":
        vexpr = "__val"
    elif int_mode:
        vexpr = "CAST(__val AS DOUBLE)"
        if divisor != 1.0:
            vexpr = f"{vexpr} / {flit(divisor)}"
    else:
        vexpr = "__val"
    return (
        f"WITH base AS ({base}), agg AS ({agg}), dense AS ({dense}), "
        f"filled AS ({filled}) "
        f"SELECT {dim_name}, {bin_id}, {label_col(var_name)}, "
        f"{vexpr} AS {vname} FROM filled"
    )


# ---------------------------------------------------------------------------
# statistics mirrors (plans.stats) — see that module's determinism notes
# ---------------------------------------------------------------------------

_D0 = "CAST(0.0 AS DOUBLE)"


def _fold_sql(term: str) -> str:
    """Strict sequential left fold with 0.0 seed over the per-group bin list
    ``a`` — mirrors Spark's ``F.aggregate(arr, lit(0.0), acc + term)``
    (the prepended 0.0 reproduces Spark's seed so even the first addition
    is identical)."""
    return (
        f"list_reduce(list_prepend({_D0}, list_transform(a, x -> {term})), "
        f"(p, q) -> p + q)"
    )


def _ratio_sql(num: str, tot: str) -> str:
    # self-parenthesised: this fragment gets composed into larger expressions
    # (e.g. e1 * e1) and must keep its own association bit-for-bit
    return f"({num} / NULLIF({tot}, {_D0}))"


def stats_oracle_sql(
    kind: str,
    table: str,
    cols: Sequence[str],
    specs: Sequence[BinSpec],
    variable: str,
    *,
    order: int = 2,
    q=None,
    x: Optional[float] = None,
    confidence: Optional[float] = None,
    weights: Optional[str] = None,
    group_by: Sequence[str] = (),
    group_exprs: Optional[dict] = None,
    flow: bool = False,
    weight_scale: Optional[int] = 6,
    where: Optional[str] = None,
) -> str:
    """DuckDB SQL mirroring ``plans.stats.<kind>`` on the histogram defined by
    the same arguments.  ``kind`` ∈ {mean, var, std, moment, median, ppf,
    interval, cdf}."""
    cols = list(cols)
    specs = list(specs)
    group_by = list(group_by)
    v = variable
    spec = dict(zip(cols, specs))[v]
    ctes, int_mode, divisor = histogram_oracle_ctes(
        table, cols, specs, weights=weights, group_by=group_by,
        group_exprs=group_exprs, flow=flow, weight_scale=weight_scale,
        where=where,
    )
    core_keep = " AND ".join(
        f"{id_col(c)} BETWEEN 0 AND {s.n - 1}" for c, s in zip(cols, specs)
    )
    ctes.append(f"core AS (SELECT * FROM filled WHERE {core_keep})")
    part = group_by + [id_col(c) for c in cols if c != v]
    psel = (", ".join(part) + ", ") if part else ""
    pgroup = f" GROUP BY {', '.join(part)}" if part else ""
    vd = "CAST(__val AS DOUBLE)"

    if kind in ("mean", "var", "std", "moment"):
        g = (
            f"SELECT {psel}list(struct_pack(i := {id_col(v)}, m := {vd}, "
            f"c := __{v}_center, w := __{v}_width) ORDER BY {id_col(v)}) AS a "
            f"FROM core{pgroup}"
        )
        ctes.append(f"g AS ({g})")
        tot = _fold_sql("x.m")
        e1 = _ratio_sql(_fold_sql("x.m * x.c"), tot)
        if kind == "mean":
            expr, name = e1, f"{v}_mean"
        elif kind == "moment":
            e = "x.c"
            for _ in range(order - 1):
                e = f"({e} * x.c)"
            expr = _ratio_sql(_fold_sql(f"x.m * {e}"), tot)
            name = f"{v}_moment{order}"
        else:
            e2 = _ratio_sql(
                _fold_sql(f"x.m * (x.c * x.c + x.w * x.w / {flit(12.0)})"), tot
            )
            expr = f"{e2} - ({e1} * {e1})"
            name = f"{v}_var"
            if kind == "std":
                expr, name = f"sqrt({expr})", f"{v}_std"
        final = f"SELECT {psel}{expr} AS {name} FROM g"
        return "WITH " + ", ".join(ctes) + " " + final

    if kind in ("median", "ppf", "interval"):
        if kind == "median":
            qs, names = [0.5], [f"{v}_median"]
        elif kind == "interval":
            alpha = (1.0 - float(confidence)) / 2.0
            qs, names = [alpha, 1.0 - alpha], [f"{v}_low", f"{v}_high"]
        else:
            qs = [q] if isinstance(q, (int, float)) else list(q)
            names = [
                f"{v}_ppf" if len(qs) == 1 else f"{v}_ppf_{i}"
                for i, _ in enumerate(qs)
            ]
        opart = f"PARTITION BY {', '.join(part)} " if part else ""
        # int_mode: exact-int64 running sums (HUGEINT→BIGINT first, the
        # oracle-wide convention); raw-double mode (weight_scale=None)
        # must stay DOUBLE — a BIGINT cast would truncate fractional mass
        st = "BIGINT" if int_mode else "DOUBLE"
        c2 = (
            f"SELECT {psel}{id_col(v)}, CAST({label_col(v)} AS DOUBLE) AS __left, "
            f"__{v}_width AS __w, __val, "
            f"CAST(SUM(__val) OVER ({opart}ORDER BY {id_col(v)}) AS {st}) AS __cum, "
            f"CAST(SUM(__val) OVER ({opart.strip() or ''}) AS {st}) AS __tot "
            f"FROM core"
        )
        ctes.append(f"c2 AS ({c2})")
        sels = []
        for name, qq in zip(names, qs):
            qt = f"{flit(float(qq))} * CAST(__tot AS DOUBLE)"
            cumb = "CAST(__cum - __val AS DOUBLE)"
            cross = f"CAST(__cum AS DOUBLE) >= {qt} AND {cumb} < {qt}"
            interp = f"__left + ({qt} - {cumb}) / CAST(__val AS DOUBLE) * __w"
            sels.append(f"MAX(CASE WHEN {cross} THEN {interp} END) AS {name}")
        final = f"SELECT {psel}{', '.join(sels)} FROM c2{pgroup}"
        return "WITH " + ", ".join(ctes) + " " + final

    if kind == "cdf":
        bins = spec.core_bins()
        xx = float(x)
        if math.isnan(xx):
            # mirror stats.cdf's guard — NaN passes neither range check
            # and would StopIteration out of the bin search below
            raise ValueError("cdf: x must not be NaN")
        if xx < bins[0].left:
            j, frac = -1, 0.0
        elif xx >= bins[-1].right:
            j, frac = spec.n, 0.0
        else:
            j = next(i for i, b in enumerate(bins) if b.left <= xx < b.right)
            b = bins[j]
            frac = (xx - b.left) / (b.right - b.left)
        st = "BIGINT" if int_mode else "DOUBLE"  # see the ppf note above
        below = f"CAST(CAST(SUM(CASE WHEN {id_col(v)} < {j} THEN __val ELSE 0 END) AS {st}) AS DOUBLE)"
        at = f"CAST(CAST(SUM(CASE WHEN {id_col(v)} = {j} THEN __val ELSE 0 END) AS {st}) AS DOUBLE)"
        tot = f"CAST(CAST(SUM(__val) AS {st}) AS DOUBLE)"
        expr = f"({below} + {at} * {flit(frac)}) / NULLIF({tot}, {_D0})"
        final = f"SELECT {psel}{expr} AS {v}_cdf FROM core{pgroup}"
        return "WITH " + ", ".join(ctes) + " " + final

    raise ValueError(f"unknown stat kind {kind!r}")
