"""Multi-resolution histograms via GROUPING SETS.

The reference has no grouping-sets concept (SURVEY §2.4 marks it absent and
notes Spark provides it for free) — this operator is the Spark-native
generalisation: ONE pass over the data produces the histogram at every
prefix resolution of the group hierarchy (e.g. (flag, status) → (flag) →
global), sharing the scan and partial aggregates.  At 100 TB this replaces
H separate histogram jobs with one shuffle whose output is the sum of the
H histogram sizes.

The bin column is kept in EVERY grouping set (a plain ROLLUP over
``(groups…, bin)`` would aggregate the bins away at coarser levels):
rollup → sets ``(g1..gk, bin)`` for k = n..0; cube → every subset × bin.
Output is sparse; subtotal rows carry NULL group keys plus
``__grouping_id`` (Spark ``grouping_id()`` ≡ Σ GROUPING(g)·2^i in DuckDB)
to distinguish "NULL key value" from "aggregated away"."""

from __future__ import annotations

from itertools import combinations
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..binspec import BinSpec
from .histogram import check_inputs, id_col, keep_and_bucketize, value_mode


def _group_sets(group_by: list[str], cube: bool) -> list[list[str]]:
    if cube:
        out = []
        for k in range(len(group_by), -1, -1):
            for combo in combinations(group_by, k):
                out.append(list(combo))
        return out
    return [group_by[:k] for k in range(len(group_by), -1, -1)]


def rollup_histogram(
    df: DataFrame,
    col: str,
    spec: BinSpec,
    group_by: Sequence[str],
    *,
    cube: bool = False,
    flow: bool = False,
    weights: str | None = None,
    weight_scale: int | None = 6,
) -> DataFrame:
    """Histogram of ``col`` at every rollup (or cube) level of ``group_by``.

    Returns (group_by…, __grouping_id, <col>_bin, n) — sparse.  With
    ``weights``, ``n`` is the weighted sum (same exact-int64 quantisation
    contract as ``histogramdd``: deterministic under any partitioning).

    Delegates to ``rollup_histogramdd`` with one variable — the 1-D
    output (columns, gid stripping, values) is exactly the k=1 case."""
    return rollup_histogramdd(
        df, [col], [spec], group_by, cube=cube, flow=flow,
        weights=weights, weight_scale=weight_scale,
    )


def rollup_histogramdd(
    df: DataFrame,
    cols: Sequence[str],
    specs: Sequence[BinSpec],
    group_by: Sequence[str],
    *,
    cube: bool = False,
    flow: bool = False,
    weights: str | None = None,
    weight_scale: int | None = 6,
) -> DataFrame:
    """Multi-variable rollup/cube histogram: ALL bin ids are kept in every
    grouping set (only the group hierarchy coarsens — the N-d histogram
    itself stays intact at each level).  Same single-pass / output-bounded
    shape as the 1-D rollup."""
    cols = list(cols)
    specs = list(specs)
    group_by = list(group_by)
    if not group_by:
        raise ValueError("rollup_histogramdd needs at least one group column")
    specs, _ = check_inputs(df, cols, specs, flow=flow)
    src, ids = keep_and_bucketize(df, [F.col(c) for c in cols], specs, flow)
    proj = [F.col(g) for g in group_by] + [
        i.alias(id_col(c)) for c, i in zip(cols, ids)
    ]
    if weights is not None:
        proj.append(F.col(weights).alias("__w"))
    base = src.select(*proj)
    vm = value_mode(weights, weight_scale)
    if weights is None:
        val = F.count(F.lit(1)).cast("bigint")
    else:
        val = vm.display_sum(F.col("__w"))
    idc = [F.col(id_col(c)) for c in cols]
    sets = [
        [F.col(g) for g in gs] + idc for gs in _group_sets(group_by, cube)
    ]
    grouped = base.groupingSets(sets, *[F.col(g) for g in group_by], *idc)
    out = grouped.agg(F.grouping_id().alias("__gid_raw"), val.alias("n"))
    # the lowest len(cols) grouping bits belong to the bin columns and are
    # always 0 — strip them so the id encodes only the group hierarchy
    return out.select(
        *group_by,
        (F.col("__gid_raw") / (2 ** len(cols))).cast("int").alias("__grouping_id"),
        *idc,
        F.col("n"),
    )


def rollup_histogramdd_sql(
    table: str,
    cols: Sequence[str],
    specs: Sequence[BinSpec],
    group_by: Sequence[str],
    *,
    cube: bool = False,
    flow: bool = False,
    weights: str | None = None,
    weight_scale: int | None = 6,
) -> str:
    from ..binspec import flit

    cols = list(cols)
    specs = list(specs)
    group_by = list(group_by)
    gcols = ", ".join(group_by)
    idc = [id_col(c) for c in cols]
    bsel = ", ".join(
        f"{s.raw_id_sql(c)} AS {id_col(c)}" for c, s in zip(cols, specs)
    )
    keep = " AND ".join(
        f"{id_col(c)} BETWEEN {s.keep_range(flow)[0]} AND {s.keep_range(flow)[1]}"
        for c, s in zip(cols, specs)
    )
    wsel = f", {weights} AS __w" if weights is not None else ""
    if weights is None:
        val = "CAST(COUNT(*) AS BIGINT)"
    elif weight_scale is not None:
        sc = flit(float(10**weight_scale))
        from ..oracle import scaled_weight_sql
        # CAST(SUM(...) AS BIGINT) BEFORE the double cast: DuckDB's
        # SUM(BIGINT) is HUGEINT, whose direct cast to DOUBLE rounds
        # differently from Spark's int64 sum for |sum| > 2^53 (and never
        # overflows where Spark's does) — the oracle-wide convention
        val = (
            f"CAST(CAST(SUM({scaled_weight_sql('__w', float(10**weight_scale))}) "
            f"AS BIGINT) AS DOUBLE) / {sc}"
        )
    else:
        val = "SUM(CAST(__w AS DOUBLE))"
    sets = ", ".join(
        "(" + ", ".join(gs + idc) + ")" for gs in _group_sets(group_by, cube)
    )
    gid = " + ".join(
        f"GROUPING({g}) * {2 ** (len(group_by) - 1 - i)}"
        for i, g in enumerate(group_by)
    )
    return (
        f"WITH base AS (SELECT * FROM (SELECT {gcols}, {bsel}{wsel} "
        f"FROM {table}) b WHERE {keep}) "
        f"SELECT {gcols}, CAST({gid} AS INT) AS __grouping_id, "
        f"{', '.join(idc)}, {val} AS n "
        f"FROM base GROUP BY GROUPING SETS ({sets})"
    )


def rollup_histogram_sql(
    table: str,
    col: str,
    spec: BinSpec,
    group_by: Sequence[str],
    *,
    cube: bool = False,
    flow: bool = False,
    weights: str | None = None,
    weight_scale: int | None = 6,
) -> str:
    """1-D twin of ``rollup_histogramdd_sql`` (delegates, like the engine)."""
    return rollup_histogramdd_sql(
        table, [col], [spec], group_by, cube=cube, flow=flow,
        weights=weights, weight_scale=weight_scale,
    )
