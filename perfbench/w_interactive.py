"""interactive_session: a notebook user on cached lineitem/orders tables
(sf0.1 shape: 600k/150k rows) issuing a seeded cycle of eight related
histogram requests, each followed by a result transform, a statistic and
a handoff to Python.  Plan construction is a large share of each op
here, so a change to the Python-side builders shows on this workload."""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import ref
from common import Workload

SIZES = {"full": 600_000, "tiny": 6_000}
RETURNFLAGS = ["A", "N", "R"]
LINESTATUS = ["F", "O"]
SHIPMODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
# (template, bins, transform, statistic, handoff): each template's bin
# count and follow-up chain are fixed, so a template costs the same work
# under every seed; the seed moves the bin edges and the ppf level
TEMPLATES = [
    ("weighted_grouped_1d", 40, "rebin", "median", "to_numpy"),
    ("density_2d", 20, "normalize", "mean", "to_numpy"),
    ("grouped_3d_month", 20, "slice_bins", "ppf", "to_numpy"),
    ("quantile_variable", 16, "slice_bins", "median", "to_pandas"),
    ("category_x_regular", 20, "normalize", "mean", "to_pandas"),
    ("histogram_columns", 20, "slice_bins", "ppf", "to_numpy"),
    ("binned_statistic", 40, None, None, "toPandas"),
    ("rollup_histogram", 20, None, None, "toPandas"),
]
# templates whose builder returns a HistogramResult (the others return a
# plain DataFrame and go straight to the handoff)
RESULT_TEMPLATES = [t[0] for t in TEMPLATES if t[2] is not None]


def make_tables(seed: int, n: int) -> dict:
    """Seeded TPC-H-shaped lineitem (n rows) and orders (n/4 rows)."""
    rng = np.random.default_rng([seed, 1])
    m = n // 4
    qty = rng.integers(1, 51, n).astype(np.float64)
    part_price = np.round(rng.uniform(900.0, 2100.0, n), 2)
    li = {
        "l_orderkey": rng.integers(1, m + 1, n).astype(np.int64),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * part_price, 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.asarray(RETURNFLAGS, dtype=object)[
            rng.integers(0, 3, n)],
        "l_linestatus": np.asarray(LINESTATUS, dtype=object)[
            rng.integers(0, 2, n)],
        "l_shipmode": np.asarray(SHIPMODES, dtype=object)[
            rng.integers(0, len(SHIPMODES), n)],
        "l_shipmonth": rng.integers(1, 13, n).astype(np.int32),
    }
    orders = {
        "o_orderkey": np.arange(1, m + 1, dtype=np.int64),
        "o_totalprice": np.round(rng.lognormal(11.5, 0.7, m), 2),
        "o_orderpriority": np.asarray(PRIORITIES, dtype=object)[
            rng.integers(0, len(PRIORITIES), m)],
    }
    return {"lineitem": li, "orders": orders}


def make_requests(seed: int) -> list[dict]:
    """One request per template; the quantity-axis range, and with it every
    bin edge, and the ppf level vary with the seed."""
    rng = np.random.default_rng([seed, 2])
    return [{
        "template": t, "nb": nb, "transform": tf, "stat": st, "handoff": ho,
        "q": float(rng.choice([0.1, 0.25, 0.75, 0.9])),
        "lo_q": float(rng.uniform(0.0, 4.0)),
        "hi_q": float(rng.uniform(46.0, 52.0)),
    } for t, nb, tf, st, ho in TEMPLATES]


class Interactive(Workload):
    name = "interactive_session"

    def __init__(self, seed: int, scale: str, work: str):
        self.seed, self.n = seed, SIZES[scale]
        self.work = work
        self.requests = make_requests(seed)

    # -- set-up --
    def generate(self) -> None:
        self.tables = make_tables(self.seed, self.n)
        d = os.path.join(self.work, "input")
        os.makedirs(d, exist_ok=True)
        self.paths = {}
        for name, cols in self.tables.items():
            p = os.path.join(d, f"{name}.parquet")
            pq.write_table(pa.table(cols), p)
            self.paths[name] = p

    def load(self, spark) -> None:
        self.li = spark.read.parquet(self.paths["lineitem"]).cache()
        self.orders = spark.read.parquet(self.paths["orders"]).cache()
        self.li.count()
        self.orders.count()

    def label(self, req: dict) -> str:
        return req["template"]

    def rows(self, req: dict) -> int:
        # quantile_variable scans orders (n/4 rows), the others lineitem
        return self.n // 4 if req["template"] == "quantile_variable" \
            else self.n

    # -- one op: build → transform → statistic → plan → exec + handoff --
    def run(self, req: dict, tr):
        import xarray_histogram_spark as xhs

        t = req["template"]
        reg = xhs.Regular(req["nb"], req["lo_q"], req["hi_q"])
        H = "plans.histogram."
        if t == "binned_statistic":
            df = tr.call("plans.binned.binned_statistic", "build",
                         xhs.binned_statistic, self.li, "l_quantity", reg,
                         "l_extendedprice", ("count", "sum", "mean"),
                         group_by=["l_returnflag"])
            tr.plan(df)
            return tr.call("plans.result.toPandas", "exec", df.toPandas)
        if t == "rollup_histogram":
            df = tr.call("plans.rollup.rollup_histogram", "build",
                         xhs.rollup_histogram, self.li, "l_quantity", reg,
                         ["l_returnflag", "l_linestatus"])
            tr.plan(df)
            return tr.call("plans.result.toPandas", "exec", df.toPandas)
        if t == "weighted_grouped_1d":
            r = tr.call(H + "histogram", "build", xhs.histogram, self.li,
                        "l_quantity", reg, weights="l_extendedprice",
                        group_by=["l_returnflag"])
            var = "l_quantity"
        elif t == "density_2d":
            r = tr.call(H + "histogram2d", "build", xhs.histogram2d, self.li,
                        "l_quantity", "l_discount",
                        [reg, xhs.Regular(10, 0.0, 0.1)])
            var = "l_quantity"
        elif t == "grouped_3d_month":
            r = tr.call(H + "histogramdd", "build", xhs.histogramdd, self.li,
                        ["l_quantity", "l_discount", "l_tax"],
                        [reg, xhs.Regular(4, 0.0, 0.1),
                         xhs.Regular(4, 0.0, 0.08)],
                        group_by=["l_shipmonth"])
            var = "l_quantity"
        elif t == "quantile_variable":
            edges = tr.call(H + "quantile_edges", "build", xhs.quantile_edges,
                            self.orders, "o_totalprice", req["nb"])
            r = tr.call(H + "histogram", "build", xhs.histogram, self.orders,
                        "o_totalprice", xhs.Variable(tuple(edges)),
                        group_by=["o_orderpriority"])
            var = "o_totalprice"
        elif t == "category_x_regular":
            r = tr.call(H + "histogram2d", "build", xhs.histogram2d, self.li,
                        "l_shipmode", "l_quantity",
                        [xhs.StrCategory(tuple(SHIPMODES)), reg])
            var = "l_quantity"
        elif t == "histogram_columns":
            r = tr.call(H + "histogram_columns", "build",
                        xhs.histogram_columns, self.li,
                        ["l_discount", "l_tax"],
                        xhs.Regular(req["nb"], 0.0, 0.1))
            var = r.variables[0]
        else:
            raise ValueError(t)
        r = self._transform(r, req, var, tr)
        stat_df = self._stat(r, req, var, tr)
        tr.plan(r.df)
        tr.plan(stat_df)
        dense = tr.call("plans.result." + req["handoff"], "exec",
                        getattr(r, req["handoff"]))
        stat_rows = tr.call("plans.stats.collect", "exec", stat_df.collect)
        return dense, stat_rows

    @staticmethod
    def _transform(r, req, var, tr):
        tf = req["transform"]
        name = "plans.result." + tf
        if tf == "normalize":
            return tr.call(name, "build", r.normalize)
        if tf == "rebin":
            return tr.call(name, "build", r.rebin, 2, var)
        n = r.specs[var].n
        return tr.call(name, "build", r.slice_bins, n // 4, n - n // 4, var)

    @staticmethod
    def _stat(r, req, var, tr):
        st = req["stat"]
        name = "plans.stats." + st
        if st == "ppf":
            return tr.call(name, "build", r.ppf, req["q"], var)
        return tr.call(name, "build", getattr(r, st), var)

    # -- canonical form of a handoff (applied after the timer) --
    def canon(self, req: dict, out):
        if req["template"] in RESULT_TEMPLATES:
            dense, stat_rows = out
            return dense, sorted((tuple(_key(v) for v in r)
                                  for r in stat_rows), key=_order)
        return sorted((tuple(_key(v) for v in row) for row in
                       out.itertuples(index=False, name=None)), key=_order)

    # -- reference: NumPy for histograms and statistics, DuckDB for the
    # binned-statistic and rollup requests --
    def expected(self, req: dict):
        t = req["template"]
        li, od = self.tables["lineitem"], self.tables["orders"]
        qty = ref.regular(req["nb"], req["lo_q"], req["hi_q"])
        if t == "binned_statistic":
            return self._duck_binned(req)
        if t == "rollup_histogram":
            return self._duck_rollup(req)
        if t == "weighted_grouped_1d":
            h = ref.fill([li["l_quantity"]], [qty], li["l_returnflag"],
                         li["l_extendedprice"])
        elif t == "density_2d":
            h = ref.fill([li["l_quantity"], li["l_discount"]],
                         [qty, ref.regular(10, 0.0, 0.1)])
        elif t == "grouped_3d_month":
            h = ref.fill([li["l_quantity"], li["l_discount"], li["l_tax"]],
                         [qty, ref.regular(4, 0.0, 0.1),
                          ref.regular(4, 0.0, 0.08)], li["l_shipmonth"])
        elif t == "quantile_variable":
            edges = ref.quantile_edges(od["o_totalprice"], req["nb"])
            h = ref.fill([od["o_totalprice"]], [ref.variable(edges)],
                         od["o_orderpriority"])
        elif t == "category_x_regular":
            h = ref.fill([li["l_shipmode"], li["l_quantity"]],
                         [ref.category(SHIPMODES), qty])
        else:  # histogram_columns: one histogram per column, "series" dim
            ax = ref.regular(req["nb"], 0.0, 0.1)
            cols = ["l_discount", "l_tax"]
            hs = [ref.fill([li[c]], [ax]) for c in cols]
            h = ref.Hist([(c,) for c in cols], [ax],
                         np.concatenate([x.vals for x in hs]), 1.0,
                         sparse=False)
        j = 1 if t == "category_x_regular" else 0
        tf = req["transform"]
        if tf == "normalize":
            h = ref.normalize(h)
        elif tf == "rebin":
            h = ref.rebin(h, j, 2)
        elif tf == "slice_bins":
            n = h.axes[j].n
            h = ref.slice_bins(h, j, n // 4, n - n // 4)
        if req["stat"] == "mean":
            rows = ref.mean_rows(h, j)
        else:
            rows = ref.ppf_rows(h, j, 0.5 if req["stat"] == "median"
                                else req["q"])
        return h, sorted((tuple(_key(v) for v in r) for r in rows),
                         key=_order)

    def check(self, req: dict, got, exp) -> bool:
        if req["template"] not in RESULT_TEMPLATES:
            return ref.close(got, exp)
        dense, stat_rows = got
        h, exp_rows = exp
        want = h.dense()
        if not isinstance(dense, np.ndarray):
            # long form ordered by (group, bin ids): the value column is
            # the dense array in C order
            groups = [g[0] for g in h.groups if g]
            if dense.shape[0] != want.size or groups and list(
                    dict.fromkeys(dense.iloc[:, 0])) != groups:
                return False
            dense = dense.iloc[:, -1].to_numpy(dtype=float).reshape(
                want.shape)
        return ref.close(dense, want) and ref.close(
            [tuple(r) for r in stat_rows], exp_rows)

    def _duck(self, sql: str) -> list:
        con = duckdb.connect()
        try:
            con.execute(f"SET temp_directory='{self.work}/duck'")
            con.execute(
                "CREATE VIEW li AS SELECT * FROM read_parquet("
                f"'{self.paths['lineitem']}')")
            rows = con.execute(sql).fetchall()
        finally:
            con.close()
        return sorted((tuple(_key(v) for v in r) for r in rows), key=_order)

    @staticmethod
    def _bin_sql(req: dict) -> tuple[str, str]:
        lo, hi, n = _d(req["lo_q"]), _d(req["hi_q"]), req["nb"]
        bin_ = (f"CAST(LEAST(FLOOR((l_quantity - {lo}) * {_d(float(n))} "
                f"/ ({hi} - {lo})), {n - 1}) AS INTEGER)")
        keep = f"l_quantity >= {lo} AND l_quantity < {hi}"
        return bin_, keep

    def _duck_binned(self, req: dict) -> list:
        bin_, keep = self._bin_sql(req)
        edges = ref.regular(req["nb"], req["lo_q"], req["hi_q"]).edges
        s = f"CAST(FLOOR(l_extendedprice * {_d(ref.SCALE)} + {_d(0.5)}) " \
            "AS BIGINT)"
        rows = self._duck(
            f"SELECT l_returnflag, {bin_} AS b, COUNT(*) AS c, "
            f"SUM({s}) AS s FROM li WHERE {keep} GROUP BY 1, 2")
        return sorted(((f, b, edges[b], c, s / ref.SCALE, s / c / ref.SCALE)
                       for f, b, c, s in rows), key=_order)

    def _duck_rollup(self, req: dict) -> list:
        bin_, keep = self._bin_sql(req)
        return self._duck(
            "SELECT l_returnflag, l_linestatus, "
            "GROUPING(l_returnflag, l_linestatus) AS gid, b, COUNT(*) "
            f"FROM (SELECT l_returnflag, l_linestatus, {bin_} AS b FROM li "
            f"WHERE {keep}) GROUP BY GROUPING SETS ("
            "(l_returnflag, l_linestatus, b), (l_returnflag, b), (b))")


def _d(x: float) -> str:
    """An exact DOUBLE literal for DuckDB (bare literals parse as DECIMAL)."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def _key(v):
    """Sortable form of a row value: NULLs sort first, numpy scalars become
    Python numbers."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, np.generic):
        return v.item()
    return v


def _order(row: tuple) -> tuple:
    """Sort key for rows that may hold NULLs."""
    return tuple((v is not None, v) for v in row)
