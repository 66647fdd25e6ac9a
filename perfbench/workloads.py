"""The workloads.  Each is closed loop with one client: it issues its
next call only after the previous one returned.  ``elt_batch`` and
``analytics`` are registered; ``WarehouseSql``, ``DedupCorpus`` and
``VersionedOrders`` are parts they are built from.

A workload object lives for the whole run.  ``setup`` loads its tables
once the session is warm; ``round`` runs one complete unit (a DAG
iteration; the query mix followed by the pass over the corpus) and is
repeated until the measuring time is used up; ``finish`` runs the final
oracle checks.
Every call into the program goes through ``Recorder.call``; outputs are
checked against an oracle outside the call's span, and a wrong output
marks that call failed.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

import gen
from oracle import DuckOracle, Result


class Workload:
    name = ""
    op_layers: tuple[str, ...] = ()  # call-name prefixes that count as ops

    def __init__(self, seed: int, data_dir: str, sizes: gen.Sizes):
        self.seed = seed
        self.data_dir = data_dir
        self.sizes = sizes
        self.wrong: list[str] = []
        self.rows = 0  # input rows consumed by op calls
        self.report: dict[str, tuple[float, str, int]] = {}
        self.layer_extra: dict[str, float] = {}

    def input_files(self) -> list[str]:
        out = []
        for base, _dirs, files in os.walk(self.data_dir):
            out.extend(os.path.join(base, f) for f in files)
        return sorted(out)

    def expect(self, rec, ok: bool, call_name: str, what: str) -> None:
        if not ok:
            self.wrong.append(f"{call_name}: {what}")
            rec.mark_wrong(call_name)

    def is_op(self, call_name: str) -> bool:
        return call_name.startswith(self.op_layers)

    def layer_ratios(self, calls) -> None:
        """Fill ``layer_extra`` from the traced calls (traced runs only)."""


def _dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def _data_files(path: str) -> dict[str, int]:
    out = {}
    for base, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(base, f)
                out[p] = os.path.getsize(p)
    return out


# ==========================================================================
# elt_batch
# ==========================================================================
AGG_SQL = """
SELECT od.o_meta_priority AS priority, li.l_returnflag AS returnflag,
       COUNT(*) AS n_lines, SUM(li.l_quantity) AS qty,
       SUM(li.l_extendedprice * (1 - li.l_discount)) AS revenue
FROM {{li}} li JOIN {{od}} od ON li.l_orderkey = od.o_orderkey
GROUP BY od.o_meta_priority, li.l_returnflag
"""

AGG_SQL_DUCK = """
SELECT od.o_meta.priority AS priority, li.l_returnflag AS returnflag,
       COUNT(*) AS n_lines, SUM(li.l_quantity) AS qty,
       SUM(li.l_extendedprice * (1 - li.l_discount)) AS revenue
FROM read_csv_auto('{csv}') li JOIN read_json_auto('{ndjson}') od
  ON li.l_orderkey = od.o_orderkey
GROUP BY 1, 2
"""

COLUMN_CHECKS = {
    "revenue": {"null_check": {"equal_to": 0}, "min": {"geq_to": 0}},
    "n_lines": {"min": {"greater_than": 0}},
}
TABLE_CHECKS = {
    "has_rows": {"check_statement": "COUNT(*) > 0"},
    "qty_range": {"check_statement": "MIN(l_quantity) >= 1 AND MAX(l_quantity) <= 50"},
    "discount_range": {"check_statement": "MAX(l_discount) <= 0.1"},
}
INIT_EVENTS = 1000  # rows in the events target and stream before day 0
# types a correct inference gives the probe's numeric and date columns
PROBE_EXPECTED = {
    "l_orderkey": "int", "l_partkey": "int", "l_suppkey": "int",
    "l_linenumber": "int", "l_quantity": "num", "l_extendedprice": "num",
    "l_discount": "num", "l_tax": "num", "l_shipdate": "date",
}


def _event_summary(events):
    """The DAG's ``@dataframe`` step: per-type event totals."""
    from pyspark.sql import functions as F

    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("total")
    )


class EltBatch(Workload):
    """Repeated daily DAG iterations over landed CSV/NDJSON/parquet files."""

    name = "elt_batch"
    op_layers = ("operators.", "streaming.")  # includes operators.timetravel

    def __init__(self, seed, data_dir, sizes):
        super().__init__(seed, data_dir, sizes)
        self.target_path = gen.elt_target(seed, data_dir, sizes)
        self.events_init = os.path.join(data_dir, "events_init.parquet")
        gen.write_parquet(gen.events_table(seed, INIT_EVENTS, 10**8, "ev_init"), self.events_init)
        self.duck = DuckOracle({})
        self.k = 0
        self.iter_s: list[float] = []
        self.landed = 0
        self.probe_wrong_cols = 0
        self.probe_runs = 0
        self.merge_src_bytes = 0
        self.tt = VersionedOrders(self, self.target_path)

    def setup(self, spark, rec, rep_dir):
        import astro_spark as a
        from astro_spark.streaming import load_file_stream

        self.spark, self.rec, self.rep_dir = spark, rec, rep_dir
        self.a, self.load_file_stream = a, load_file_stream
        self.target = a.Table("orders_target")
        self.events = a.Table("events_target")
        a.load_file(spark, a.File(self.target_path), output_table=self.target)
        a.load_file(spark, a.File(self.events_init), output_table=self.events)
        self.stream_table = a.Table("events_stream")
        self.stream_dir = os.path.join(rep_dir, "stream_in")
        self.ckpt = os.path.join(rep_dir, "stream_ckpt")
        os.makedirs(self.stream_dir)
        shutil.copy(self.events_init, os.path.join(self.stream_dir, "events_init.parquet"))
        self._drain()
        self.tt.setup(spark, rec, rep_dir)
        self.replay = pq.read_table(self.target_path).to_pandas()

    def _drain(self):
        return self.load_file_stream(
            self.spark, self.a.File(self.stream_dir, filetype=self.a.FileType.PARQUET),
            self.stream_table, checkpoint_dir=self.ckpt,
        )

    def round(self):
        a, spark, rec, k = self.a, self.spark, self.rec, self.k
        paths = gen.elt_batch(self.seed, k, self.data_dir, self.sizes)
        probe_dir = gen.header_only_csv_dir(self.seed, k, self.data_dir, self.sizes)
        shutil.copy(paths["events_parquet"], os.path.join(self.stream_dir, f"events_{k:03d}.parquet"))
        export_dir = os.path.join(self.rep_dir, "export", f"agg_{k:03d}")
        F, T = a.File, a.TempTable
        with rec.span("elt_batch.iteration") as sid:
            li = rec.call("operators.load_file.csv", a.load_file, spark, F(paths["lineitem_csv"]), output_table=T())
            od = rec.call("operators.load_file.ndjson", a.load_file, spark, F(paths["orders_ndjson"]), output_table=T())
            ev = rec.call("operators.load_file.parquet", a.load_file, spark, F(paths["events_parquet"]), output_table=T())
            src = rec.call("operators.load_file.parquet", a.load_file, spark, F(paths["merge_parquet"]), output_table=T())
            agg = rec.call("operators.transform", a.run_transform, spark, AGG_SQL, {"li": li, "od": od}, a.Table("elt_daily_agg"))
            summary = rec.call("operators.dataframe", a.dataframe(_event_summary), spark, ev, output_table=T())
            col_res = rec.call("operators.check_column", lambda: a.check_column(spark, agg, COLUMN_CHECKS, raise_on_failure=False).collect())
            tab_res = rec.call("operators.check_table", lambda: a.check_table(spark, li, TABLE_CHECKS, raise_on_failure=False).collect())
            rec.call("operators.merge", a.merge, spark, src, self.target, ["o_orderkey"], if_conflicts="update")
            self.tt.step(k, paths["merge_parquet"], self.sizes.commit_rows)
            rec.call("operators.append", a.append, spark, ev, self.events)
            rec.call("operators.export_to_file", a.export_to_file, spark, agg, F(export_dir, filetype=a.FileType.PARQUET))
            rec.call("streaming.load_file_stream", self._drain)
            rec.call("operators.cleanup", a.cleanup, spark, [li, od, ev, src, summary])
        span = next(s for s in reversed(rec.spans) if s.span_id == sid)
        self.iter_s.append(span.end - span.start)
        s = self.sizes
        n_rows = s.batch_lineitem + s.batch_orders + s.batch_events + s.merge_batch + s.commit_rows
        self.landed += n_rows
        self.rows += n_rows
        self.merge_src_bytes += os.path.getsize(paths["merge_parquet"])
        self._verify_iteration(paths, export_dir, col_res, tab_res)
        self.tt.verify()
        self._probe(probe_dir)
        self.k += 1

    def _verify_iteration(self, paths, export_dir, col_res, tab_res):
        rec = self.rec
        expected = self.duck.con.execute(
            AGG_SQL_DUCK.format(csv=paths["lineitem_csv"], ndjson=paths["orders_ndjson"])
        ).fetchdf()
        got = pq.read_table(export_dir).to_pandas()
        self.expect(rec, Result.of_pandas(got) == Result.of_pandas(expected), "operators.export_to_file",
                    "exported daily aggregate differs from the DuckDB twin")
        want_col = {
            ("revenue", "null_check"): bool(expected["revenue"].isna().sum() == 0),
            ("revenue", "min"): bool(expected["revenue"].min() >= 0),
            ("n_lines", "min"): bool(expected["n_lines"].min() > 0),
        }
        got_col = {(r["col_name"], r["check_name"]): r["passed"] for r in col_res}
        self.expect(rec, got_col == want_col, "operators.check_column", f"results {got_col}")
        li = pacsv.read_csv(paths["lineitem_csv"]).to_pandas()
        want_tab = {
            "has_rows": len(li) > 0,
            "qty_range": bool(li.l_quantity.min() >= 1 and li.l_quantity.max() <= 50),
            "discount_range": bool(li.l_discount.max() <= 0.1),
        }
        got_tab = {r["check_name"]: r["passed"] for r in tab_res}
        self.expect(rec, got_tab == want_tab, "operators.check_table", f"results {got_tab}")
        batch = pq.read_table(paths["merge_parquet"]).to_pandas()
        self.replay = pd.concat(
            [self.replay[~self.replay.o_orderkey.isin(batch.o_orderkey)], batch],
            ignore_index=True,
        )

    def _probe(self, probe_dir):
        """load_file with default inference over a CSV directory whose first
        part file is header-only; count columns inferred with the wrong
        type.  Reported by name; not part of the DAG's timing."""
        df = self.rec.call("probe.csv_header_only", self.a.load_file, self.spark,
                           self.a.File(probe_dir, filetype=self.a.FileType.CSV))
        types = dict(df.dtypes)
        wrong = 0
        for col, kind in PROBE_EXPECTED.items():
            t = types.get(col, "missing")
            ok = (
                (kind == "int" and t in ("int", "bigint"))
                or (kind == "num" and (t in ("int", "bigint", "double") or t.startswith("decimal")))
                or (kind == "date" and t in ("date", "timestamp", "timestamp_ntz"))
            )
            wrong += not ok
        self.probe_wrong_cols = wrong
        self.probe_runs += 1

    def finish(self, rec):
        spark = self.spark
        got = spark.table(self.target.name).toPandas()
        self.expect(rec, Result.of_pandas(got) == Result.of_pandas(self.replay), "operators.merge",
                    "final merge target differs from the pandas replay")
        n_ev = INIT_EVENTS + self.k * self.sizes.batch_events
        self.expect(rec, spark.table(self.events.name).count() == n_ev, "operators.append",
                    "events target row count")
        self.expect(rec, spark.table(self.stream_table.name).count() == n_ev, "streaming.load_file_stream",
                    "streamed row count")
        n = len(self.iter_s)
        self.report["elt_batch_s"] = (float(np.median(self.iter_s)), "s", n)
        self.report["elt_rows_per_s"] = (self.landed / sum(self.iter_s), "rows/s", n)
        self.report["csv_probe_wrong_cols"] = (float(self.probe_wrong_cols), "count", self.probe_runs)
        self.layer_extra["operators.load_file.csv_probe_wrong_cols"] = float(self.probe_wrong_cols)
        self.tt.finish(self.report, self.layer_extra)
        self.duck.close()

    def layer_ratios(self, calls):
        merge_out = sum(c.output_bytes for c in calls if c.name == "operators.merge")
        if self.merge_src_bytes:
            self.layer_extra["operators.merge.rewrite_amp"] = merge_out / self.merge_src_bytes
        loads = [c for c in calls if c.name.startswith("operators.load_file.")]
        s = self.sizes
        per_iter = s.batch_lineitem + s.batch_orders + s.batch_events + s.merge_batch
        if loads:
            self.layer_extra["operators.load_file.rows_per_s"] = (
                per_iter * self.k / sum(c.seconds for c in loads)
            )
        streams = [c for c in calls if c.name == "streaming.load_file_stream"]
        if streams:
            self.layer_extra["streaming.load_file_stream.rows_per_s"] = (
                s.batch_events * len(streams) / sum(c.seconds for c in streams)
            )


# ==========================================================================
# warehouse_sql
# ==========================================================================
WAREHOUSE_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

# template → (SQL with {{table}} placeholders, tables it reads)
QUERIES = {
    "q1_pricing": ("""
SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
       SUM(l_extendedprice) AS sum_base,
       SUM(l_extendedprice * (1 - l_discount)) AS sum_disc,
       SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
       AVG(l_quantity) AS avg_qty, COUNT(*) AS n
FROM {{lineitem}} WHERE l_shipdate <= DATE '$date'
GROUP BY l_returnflag, l_linestatus""", ("lineitem",)),
    "q3_shipping": ("""
SELECT l_orderkey, SUM(l_extendedprice * (1 - l_discount)) AS revenue,
       o_orderdate
FROM {{customer}} JOIN {{orders}} ON c_custkey = o_custkey
     JOIN {{lineitem}} ON l_orderkey = o_orderkey
WHERE c_mktsegment = '$segment' AND o_orderdate < DATE '$date'
  AND l_shipdate > DATE '$date'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""", ("customer", "orders", "lineitem")),
    "q5_local_supplier": ("""
SELECT n_name, SUM(l_extendedprice * (1 - l_discount)) AS revenue
FROM {{customer}} JOIN {{orders}} ON c_custkey = o_custkey
     JOIN {{lineitem}} ON l_orderkey = o_orderkey
     JOIN {{supplier}} ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
     JOIN {{nation}} ON s_nationkey = n_nationkey
     JOIN {{region}} ON n_regionkey = r_regionkey
WHERE r_name = '$region' AND o_orderdate >= DATE '$date'
  AND o_orderdate < DATE '$date_1y'
GROUP BY n_name""", ("customer", "orders", "lineitem", "supplier", "nation", "region")),
    "q6_forecast": ("""
SELECT SUM(l_extendedprice * l_discount) AS revenue
FROM {{lineitem}}
WHERE l_shipdate >= DATE '$date' AND l_shipdate < DATE '$date_1y'
  AND l_discount BETWEEN $disc_lo AND $disc_hi AND l_quantity < $quantity""", ("lineitem",)),
    "q9_product_profit": ("""
SELECT n_name AS nation, YEAR(o_orderdate) AS o_year,
       SUM(l_extendedprice * (1 - l_discount)) AS profit
FROM {{part}} JOIN {{lineitem}} ON p_partkey = l_partkey
     JOIN {{supplier}} ON s_suppkey = l_suppkey
     JOIN {{orders}} ON o_orderkey = l_orderkey
     JOIN {{nation}} ON s_nationkey = n_nationkey
WHERE p_name LIKE '%$color%'
GROUP BY n_name, YEAR(o_orderdate)""", ("part", "lineitem", "supplier", "orders", "nation")),
    "q10_returned": ("""
SELECT c_custkey, c_name, SUM(l_extendedprice * (1 - l_discount)) AS revenue,
       c_acctbal, n_name
FROM {{customer}} JOIN {{orders}} ON c_custkey = o_custkey
     JOIN {{lineitem}} ON l_orderkey = o_orderkey
     JOIN {{nation}} ON c_nationkey = n_nationkey
WHERE o_orderdate >= DATE '$date' AND o_orderdate < DATE '$date_3m'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20""", ("customer", "orders", "lineitem", "nation")),
    "q18_large_volume": ("""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       SUM(l_quantity) AS qty
FROM {{customer}} JOIN {{orders}} ON c_custkey = o_custkey
     JOIN {{lineitem}} ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM {{lineitem}}
                     GROUP BY l_orderkey HAVING SUM(l_quantity) > $min_total)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 50""", ("customer", "orders", "lineitem")),
    "top_suppliers": ("""
SELECT n_name, s_suppkey, revenue, rk FROM (
  SELECT n_name, s_suppkey, revenue,
         RANK() OVER (PARTITION BY n_name ORDER BY revenue DESC, s_suppkey) AS rk
  FROM (SELECT n_name, s_suppkey,
               SUM(l_extendedprice * (1 - l_discount)) AS revenue
        FROM {{lineitem}} JOIN {{supplier}} ON l_suppkey = s_suppkey
             JOIN {{nation}} ON s_nationkey = n_nationkey
        WHERE l_shipdate >= DATE '$date'
        GROUP BY n_name, s_suppkey) t) r
WHERE rk <= 3""", ("lineitem", "supplier", "nation")),
    "segment_rollup": ("""
SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n, SUM(o_totalprice) AS total
FROM {{orders}} JOIN {{customer}} ON o_custkey = c_custkey
WHERE o_orderdate >= DATE '$date'
GROUP BY ROLLUP(c_mktsegment, o_orderpriority)""", ("orders", "customer")),
}


def render_params(p: dict) -> dict[str, str]:
    import datetime as dt

    d = dt.date.fromisoformat(p["date"])
    return {
        "date": p["date"],
        "date_1y": d.replace(year=d.year + 1).isoformat(),
        "date_3m": (d + dt.timedelta(days=91)).isoformat(),
        "segment": p["segment"], "region": p["region"], "color": p["color"],
        "disc_lo": f"{p['discount'] - 0.01:.2f}", "disc_hi": f"{p['discount'] + 0.01:.2f}",
        "quantity": str(p["quantity"]), "min_total": str(p["min_total"]),
    }


def fill(sql: str, values: dict[str, str]) -> str:
    from string import Template

    return Template(sql).substitute(values)


class WarehouseSql(Workload):
    """A seeded mix of read-only analytic queries over loaded tables."""

    name = "warehouse_sql"
    op_layers = ("operators.transform", "operators.run_raw_sql")

    def __init__(self, seed, data_dir, sizes):
        super().__init__(seed, data_dir, sizes)
        self.paths = gen.warehouse(seed, data_dir, sizes)
        self.n_rows = {t: pq.ParquetFile(p).metadata.num_rows for t, p in self.paths.items()}
        self.param_sets = [render_params(p) for p in gen.sql_params(seed)]
        self.duck = DuckOracle(self.paths)
        self.r = 0
        self.query_s: list[float] = []

    def setup(self, spark, rec, rep_dir):
        import astro_spark as a

        self.spark, self.rec, self.a = spark, rec, a
        # temp tables: session views over the landed files, no copy
        self.tables = {
            name: a.load_file(spark, a.File(self.paths[name]), output_table=a.TempTable())
            for name in WAREHOUSE_TABLES
        }

    def round(self):
        a, spark, rec = self.a, self.spark, self.rec
        values = self.param_sets[self.r % len(self.param_sets)]
        # a fixed order: the seed draws the parameters, not which query
        # pays the first-call costs
        for i, qname in enumerate(QUERIES):
            template, tables = QUERIES[qname]
            sql = fill(template, values)
            params = {t: self.tables[t] for t in tables}
            with rec.span("warehouse_sql.query"):
                if (i + self.r) % 2 == 0:
                    out = a.Table(f"wh_{qname}")
                    rec.call("operators.transform", a.run_transform, spark, sql, params, out)
                    call = "operators.transform"
                    df = spark.table(out.name)
                    rows, cols = df.collect(), df.columns
                else:
                    call = "operators.run_raw_sql"
                    holder = {}

                    def fetch(df, holder=holder):
                        holder["cols"] = df.columns
                        return df.collect()

                    rows = rec.call(call, a.run_raw_sql, spark, sql, params, handler=fetch)
                    cols = holder["cols"]
            self.query_s.append(rec.calls[-1].seconds)
            self.rows += sum(self.n_rows[t] for t in tables)
            twin = sql.replace("{{", "").replace("}}", "")
            self.expect(rec, Result(cols, rows) == self.duck.result(twin), call,
                        f"{qname} result differs from the DuckDB twin")
        self.r += 1

    def finish(self, rec):
        from stats import tail

        n = len(self.query_s)
        self.report["sql_query_s"] = (float(np.median(self.query_s)), "s", n)
        t = tail(self.query_s)
        if t is not None:
            self.report["sql_query_tail_s"] = (t.value, f"s@p{t.percentile:g}", n)
        self.duck.close()


# ==========================================================================
# the versioned store inside elt_batch
# ==========================================================================
KEEP_LAST = 6  # versions vacuum keeps: covers one iteration's commits
TT_CALLS = {"merge": "tt_merge", "append": "tt_append", "update": "tt_update_where",
            "delete": "tt_delete_where", "optimize": "tt_optimize"}


def _multiset_minus(a: pd.DataFrame, b: pd.DataFrame) -> list[tuple]:
    """Rows of a not matched by rows of b, as a sorted multiset."""
    from collections import Counter

    ca = Counter(a.itertuples(index=False, name=None))
    cb = Counter(b.itertuples(index=False, name=None))
    return sorted((ca - cb).elements())


class VersionedOrders:
    """The DAG's versioned copy of the orders: each iteration publishes the
    day's merge batch (``tt_merge``), appends late orders, corrects and
    deletes key ranges, reads the head, yesterday's snapshot and the
    change feed of the corrections, then compacts and vacuums.  Every read is checked
    against a pandas replay of the commits."""

    COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"]
    TT = "operators.timetravel."

    def __init__(self, owner: Workload, base_path: str):
        self.owner = owner
        self.base_path = base_path
        self.commit_s: list[float] = []
        self.read_s: list[float] = []

    def setup(self, spark, rec, rep_dir):
        import astro_spark as a

        self.spark, self.rec, self.a = spark, rec, a
        self.root = os.path.join(rep_dir, "tt_orders")
        a.load_file(spark, a.File(self.base_path),
                    output_table=a.VersionedTable(self.root, stats_cols=["o_orderkey"]))
        self.versions = {0: self._norm(pq.read_table(self.base_path).to_pandas())}
        self.max_key = int(self.versions[0].o_orderkey.max())
        self.head = 0
        self.next_key = 50_000_000
        self.user_bytes = 0
        self.written_bytes = 0
        self.files_ratio: list[float] = []

    def _norm(self, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf[self.COLS].copy()
        pdf["o_orderdate"] = pd.to_datetime(pdf["o_orderdate"]).dt.date
        return pdf.reset_index(drop=True)

    def _commit(self, name, fn, *args):
        before = _data_files(self.root)
        v = self.rec.call(self.TT + name, fn, *args)
        after = _data_files(self.root)
        self.written_bytes += sum(sz for p, sz in after.items() if p not in before)
        self.commit_s.append(self.rec.calls[-1].seconds)
        return v

    def _read(self, name, fn, *args, **kwargs):
        pdf = self.rec.call(self.TT + name, lambda: fn(*args, **kwargs).toPandas())
        self.read_s.append(self.rec.calls[-1].seconds)
        self.owner.rows += len(pdf)
        return pdf

    def step(self, k: int, merge_path: str, n_late: int) -> None:
        """One day's commits, reads and maintenance.  Only the calls run
        here; ``verify`` replays them in pandas after the iteration."""
        a, spark, tt = self.a, self.spark, self.TT
        r = gen.rng(self.owner.seed, "tt", k)
        self.day_start = self.head
        late = gen.commit_rows(self.owner.seed, k, n_late, self.next_key)
        self.next_key += n_late
        late_path = os.path.join(self.owner.data_dir, f"late_{k:03d}.parquet")
        gen.write_parquet(late, late_path)
        self.user_bytes += os.path.getsize(merge_path) + os.path.getsize(late_path)
        upd_lo, del_lo, read_lo = (int(x) for x in r.integers(1, self.max_key, 3))
        log = [
            ("merge", merge_path, self._commit("tt_merge", a.tt_merge, spark, spark.read.parquet(merge_path),
                                               self.root, ["o_orderkey"])),
            ("append", late_path, self._commit("tt_append", a.tt_append, spark, spark.read.parquet(late_path),
                                               self.root)),
            ("update", upd_lo, self._commit("tt_update_where", a.tt_update_where, spark, self.root,
                                            {"o_orderstatus": "'U'", "o_totalprice": "o_totalprice + 1.5"},
                                            f"o_orderkey BETWEEN {upd_lo} AND {upd_lo + 400}")),
            ("delete", del_lo, self._commit("tt_delete_where", a.tt_delete_where, spark, self.root,
                                            f"o_orderkey BETWEEN {del_lo} AND {del_lo + 150}")),
        ]
        head = log[-1][2]
        pred = f"o_orderkey BETWEEN {read_lo} AND {read_lo + 2000}"
        reads = {
            "head": self._read("tt_read_head", a.tt_read, spark, self.root, where=pred),
            "asof": self._read("tt_read_asof", a.tt_read, spark, self.root, version=self.day_start),
            # the feed of the day's corrections (update + delete)
            "changes": self._read("tt_changes", a.tt_changes, spark, self.root, head - 2, head),
        }
        log.append(("optimize", None, self.rec.call(tt + "tt_optimize", a.tt_optimize, spark, self.root)))
        self.rec.call(tt + "tt_vacuum", a.tt_vacuum, spark, self.root, keep_last=KEEP_LAST)
        self.pending = (log, read_lo, pred, reads, head)

    def verify(self) -> None:
        log, read_lo, pred, reads, head_at_read = self.pending
        expect, rec, tt = self.owner.expect, self.rec, self.TT
        for kind, arg, v in log:
            cur = self.versions[self.head]
            if kind == "merge":
                src = self._norm(pq.read_table(arg).to_pandas())
                new = pd.concat([cur[~cur.o_orderkey.isin(src.o_orderkey)], src], ignore_index=True)
            elif kind == "append":
                new = pd.concat([cur, self._norm(pq.read_table(arg).to_pandas())], ignore_index=True)
            elif kind == "update":
                new = cur.copy()
                hit = (new.o_orderkey >= arg) & (new.o_orderkey <= arg + 400)
                new.loc[hit, "o_orderstatus"] = "U"
                new.loc[hit, "o_totalprice"] = new.loc[hit, "o_totalprice"] + 1.5
            elif kind == "delete":
                hit = (cur.o_orderkey >= arg) & (cur.o_orderkey <= arg + 150)
                new = cur[~hit].reset_index(drop=True)
            else:  # optimize: same rows, new layout
                new = cur
            call = tt + TT_CALLS[kind]
            if kind in ("update", "delete") and not hit.any():
                expect(rec, v == self.head, call, "a version for a predicate that matched nothing")
                continue
            expect(rec, v == self.head + 1, call, f"version {v} after {self.head}")
            self.head = v
            self.versions[v] = new
        cur = self.versions[head_at_read]
        want = cur[(cur.o_orderkey >= read_lo) & (cur.o_orderkey <= read_lo + 2000)]
        expect(rec, Result.of_pandas(self._norm(reads["head"])) == Result.of_pandas(want), tt + "tt_read_head",
               "head read differs from the replay")
        expect(rec, Result.of_pandas(self._norm(reads["asof"])) == Result.of_pandas(self.versions[self.day_start]),
               tt + "tt_read_asof", f"as-of read of v{self.day_start} differs from the replay")
        self._check_changes(reads["changes"], head_at_read - 2, head_at_read)
        if rec.traced:
            files = self.a.tt_read(self.spark, self.root, where=pred).inputFiles()
            total = self.a.tt_read(self.spark, self.root).inputFiles()
            self.files_ratio.append(len(files) / max(1, len(total)))
        live = sorted(self.versions)[-KEEP_LAST:]
        self.versions = {v: self.versions[v] for v in live}

    def _check_changes(self, got, frm, to):
        ok = True
        for v in range(frm + 1, to + 1):
            prev, new = self.versions[v - 1], self.versions[v]
            part = got[got._commit_version == v]
            for change, want in (("insert", _multiset_minus(new, prev)), ("delete", _multiset_minus(prev, new))):
                rows = self._norm(part[part._change_type == change])
                ok &= sorted(rows.itertuples(index=False, name=None)) == want
        self.owner.expect(self.rec, ok, self.TT + "tt_changes",
                          f"change feed v{frm}..v{to} differs from the replay")

    def finish(self, report: dict, extra: dict) -> None:
        from stats import tail

        head = self.versions[self.head]
        path = os.path.join(self.owner.data_dir, "head_once.parquet")
        gen.write_parquet(pa.Table.from_pandas(head, preserve_index=False), path)
        storage_amp = _dir_bytes(self.root) / os.path.getsize(path)
        write_amp = self.written_bytes / max(1, self.user_bytes)
        n = len(self.commit_s)
        report["commit_s"] = (float(np.median(self.commit_s)), "s", n)
        t = tail(self.commit_s)
        if t is not None:
            report["commit_tail_s"] = (t.value, f"s@p{t.percentile:g}", n)
        report["read_s"] = (float(np.median(self.read_s)), "s", len(self.read_s))
        report["storage_amp"] = (storage_amp, "ratio", 1)
        report["write_amp"] = (write_amp, "ratio", n)
        extra["operators.timetravel.storage_amp"] = storage_amp
        extra["operators.timetravel.write_amp"] = write_amp
        if self.files_ratio:
            extra["operators.timetravel.files_scanned_ratio"] = float(np.median(self.files_ratio))
        extra["operators.timetravel.live_files"] = float(len(_data_files(self.root)))


# ==========================================================================
# dedup_corpus
# ==========================================================================
class DedupCorpus(Workload):
    """The LLM-data path: quality filter, exact and near dedup, top-k."""

    name = "dedup_corpus"
    op_layers = ("functions.",)

    def __init__(self, seed, data_dir, sizes):
        super().__init__(seed, data_dir, sizes)
        self.docs_path, self.exact_pairs, self.near_pairs = gen.documents(seed, data_dir, sizes)
        self.emb_path, self.q_path = gen.embeddings(seed, data_dir, sizes)
        docs = pq.read_table(self.docs_path).to_pandas()
        toks = docs.text.str.strip().str.split(r"\s+", regex=True)
        self.n_docs = len(docs)
        self.short_docs = int((toks.str.len() < 5).sum())
        first = docs.groupby("text").doc_id.min()
        self.exact_keep = set(first.tolist())
        self.exact_counts = docs.groupby("text").size().to_dict()
        self.shingles = {
            i: {tuple(t[j:j + 3]) for j in range(max(1, len(t) - 2))}
            for i, t in zip(docs.doc_id, toks)
        }
        emb = pq.read_table(self.emb_path).to_pandas()
        self.emb_ids = emb.vec_id.to_numpy()
        mat = np.stack(emb.embedding.to_list()).astype("float64")
        self.emb_unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        self.pass_s: list[float] = []
        self.found_near: set = set()
        self.lsh_pairs = 0

    def setup(self, spark, rec, rep_dir):
        import astro_spark as a

        self.spark, self.rec, self.a = spark, rec, a
        self.docs, self.emb, self.queries = (
            a.load_file(spark, a.File(p), output_table=a.TempTable())
            for p in (self.docs_path, self.emb_path, self.q_path)
        )

    def round(self):
        from astro_spark.functions import dedup, similarity, text

        spark, rec = self.spark, self.rec
        docs = spark.table(self.docs.name)
        with rec.span("dedup_corpus.pass") as sid:
            verdicts = rec.call("functions.text.quality_filter", lambda: (
                docs.select(text.quality_filter("text").alias("verdict"))
                .groupBy("verdict").count().collect()))
            kept = rec.call("functions.dedup.exact_dedup", lambda: dedup.exact_dedup(docs).collect())
            mh = rec.call("functions.dedup.minhash_lsh_pairs", lambda: dedup.minhash_lsh_pairs(docs).collect())
            sh = rec.call("functions.dedup.simhash_pairs", lambda: dedup.simhash_pairs(docs).collect())
            topk = rec.call("functions.similarity.brute_force_topk", lambda: similarity.brute_force_topk(
                spark.table(self.emb.name), spark.table(self.queries.name), k=5).collect())
        span = next(s for s in reversed(rec.spans) if s.span_id == sid)
        self.pass_s.append(span.end - span.start)
        self.rows += 4 * self.n_docs + len(self.emb_ids)
        self._verify(verdicts, kept, mh, sh, topk)

    def _verify(self, verdicts, kept, mh, sh, topk):
        rec = self.rec
        counts = {r["verdict"]: r["count"] for r in verdicts}
        self.expect(rec, counts.get("too_few_tokens", 0) == self.short_docs
                    and sum(counts.values()) == self.n_docs,
                    "functions.text.quality_filter", f"verdict counts {counts}")
        self.expect(rec, {r["doc_id"] for r in kept} == self.exact_keep
                    and sorted(r["dup_count"] for r in kept) == sorted(self.exact_counts.values()),
                    "functions.dedup.exact_dedup", "kept ids / counts differ from pandas")
        mh_pairs = {(r["id_a"], r["id_b"]) for r in mh}
        sh_pairs = {(r["id_a"], r["id_b"]) for r in sh}
        exact = {tuple(sorted(p)) for p in self.exact_pairs}
        self.expect(rec, exact <= mh_pairs, "functions.dedup.minhash_lsh_pairs", "missed an exact duplicate")
        self.expect(rec, exact <= sh_pairs, "functions.dedup.simhash_pairs", "missed an exact duplicate")
        bad = 0
        for r in mh:
            sa, sb = self.shingles[r["id_a"]], self.shingles[r["id_b"]]
            bad += abs(len(sa & sb) / len(sa | sb) - r["jaccard"]) > 0.02
        self.expect(rec, bad == 0, "functions.dedup.minhash_lsh_pairs", f"{bad} pairs with a wrong jaccard")
        self.expect(rec, all(r["hamming"] <= 4 for r in sh), "functions.dedup.simhash_pairs", "hamming > 4")
        near = {tuple(sorted(p)) for p in self.near_pairs}
        self.found_near = near & (mh_pairs | sh_pairs)
        self.lsh_pairs = len(mh_pairs)
        self.true_lsh = len((near | exact) & mh_pairs)
        self._verify_topk(topk)

    def _verify_topk(self, topk):
        index = {v: i for i, v in enumerate(self.emb_ids)}
        by_q: dict[int, list] = {}
        for r in topk:
            by_q.setdefault(r["query_id"], []).append(r)
        bad = 0
        for q, rows in by_q.items():
            sims = self.emb_unit @ self.emb_unit[index[q]]
            sims[index[q]] = -np.inf
            fifth = np.sort(sims)[-5]
            for r in rows:
                exact = sims[index[r["neighbor_id"]]]
                bad += abs(exact - r["cos_sim"]) > 1e-3 or exact < fifth - 1e-3
            bad += len(rows) != 5
        n_q = pq.ParquetFile(self.q_path).metadata.num_rows
        self.expect(self.rec, bad == 0 and len(by_q) == n_q, "functions.similarity.brute_force_topk",
                    f"{bad} wrong neighbours")

    def finish(self, rec):
        n = len(self.pass_s)
        recall = len(self.found_near) / max(1, len(self.near_pairs))
        self.report["dedup_docs_per_s"] = (self.n_docs * n / sum(self.pass_s), "docs/s", n)
        self.report["dedup_recall"] = (recall, "ratio", len(self.near_pairs))
        self.layer_extra["functions.dedup.recall"] = recall
        if self.lsh_pairs:
            self.layer_extra["functions.dedup.candidate_yield"] = self.true_lsh / self.lsh_pairs


class Analytics(Workload):
    """Read-only analytics: one pass over the SQL mix, then one pass of the
    LLM-data functions over the corpus, per round."""

    name = "analytics"
    op_layers = WarehouseSql.op_layers + DedupCorpus.op_layers

    def __init__(self, seed, data_dir, sizes):
        super().__init__(seed, data_dir, sizes)
        self.parts = (WarehouseSql(seed, data_dir, sizes), DedupCorpus(seed, data_dir, sizes))

    def setup(self, spark, rec, rep_dir):
        for p in self.parts:
            p.setup(spark, rec, rep_dir)

    def round(self):
        for p in self.parts:
            p.round()
        self._collect()

    def _collect(self):
        self.rows = sum(p.rows for p in self.parts)
        self.wrong = [w for p in self.parts for w in p.wrong]

    def finish(self, rec):
        for p in self.parts:
            p.finish(rec)
            self.report.update(p.report)
            self.layer_extra.update(p.layer_extra)
        self._collect()


WORKLOADS = {w.name: w for w in (EltBatch, Analytics)}
