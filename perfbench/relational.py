"""``relational``: the reference's operator surface over a seeded star schema.

Each op composes public calls (``load_table`` -> ``filters`` -> ``join`` ->
``groupby().agg``, ``drop_duplicates``, ``str_to_table``, ``head``,
``TableCleaner``) and ends in one action. The first run of each op is
checked against the same query in DuckDB over the same parquet files.
"""

from __future__ import annotations

import datetime as dt
import io
import os
from contextlib import redirect_stdout

from perfbench.common import Op, Workload, same_rows, table
from perfbench.inputs import COLORS, EVENT_TYPES, REGIONS, SEGMENTS

_ORDER_DAY0 = dt.date(2014, 1, 3)  # first possible o_orderdate (see inputs)


class Relational(Workload):
    name = "relational"

    def register(self) -> None:
        P, spark = self.P, self.spark
        self.tables = {}
        with_rows = self.inp.tables
        for name in ("region", "nation", "customer", "supplier", "part", "orders",
                     "lineitem", "events"):
            df = P.load_table(spark, name, self.inp.root)
            df.schema  # resolve the footer once, as a user registering inputs would
            self.tables[name] = with_rows[name]["rows"]
        # Seeds move the predicates, not the amount of work: every window has
        # a fixed length and a small random offset.
        r = self.rng
        day = lambda lo, hi: str(_ORDER_DAY0 + dt.timedelta(days=r.randint(lo, hi)))  # noqa: E731
        y = r.randint(2016, 2018)
        c0 = r.randint(0, 200)
        self.p = {
            "cutoff": day(2150, 2230),
            "seg": r.choice(SEGMENTS),
            "q3date": day(1250, 1300),
            "region": r.choice(REGIONS),
            "y0": f"{y}-01-01",
            "y1": f"{y + 1}-01-01",
            "color": r.choice(COLORS),
            "hot_min": 300,
            "types": sorted(r.sample(EVENT_TYPES, 3)),
            "price": round(r.uniform(300_000, 350_000), 2),
            "c0": str(_ORDER_DAY0 + dt.timedelta(days=c0)),
            "c1": str(_ORDER_DAY0 + dt.timedelta(days=c0 + 1500)),
        }
        self._duck = None

    # -- oracle -------------------------------------------------------------

    def duck(self):
        if self._duck is None:
            import duckdb

            con = duckdb.connect()
            for name in self.tables:
                path = os.path.join(self.inp.root, f"{name}.parquet")
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
            self._duck = con
        return self._duck

    def sql_table(self, sql: str):
        res = self.duck().execute(sql)
        return table([d[0] for d in res.description], res.fetchall())

    def _oracle(self, sql: str):
        return lambda got: same_rows(table(*got), self.sql_table(sql), "vs DuckDB")

    # -- ops ----------------------------------------------------------------

    def _load(self, name: str):
        with self.runner.span("sources.load_table", "sources"):
            return self.P.load_table(self.spark, name, self.inp.root)

    def _collect(self, df):
        with self.runner.span("spark.collect", "spark"):
            rows = df.collect()
        return df.columns, rows

    def _op(self, name: str, span_layer: str, fn, *args, **kw):
        with self.runner.span(name, span_layer):
            return fn(*args, **kw)

    def round_ops(self) -> list[Op]:
        p, t = self.p, self.tables
        canon = lambda got: table(*got)  # noqa: E731
        ops = [
            Op("q1_filter_agg", t["lineitem"], self.q1, self._oracle(f"""
                SELECT l_returnflag, l_linestatus, sum(l_quantity) AS l_quantity_sum,
                       avg(l_quantity) AS l_quantity_mean, sum(l_extendedprice) AS l_extendedprice,
                       avg(l_discount) AS l_discount, count(l_orderkey) AS l_orderkey
                FROM lineitem WHERE l_shipdate <= TIMESTAMP '{p["cutoff"]}' GROUP BY 1, 2"""),
               canon),
            Op("q3_join_agg", t["customer"] + t["orders"] + t["lineitem"], self.q3,
               self._oracle(f"""
                SELECT o_orderpriority, sum(l_extendedprice * (1 - l_discount)) AS revenue,
                       count(*) AS l_linenumber
                FROM customer JOIN orders ON c_custkey = o_custkey
                JOIN lineitem ON l_orderkey = o_orderkey
                WHERE c_mktsegment = '{p["seg"]}' AND o_orderdate < TIMESTAMP '{p["q3date"]}'
                  AND l_shipdate > TIMESTAMP '{p["q3date"]}'
                GROUP BY 1"""), canon),
            Op("q5_multi_join", sum(t[n] for n in ("region", "nation", "customer", "orders",
                                                   "lineitem", "supplier")),
               self.q5, self._oracle(f"""
                SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue
                FROM customer JOIN orders ON c_custkey = o_custkey
                JOIN lineitem ON l_orderkey = o_orderkey
                JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
                JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
                WHERE r_name = '{p["region"]}' AND o_orderdate >= TIMESTAMP '{p["y0"]}'
                  AND o_orderdate < TIMESTAMP '{p["y1"]}'
                GROUP BY 1"""), canon),
            Op("q9_skew_join", sum(t[n] for n in ("part", "lineitem", "supplier", "nation",
                                                  "orders")),
               self.q9, self._oracle(f"""
                SELECT n_name, year(o_orderdate) AS o_year,
                       sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS amount
                FROM part JOIN lineitem ON p_partkey = l_partkey
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation ON s_nationkey = n_nationkey
                JOIN orders ON l_orderkey = o_orderkey
                WHERE p_name LIKE '%{p["color"]}%'
                GROUP BY 1, 2"""), canon),
            Op("skew_groupby", t["lineitem"], self.skew_groupby, self._oracle(f"""
                SELECT l_partkey, sum(l_quantity) AS l_quantity, count(l_extendedprice)
                       AS l_extendedprice
                FROM lineitem GROUP BY 1 HAVING count(l_extendedprice) >= {p["hot_min"]}"""),
               canon),
            Op("drop_duplicates", t["events"], self.dedup, self._oracle("""
                SELECT count(*) AS n, sum(value) AS v FROM (
                    SELECT value, row_number() OVER (
                        PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
                    FROM events) WHERE rn = 1"""), canon),
            Op("json_props", t["events"], self.json_props, self._oracle(f"""
                SELECT json_extract_string(props, '$.src') AS src,
                       sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS k,
                       avg(CAST(json_extract(props, '$.w') AS DOUBLE)) AS w,
                       sum(value) AS value
                FROM events WHERE event_type IN ({", ".join(repr(x) for x in p["types"])})
                GROUP BY 1"""), canon),
            Op("head", t["orders"], self.head, self.head_oracle, stable=False,
               invariant=self.head_shape),
            Op("table_cleaner", t["orders"], self.cleaner, self.cleaner_oracle,
               lambda got: table(["cat", "n", "price", "n_f"], got[0])),
        ]
        return ops

    def q1(self):
        P, p = self.P, self.p
        li = self._load("lineitem")
        f = self._op("operators.filters", "operators", P.filters, li,
                     [("l_shipdate", "<=", p["cutoff"])])
        g = self._op("operators.groupby", "operators", lambda: P.groupby(
            f, ["l_returnflag", "l_linestatus"]).agg({
                "l_quantity": ["sum", "mean"], "l_extendedprice": "sum",
                "l_discount": "mean", "l_orderkey": "count"}))
        return self._collect(g)

    def q3(self):
        from pyspark.sql import functions as F

        P, p = self.P, self.p
        c = self._op("operators.filters", "operators", P.filters, self._load("customer"),
                     ("c_mktsegment", "=", p["seg"]))
        o = self._op("operators.filters", "operators", P.filters, self._load("orders"),
                     ("o_orderdate", "<", p["q3date"]))
        co = self._op("operators.join", "operators", P.join,
                      c.select(F.col("c_custkey").alias("o_custkey")), o, "o_custkey")
        li = self._op("operators.filters", "operators", P.filters, self._load("lineitem"),
                      ("l_shipdate", ">", p["q3date"]))
        j = self._op("operators.join", "operators", P.join,
                     co.select(F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"),
                     li, "l_orderkey")
        j = j.withColumn("revenue", F.col("l_extendedprice") * (1 - F.col("l_discount")))
        g = self._op("operators.groupby", "operators", lambda: P.groupby(
            j, "o_orderpriority").agg({"revenue": "sum", "l_linenumber": "count"}))
        return self._collect(g)

    def q5(self):
        from pyspark.sql import functions as F

        P, p = self.P, self.p
        r = self._op("operators.filters", "operators", P.filters, self._load("region"),
                     ("r_name", "=", p["region"]))
        n = self._op("operators.join", "operators", P.join, self._load("nation"),
                     r.select(F.col("r_regionkey").alias("n_regionkey")), "n_regionkey")
        c = self._op("operators.join", "operators", P.join,
                     self._load("customer").select(
                         F.col("c_custkey").alias("o_custkey"),
                         F.col("c_nationkey").alias("n_nationkey")),
                     n.select("n_nationkey", "n_name"), "n_nationkey")
        o = self._op("operators.filters", "operators", P.filters, self._load("orders"),
                     [("o_orderdate", ">=", p["y0"]), ("o_orderdate", "<", p["y1"])])
        co = self._op("operators.join", "operators", P.join, o, c, "o_custkey")
        li = self._load("lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
        col = self._op("operators.join", "operators", P.join, li, co, "o_orderkey")
        s = self._load("supplier").select(F.col("s_suppkey").alias("l_suppkey"),
                                          F.col("s_nationkey").alias("n_nationkey"))
        j = self._op("operators.join", "operators", P.join, col, s, ["l_suppkey", "n_nationkey"])
        j = j.withColumn("revenue", F.col("l_extendedprice") * (1 - F.col("l_discount")))
        g = self._op("operators.groupby", "operators",
                     lambda: P.groupby(j, "n_name").agg({"revenue": "sum"}))
        return self._collect(g)

    def q9(self):
        from pyspark.sql import functions as F

        P, p = self.P, self.p
        part = self._op("operators.filters", "operators", P.filters, self._load("part"),
                        ("p_name", "like", f"%{p['color']}%"))
        lp = self._op("operators.join", "operators", P.join, self._load("lineitem"),
                      part.select(F.col("p_partkey").alias("l_partkey")), "l_partkey")
        sn = self._op("operators.join", "operators", P.join,
                      self._load("supplier").select(
                          F.col("s_suppkey").alias("l_suppkey"),
                          F.col("s_nationkey").alias("n_nationkey")),
                      self._load("nation").select("n_nationkey", "n_name"), "n_nationkey")
        x = self._op("operators.join", "operators", P.join, lp,
                     sn.select("l_suppkey", "n_name"), "l_suppkey")
        o = self._load("orders").select(F.col("o_orderkey").alias("l_orderkey"),
                                        F.year("o_orderdate").alias("o_year"))
        y = self._op("operators.join", "operators", P.join, x, o, "l_orderkey")
        y = y.withColumn("amount", F.col("l_extendedprice") * (1 - F.col("l_discount"))
                         * (1 + F.col("l_tax")))
        g = self._op("operators.groupby", "operators",
                     lambda: P.groupby(y, ["n_name", "o_year"]).agg({"amount": "sum"}))
        return self._collect(g)

    def skew_groupby(self):
        P, p = self.P, self.p
        g = self._op("operators.groupby", "operators", lambda: P.groupby(
            self._load("lineitem"), "l_partkey").agg(
                {"l_quantity": "sum", "l_extendedprice": "count"}))
        hot = self._op("operators.filters", "operators", P.filters, g,
                       ("l_extendedprice", ">=", p["hot_min"]))
        return self._collect(hot)

    def dedup(self):
        from pyspark.sql import functions as F

        P = self.P
        ev = self._load("events").select("user_id", "event_type", "ts", "event_id", "value")
        d = self._op("operators.drop_duplicates", "operators", P.drop_duplicates, ev,
                     ["user_id", "event_type"], "first", ["ts", "event_id"])
        return self._collect(d.agg(F.count("*").alias("n"), F.sum("value").alias("v")))

    def json_props(self):
        P, p = self.P, self.p
        e = self._op("operators.filters", "operators", P.filters, self._load("events"),
                     ("event_type", "in", p["types"]))
        t = self._op("functions.str_to_table", "functions", P.str_to_table, e, "props")
        g = self._op("operators.groupby", "operators", lambda: P.groupby(t, "src").agg(
            {"k": "sum", "w": "mean", "value": "sum"}))
        return self._collect(g)

    def head(self):
        P, p = self.P, self.p
        o = self._op("operators.filters", "operators", P.filters, self._load("orders"),
                     ("o_totalprice", ">", p["price"]))
        buf = io.StringIO()
        with self.runner.span("operators.head", "operators"), redirect_stdout(buf):
            P.head(o, 5)
        return buf.getvalue()

    def head_shape(self, text: str) -> None:
        lines = [ln for ln in text.splitlines() if ln.strip()]
        if len(lines) != 6 or "o_orderkey" not in lines[0]:
            raise AssertionError(f"head printed {len(lines)} lines: {lines[:2]}")

    def head_oracle(self, text: str) -> None:
        n = self.duck().execute(
            f"SELECT count(*) FROM orders WHERE o_totalprice > {self.p['price']}").fetchone()[0]
        if n < 5:
            raise AssertionError(f"oracle has only {n} matching orders")
        keys = {int(ln.split()[1]) for ln in text.splitlines()[1:] if ln.strip()}
        found = self.duck().execute(
            f"SELECT count(*) FROM orders WHERE o_totalprice > {self.p['price']} "
            f"AND o_orderkey IN ({', '.join(map(str, keys))})").fetchone()[0]
        if found != 5:
            raise AssertionError(f"head rows not all in the filtered table: {found} of 5")

    def cleaner(self):
        from pyspark.sql import functions as F

        P, p = self.P, self.p
        o = self._op("operators.filters", "operators", P.filters, self._load("orders"),
                     [("o_orderdate", ">=", p["c0"]), ("o_orderdate", "<", p["c1"])])
        tc = P.TableCleaner()
        tc.register_numeric("o_totalprice")
        tc.register_label("o_orderpriority")
        tc.register_one_hot("o_orderstatus")
        with self.runner.span("ml.fit", "ml"):
            tc.fit(o)
        with self.runner.span("ml.transform", "ml"):
            x = tc.clean_table(o)
        g = x.groupBy("o_orderpriority").agg(
            F.count("*").alias("n"), F.sum("o_totalprice").alias("price"),
            F.sum(F.col("o_orderstatus_F").cast("int")).alias("n_f"))
        _, rows = self._collect(g)
        cats = tc.columns[1].categories  # ["Unknown", first-seen order ...]
        num = tc.columns[0]
        decoded = [(cats[r["o_orderpriority"]], r["n"], r["price"], r["n_f"]) for r in rows]
        return decoded, (num.min, num.mean, num.max)

    def cleaner_oracle(self, got) -> None:
        decoded, stats = got
        p = self.p
        where = (f"o_orderdate >= TIMESTAMP '{p['c0']}' AND o_orderdate < TIMESTAMP '{p['c1']}'")
        lo, mean, hi = self.duck().execute(
            f"SELECT min(o_totalprice), avg(o_totalprice), max(o_totalprice) FROM orders "
            f"WHERE {where}").fetchone()
        same_rows([tuple(stats)], [(lo, mean, hi)], "TableCleaner stats vs DuckDB")
        want = self.sql_table(
            f"SELECT o_orderpriority AS cat, count(*) AS n, sum(o_totalprice) AS price, "
            f"sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS n_f "
            f"FROM orders WHERE {where} GROUP BY 1")
        same_rows(table(["cat", "n", "price", "n_f"], decoded), want,
                  "TableCleaner transform vs DuckDB")
