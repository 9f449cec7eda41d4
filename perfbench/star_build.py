"""``star_build``: the nightly build of the whole star schema, then the
warehouse kept current by small transactional increments.

One round:

- ``load``: ``plans.pipeline.run_star_build`` over the seeded source
  tables with a parquet ``warehouse_dir`` and its default ``count=True``; a
  data-quality pass (``operators.validation``) over the written facts; the
  base load of three ``sources.txlog.TxTable``s (sales, an SCD2 customer
  dimension, the daily-sales aggregate). ``load_s``.
- ``append``: INCREMENTS increments, each a slice of late orders and line
  items plus a set of changed customers and cancelled orders, committed as
  ``build_fact_ventas`` rows appended to the sales table, a delete of the
  cancelled orders, an ``scd2_commit`` and an ``apply_change_feed`` fold of
  ``read_changes`` into the aggregate. ``append_p50_s`` is the median
  increment; one increment alone spreads too widely on a shared host.
- ``query``: QUERY_PASSES passes of analyst queries on the written parquet
  and snapshot queries (current, time travel, SCD2, aggregate) on the
  TxTables. ``query_p50_s`` is the median over passes of the mean query
  time.

``stored_bytes`` is the parquet warehouse as ``run_star_build`` wrote it.

Checks (DuckDB over the source and the written files, never the program's
own results): double entry, balance roll-forward, P&L identity, key
uniqueness and foreign keys, row counts and measure totals recomputed from
the sources, every analyst query re-run by DuckDB; the maintained
aggregate equals a DuckDB recompute over base and increments, the snapshot
row count equals base + appended - deleted, one current SCD2 row per
customer with non-overlapping validity, and version 0 equals the base.
"""

from __future__ import annotations

import json
import os
from decimal import Decimal

import duckdb
import numpy as np

import gen
from harness import dir_bytes

INCREMENTS = 3
INCREMENT_ORDERS = 300
CHANGED_CUSTOMERS = 40
CANCELLED_ORDERS = 25
BASE_VALID_FROM = "1995-01-01"
QUERY_PASSES = 1

TABLES = [
    "dim_fecha", "dim_producto", "dim_cliente", "dim_usuario", "dim_almacen", "dim_proveedor",
    "dim_cuenta_contable", "dim_promocion", "fact_ventas", "fact_inventario", "fact_transacciones",
    "fact_balance", "fact_estado_resultados",
]

# the same SQL text runs on Spark and on DuckDB; every ORDER BY is total
QUERIES = {
    "sales_by_month": """
        SELECT f.anio, f.mes, SUM(v.total) AS ventas, SUM(v.margen) AS margen, COUNT(*) AS n
        FROM fact_ventas v JOIN dim_fecha f ON v.fecha_id = f.fecha_id
        GROUP BY f.anio, f.mes ORDER BY f.anio, f.mes""",
    "top_brands": """
        SELECT p.categoria, p.marca, SUM(v.cantidad) AS unidades, SUM(v.subtotal) AS neto
        FROM fact_ventas v JOIN dim_producto p ON v.producto_id = p.producto_id
        GROUP BY p.categoria, p.marca ORDER BY neto DESC, p.categoria, p.marca LIMIT 20""",
    "ledger_by_period": """
        SELECT b.periodo_id, SUM(b.debitos) AS debitos, SUM(b.creditos) AS creditos,
               MAX(e.utilidad_neta) AS utilidad_neta
        FROM fact_balance b JOIN fact_estado_resultados e ON b.periodo_id = e.periodo_id
        GROUP BY b.periodo_id ORDER BY b.periodo_id""",
}


def increment_dir(paths: gen.Paths, i: int) -> str:
    return os.path.join(paths.root, f"increment_{i:02d}")


def make_inputs(paths: gen.Paths, seed: int) -> None:
    """The star source tables plus INCREMENTS increments: late orders (new
    keys, dates inside the calendar) with their line items, changed
    customers, and base orders to cancel."""
    gen.make_star(paths, seed)
    rng = np.random.default_rng([seed, 4])
    for i in range(INCREMENTS):
        okeys = gen.STAR["orders"] + i * INCREMENT_ORDERS + np.arange(INCREMENT_ORDERS)
        d = increment_dir(paths, i)
        start = str(np.datetime64("2001-09-01") + 30 * i)
        gen.write(gen.orders(rng, okeys, gen.STAR["customer"], start, 30),
                   f"{d}/orders.parquet", gen.SCHEMAS["orders"])
        gen.write(gen.lineitem(rng, okeys, 4 * INCREMENT_ORDERS, gen.STAR["part"], gen.STAR["supplier"],
                                 start, 30), f"{d}/lineitem.parquet", gen.SCHEMAS["lineitem"])
        changed = np.sort(rng.choice(gen.STAR["customer"], CHANGED_CUSTOMERS, replace=False))
        gen.write(gen.customers(rng, changed), f"{d}/customer.parquet", gen.SCHEMAS["customer"])
        cancelled = sorted(int(k) for k in rng.choice(gen.STAR["orders"], CANCELLED_ORDERS, replace=False))
        with open(f"{d}/increment.json", "w") as fh:
            json.dump({"effective_date": start, "cancelled": cancelled}, fh)


def snapshot_files(table: str) -> list[str]:
    """The data files of a TxTable snapshot, replayed from its
    ``_txlog/*.json`` entries (append adds files, overwrite replaces them)."""
    log = os.path.join(table, "_txlog")
    files: list[str] = []
    for name in sorted(os.listdir(log)):
        with open(os.path.join(log, name)) as fh:
            e = json.load(fh)
        files = list(e["files"]) if e["action"] == "overwrite" else files + e["files"]
    return [os.path.join(table, "data", f) for f in files]


def _rows(rows) -> list[tuple]:
    return [tuple(r) for r in rows]


class Workload:
    TABLE_ORDER = TABLES

    def __init__(self, run, paths: gen.Paths, work: str):
        self.run = run
        self.spark = run.spark
        self.paths = paths
        self.work = work
        self.wh = None
        self.counts: dict[str, int] = {}
        self.dq: dict = {}
        self.answers: dict[str, list[tuple]] = {}
        self.stored = (0, 0)
        self.increments = []
        for i in range(INCREMENTS):
            with open(f"{increment_dir(paths, i)}/increment.json") as fh:
                self.increments.append(json.load(fh))

    def warm(self) -> None:
        """No warm pass: a second full build does not fit in one run, so the
        timed build starts in a JVM that has run one trivial job and
        compiled none of the build's plans, the same in every run."""

    def _path(self, table: str) -> str:
        return os.path.join(self.wh, table)

    def _tx(self, name: str) -> str:
        return os.path.join(self.wh, "tx", name)

    def _dq_pass(self) -> None:
        from data_warehouse_punta_fina_spark.operators.validation import (
            ColumnRule,
            TableRules,
            profile_table,
            validate_and_populate,
        )

        read = self.spark.read.parquet
        ventas = read(self._path("fact_ventas"))
        profile = {
            r["column"]: r.asDict()
            for r in profile_table(ventas, ["venta_id", "cliente_id", "producto_id", "total"]).collect()
        }
        rules = TableRules(
            columns={
                "venta_id": ColumnRule(type="bigint", required=True),
                "cantidad": ColumnRule(type="decimal(10,2)", min=0.0),
                "total": ColumnRule(type="decimal(15,2)", required=True, default=0),
            },
            primary_key=["venta_id"],
            foreign_keys={
                "cliente_id": (read(self._path("dim_cliente")), "cliente_id"),
                "producto_id": (read(self._path("dim_producto")), "producto_id"),
                "almacen_id": (read(self._path("dim_almacen")), "almacen_id"),
            },
        )
        _clean, report = validate_and_populate(ventas, rules)
        self.dq = {"profile": profile, "report": report}

    def _base_load(self) -> None:
        from pyspark.sql import functions as F

        from data_warehouse_punta_fina_spark.operators.incremental import aggregate_delta
        from data_warehouse_punta_fina_spark.sources.txlog import TxTable

        read = self.spark.read.parquet
        self.sales = TxTable(self.spark, self._tx("ventas"))
        self.customers = TxTable(self.spark, self._tx("clientes_scd2"))
        self.daily = TxTable(self.spark, self._tx("ventas_diarias"))
        self.sales.append(read(self._path("fact_ventas")))
        self.customers.append(
            read(self._path("dim_cliente"))
            .filter(F.col("cliente_externo_id") >= 0)
            .select(
                "cliente_externo_id",
                "segmento",
                F.to_date(F.lit(BASE_VALID_FROM)).alias("valid_from"),
                F.to_date(F.lit("9999-12-31")).alias("valid_to"),
                F.lit(True).alias("is_current"),
            )
        )
        self.daily.append(aggregate_delta(self.sales.read(), ["fecha_id"], ["total"]))
        self.folded = 0

    def _increment(self, i: int) -> None:
        from pyspark.sql import functions as F

        from data_warehouse_punta_fina_spark.operators.incremental import apply_change_feed
        from data_warehouse_punta_fina_spark.plans.facts import build_fact_ventas
        from data_warehouse_punta_fina_spark.sources.writers import write_parquet

        run, read, inc = self.run, self.spark.read.parquet, self.increments[i]
        d = increment_dir(self.paths, i)
        staged = os.path.join(self.wh, "staging", f"increment_{i:02d}")
        with run.call("facts.ventas_increment"):
            rows = build_fact_ventas(
                self.spark, d, read(self._path("dim_producto")), read(self._path("dim_cliente")),
                read(self._path("dim_almacen")),
            )
            # late facts land as parquet first, so the appended batch has the
            # table's schema as read back from parquet
            write_parquet(rows, staged)
        with run.call("txlog.append"):
            self.sales.append(read(staged))
        with run.call("txlog.delete"):
            self.sales.delete_where(F.col("orden_id").isin(inc["cancelled"]))
        with run.call("txlog.scd2_commit"):
            updates = read(f"{d}/customer.parquet").select(
                F.col("c_custkey").alias("cliente_externo_id"), F.col("c_mktsegment").alias("segmento")
            )
            self.customers.scd2_commit(
                updates, "cliente_externo_id", ["segmento"], F.to_date(F.lit(inc["effective_date"]))
            )
        with run.call("txlog.read_changes"):
            head = len(self.sales.history()) - 1  # versions run 0, 1, 2, ...
            changes = self.sales.read_changes(self.folded + 1, head).select("fecha_id", "total", "_change_type")
        with run.call("incremental.change_feed"):
            self.daily.overwrite(apply_change_feed(self.daily.read(), changes, ["fecha_id"], ["total"]))
            self.folded = head

    def _snapshot_queries(self, p: int) -> None:
        from pyspark.sql import functions as F

        run = self.run
        with run.op("query", p), run.call("txlog.read"):
            self.answers["snapshot_count"] = [(self.sales.read().count(),)]
        with run.op("query", p), run.call("txlog.read"):
            v0 = self.sales.read(version=0).agg(F.count("*"), F.sum("total")).collect()
            self.answers["version0"] = _rows(v0)
        with run.op("query", p), run.call("txlog.read"):
            cur = self.customers.read().filter("is_current").groupBy("segmento").count().orderBy("segmento")
            self.answers["scd2_current"] = _rows(cur.collect())
        with run.op("query", p), run.call("txlog.read"):
            top = self.daily.read().orderBy(F.desc("total"), "fecha_id").limit(5)
            self.answers["daily_top"] = _rows(top.collect())

    def round(self, r: int) -> None:
        from data_warehouse_punta_fina_spark.plans.pipeline import run_star_build

        run = self.run
        self.wh = os.path.join(self.work, f"warehouse_{r}")
        with run.op("load"):
            with run.call("pipeline.run_star_build"):
                result = run_star_build(self.spark, self.paths.star(), warehouse_dir=self.wh)
            self.counts = dict(result.counts)
            with run.call("validation.dq"):
                self._dq_pass()
            with run.call("txlog.base_load"):
                self._base_load()
        self.stored = dir_bytes(self.wh)
        run.counts["writers.files"], run.counts["writers.bytes"] = map(float, self.stored)

        for i in range(INCREMENTS):
            with run.op("append"):
                self._increment(i)

        read = self.spark.read.parquet
        for t in TABLES:
            read(self._path(t)).createOrReplaceTempView(t)
        for p in range(QUERY_PASSES):
            for name, sql in QUERIES.items():
                with run.op("query", p), run.call("readers.analyst_query"):
                    self.answers[name] = _rows(self.spark.sql(sql).collect())
            self._snapshot_queries(p)
        tx = [self._tx(t) for t in ("ventas", "clientes_scd2", "ventas_diarias")]
        run.counts["txlog.files"] = float(sum(len(snapshot_files(t)) for t in tx))
        run.counts["txlog.versions"] = float(sum(len(os.listdir(os.path.join(t, "_txlog"))) for t in tx))

    def end_to_end(self) -> dict:
        r = self.run
        return {
            "load_s": r.pass_median("load"),
            "append_p50_s": r.pass_median("append"),
            "query_p50_s": r.pass_median("query"),
            "stored_bytes": float(self.stored[1]),
        }

    # -- independent checks ---------------------------------------------------
    def verify(self) -> None:
        run = self.run
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        src = self.paths.star()
        for t in ("orders", "lineitem", "events", "customer", "part", "supplier"):
            con.execute(f"CREATE VIEW src_{t} AS SELECT * FROM read_parquet('{src}/{t}.parquet')")
        for t in ("orders", "lineitem"):
            files = ", ".join(f"'{increment_dir(self.paths, i)}/{t}.parquet'" for i in range(INCREMENTS))
            con.execute(f"CREATE VIEW inc_{t} AS SELECT * FROM read_parquet([{files}])")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self._path(t)}/*.parquet')")
        one = lambda sql: con.execute(sql).fetchone()  # noqa: E731

        # the program's own count() against the written files
        written = {t: one(f"SELECT count(*) FROM {t}")[0] for t in TABLES}
        for t in TABLES:
            run.check(f"load.count.{t}", self.counts.get(t) == written[t], f"count({t})={self.counts.get(t)} vs {written[t]} written")

        # facts recomputed from the sources
        exp = one(f"SELECT count(*), sum(total), sum(descuento), sum(cantidad) FROM ({_expected_ventas('src_orders', 'src_lineitem')})")
        got = one("SELECT count(*), sum(subtotal_bruto - descuento), sum(descuento), sum(cantidad) FROM fact_ventas")
        run.check("load.totals.fact_ventas", got == exp, f"fact_ventas rows/totals {got} vs sources {exp}")
        exp = one("""SELECT count(*), sum(CASE WHEN event_type IN ('purchase','signup') THEN d ELSE -d END)
                     FROM (SELECT event_type, CAST(floor(value*100+0.5)/100 AS DECIMAL(15,2)) d FROM src_events)""")
        got = one("SELECT count(*), sum(cantidad) FROM fact_inventario")
        run.check("load.totals.fact_inventario", got == exp, f"fact_inventario rows/total {got} vs sources {exp}")
        exp = one("""WITH o AS (SELECT CAST(floor(o_totalprice*100+0.5)/100 AS DECIMAL(15,2)) total FROM src_orders),
                          s AS (SELECT total, CAST(floor(CAST(total AS DOUBLE)/1.13*100+0.5)/100 AS DECIMAL(15,2)) sub FROM o),
                          c AS (SELECT total, sub, total - sub iva,
                                       CAST(floor(CAST(sub AS DOUBLE)*0.4*100+0.5)/100 AS DECIMAL(15,2)) costo FROM s)
                     SELECT sum((total>0)::INT + (sub>0)::INT + (iva>0)::INT + 2*(costo>0)::INT),
                            sum(CASE WHEN total>0 THEN total ELSE 0 END) + sum(CASE WHEN costo>0 THEN costo ELSE 0 END)
                     FROM c""")
        got = one("SELECT count(*), sum(monto) FILTER (WHERE tipo_movimiento='DEBITO') FROM fact_transacciones")
        run.check("load.totals.fact_transacciones", got == exp, f"fact_transacciones rows/debits {got} vs sources {exp}")
        for dim, n_src in (("dim_cliente", "src_customer"), ("dim_producto", "src_part"), ("dim_almacen", "src_supplier")):
            want = one(f"SELECT count(*) + 1 FROM {n_src}")[0]
            run.check(f"load.rows.{dim}", written[dim] == want, f"{dim} rows {written[dim]} vs {want} (sources + default member)")

        # accounting identities
        bad = one("""SELECT count(*) FROM (SELECT numero_asiento,
                        sum(monto) FILTER (WHERE tipo_movimiento='DEBITO') d,
                        sum(monto) FILTER (WHERE tipo_movimiento='CREDITO') c
                     FROM fact_transacciones GROUP BY numero_asiento) WHERE d IS DISTINCT FROM c""")[0]
        run.check("load.double_entry.per_entry", bad == 0, f"{bad} journal entries with debits != credits")
        d, c = one("""SELECT sum(monto) FILTER (WHERE tipo_movimiento='DEBITO'),
                             sum(monto) FILTER (WHERE tipo_movimiento='CREDITO') FROM fact_transacciones""")
        run.check("load.double_entry.total", d == c, f"total debits {d} != credits {c}")
        bad = one("SELECT count(*) FROM fact_balance WHERE saldo_final <> saldo_inicial + movimiento_neto")[0]
        run.check("load.balance.roll_forward", bad == 0, f"{bad} fact_balance rows with saldo_final != saldo_inicial + movimiento_neto")
        bad = one("""SELECT count(*) FROM (SELECT saldo_inicial,
                        lag(saldo_final, 1, 0) OVER (PARTITION BY cuenta_id ORDER BY periodo_id) prev
                     FROM fact_balance) WHERE saldo_inicial <> prev""")[0]
        run.check("load.balance.opening", bad == 0, f"{bad} fact_balance openings differ from the prior month's close")
        bad = one("""SELECT count(*) FROM fact_estado_resultados
                     WHERE utilidad_bruta <> ingresos - costos OR utilidad_neta <> utilidad_bruta - gastos""")[0]
        run.check("load.pnl_identity", bad == 0, f"{bad} fact_estado_resultados rows break utilidad = ingresos - costos (- gastos)")

        # keys
        dup = one("SELECT count(*) - count(DISTINCT venta_id) FROM fact_ventas")[0]
        run.check("load.venta_id_unique", dup == 0, f"{dup} duplicate venta_id")
        for fact, col, dim, key in (
            ("fact_ventas", "cliente_id", "dim_cliente", "cliente_id"),
            ("fact_ventas", "producto_id", "dim_producto", "producto_id"),
            ("fact_ventas", "almacen_id", "dim_almacen", "almacen_id"),
            ("fact_ventas", "fecha_id", "dim_fecha", "fecha_id"),
            ("fact_transacciones", "fecha_id", "dim_fecha", "fecha_id"),
            ("fact_transacciones", "cuenta_id", "dim_cuenta_contable", "codigo"),
            ("fact_balance", "cuenta_id", "dim_cuenta_contable", "codigo"),
            ("fact_inventario", "usuario_externo_id", "dim_usuario", "usuario_externo_id"),
            ("fact_inventario", "fecha_id", "dim_fecha", "fecha_id"),
        ):
            orphans = one(f"SELECT count(*) FROM {fact} f WHERE NOT EXISTS (SELECT 1 FROM {dim} d WHERE d.{key} = f.{col})")[0]
            run.check(f"load.fk.{fact}.{col}", orphans == 0, f"{orphans} {fact}.{col} values missing from {dim}.{key}")

        # the data-quality pass saw what DuckDB sees
        rep = self.dq.get("report", {})
        n = written["fact_ventas"]
        run.check("load.dq.rows", rep.get("rows_in") == n and rep.get("rows_deduped") == 0,
                  f"validate_and_populate rows {rep.get('rows_in')}/{rep.get('rows_deduped')} vs {n}/0")
        run.check("load.dq.fk", len(rep.get("fk", {})) == 3 and all(v.get("orphans") == 0 for v in rep["fk"].values()),
                  f"validate_and_populate fk report {rep.get('fk')}")
        prof = self.dq.get("profile", {}).get("venta_id", {})
        run.check("load.dq.profile", prof.get("n") == n and prof.get("n_distinct") == n, f"profile venta_id {prof} vs {n} rows")
        run.counts["validation.rows_checked"] = float(
            (rep.get("rows_in") or 0) + sum(p["n"] for p in self.dq.get("profile", {}).values())
        )

        # analyst queries against DuckDB over the same parquet
        for name, sql in QUERIES.items():
            want = _rows(con.execute(sql).fetchall())
            got = self.answers.get(name)
            run.check(f"query.{name}", _norm(got) == _norm(want), f"{name}: spark {got and got[:3]} vs duckdb {want[:3]}")

        # the increments, recomputed from the base facts and the increment sources
        sales_now = ", ".join(f"'{f}'" for f in snapshot_files(self._tx("ventas")))
        daily_now = ", ".join(f"'{f}'" for f in snapshot_files(self._tx("ventas_diarias")))
        custs_now = ", ".join(f"'{f}'" for f in snapshot_files(self._tx("clientes_scd2")))
        cancelled = ", ".join(str(k) for inc in self.increments for k in inc["cancelled"])
        con.execute(f"""CREATE VIEW expected_sales AS
            SELECT orden_id, fecha_id, total FROM fact_ventas WHERE orden_id NOT IN ({cancelled})
            UNION ALL
            SELECT orden_id, fecha_id, total FROM ({_expected_ventas('inc_orders', 'inc_lineitem')})""")
        base, appended = written["fact_ventas"], one(f"SELECT count(*) FROM ({_expected_ventas('inc_orders', 'inc_lineitem')})")[0]
        deleted = one(f"SELECT count(*) FROM fact_ventas WHERE orden_id IN ({cancelled})")[0]
        run.counts["incremental.rows_folded"] = float(appended + deleted)
        got = self.answers.get("snapshot_count", [(None,)])[0][0]
        run.check("query.snapshot_count", got == base + appended - deleted,
                  f"snapshot rows {got} vs base {base} + appended {appended} - deleted {deleted}")
        got = one(f"SELECT count(*), sum(total) FROM read_parquet([{sales_now}])")
        want = one("SELECT count(*), sum(total) FROM expected_sales")
        run.check("append.sales_snapshot", got == want, f"sales snapshot files {got} vs expected {want}")
        want = _rows(con.execute("SELECT fecha_id, sum(total), count(*) FROM expected_sales GROUP BY 1 ORDER BY 1").fetchall())
        got = _rows(con.execute(f"SELECT fecha_id, total, n FROM read_parquet([{daily_now}]) ORDER BY 1").fetchall())
        run.check("append.daily_sales", got == want, f"maintained daily sales ({len(got)} days) differ from a recompute ({len(want)} days)")
        want = _rows(con.execute("SELECT count(*), sum(total) FROM fact_ventas").fetchall())
        run.check("query.version0", _norm(self.answers.get("version0")) == _norm(want),
                  f"time travel to version 0 {self.answers.get('version0')} vs base {want}")
        bad = one(f"""SELECT count(*) FROM (SELECT cliente_externo_id, count(*) FILTER (WHERE is_current) cur
                      FROM read_parquet([{custs_now}]) GROUP BY 1) WHERE cur <> 1""")[0]
        run.check("append.scd2_one_current", bad == 0, f"{bad} customers without exactly one current SCD2 row")
        bad = one(f"""SELECT count(*) FROM (SELECT valid_from, valid_to,
                          lead(valid_from) OVER (PARTITION BY cliente_externo_id ORDER BY valid_from) nxt
                      FROM read_parquet([{custs_now}]))
                      WHERE valid_from >= valid_to OR (nxt IS NOT NULL AND valid_to > nxt)""")[0]
        run.check("append.scd2_validity", bad == 0, f"{bad} SCD2 rows with empty or overlapping validity")
        updates = " UNION ALL ".join(
            f"SELECT c_custkey, c_mktsegment, {i + 1} ord FROM read_parquet('{increment_dir(self.paths, i)}/customer.parquet')"
            for i in range(INCREMENTS)
        )
        want = _rows(con.execute(f"""SELECT seg, count(*) FROM (
                SELECT c_custkey, arg_max(c_mktsegment, ord) seg FROM (
                    SELECT c_custkey, c_mktsegment, 0 ord FROM src_customer UNION ALL {updates})
                GROUP BY 1) GROUP BY 1 ORDER BY 1""").fetchall())
        run.check("query.scd2_current", self.answers.get("scd2_current") == want, f"scd2 current segments {self.answers.get('scd2_current')} vs {want}")
        want = _rows(con.execute("""SELECT fecha_id, sum(total) t, count(*) FROM expected_sales GROUP BY 1
                                     ORDER BY t DESC, fecha_id LIMIT 5""").fetchall())
        run.check("query.daily_top", self.answers.get("daily_top") == want, f"daily top {self.answers.get('daily_top')} vs {want}")
        con.close()
        run.verified = True


def _norm(rows):
    if rows is None:
        return None
    return [tuple(Decimal(v) if isinstance(v, (int, Decimal)) and not isinstance(v, bool) else v for v in r) for r in rows]


def _expected_ventas(orders: str, lineitem: str) -> str:
    """fact_ventas rows (key, date, measures) recomputed from the sources: one
    survivor per (order, line) picked by the full row order, inner join on
    dated orders, the program's half-up rounding formula."""
    return f"""
        WITH l AS (SELECT *, row_number() OVER (PARTITION BY l_orderkey, l_linenumber
                       ORDER BY l_partkey, l_suppkey, l_quantity, l_extendedprice, l_discount, l_tax,
                                l_returnflag, l_linestatus, l_shipdate) rn
                   FROM {lineitem} WHERE l_partkey IS NOT NULL AND l_quantity > 0)
        SELECT l_orderkey AS orden_id,
               CAST(strftime(o_orderdate, '%Y%m%d') AS INTEGER) AS fecha_id,
               CAST(floor(l_extendedprice*100+0.5)/100 AS DECIMAL(15,2))
                 - CAST(floor(l_extendedprice*l_discount*100+0.5)/100 AS DECIMAL(15,2)) AS total,
               CAST(floor(l_extendedprice*l_discount*100+0.5)/100 AS DECIMAL(15,2)) AS descuento,
               CAST(floor(l_quantity*100+0.5)/100 AS DECIMAL(10,2)) AS cantidad
        FROM l JOIN (SELECT o_orderkey, o_orderdate FROM {orders} WHERE o_orderdate IS NOT NULL) o
          ON l.l_orderkey = o.o_orderkey
        WHERE rn = 1"""
