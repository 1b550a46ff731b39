"""The benchmark's workloads and their correctness checks.

A workload is a list of ops per pass. Each op calls the engine's public
surface only: a registry query ``fn(spark, sf_dir)``, a ``VersionedTable``
verb, or a streaming lifecycle (itself a registry query). ``kind`` says
which latency family the op reports into: ``read``, ``write`` or
``stream``.

Registry queries are checked against their DuckDB oracles with the
normalisation and hash of ``tools/check_oracle.py``. The ingest table is
checked against a DuckDB replay of the same seeded batch files.
"""

from __future__ import annotations

import importlib.util
import os
import random
from collections.abc import Callable
from dataclasses import dataclass

MART = [
    "flagship_region_month_revenue",
    "a1_pricing_summary",
    "j1_inner_join_facts",
    "w1_ranking",
    "o4_exact_dedup",
    "x_market_basket",
]
CORPUS = [
    "l1_exact_dedup_documents",
    "l2_neardup_clusters",
    "l3_topk_cosine",
    "l4_perplexity_filter",
    "u3_grouped_map_normalize",
]
STREAMS = ["t2_tumbling_window"]

ORDER_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
    "o_orderpriority",
]
COLS = ", ".join(ORDER_COLS)


def load_check_oracle():
    """``tools/check_oracle.py`` as a module (tools/ is not a package)."""
    path = os.path.join("tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@dataclass
class Op:
    name: str
    kind: str  # read | write | stream
    run: Callable  # () -> DataFrame to force, or None for a verb
    check: Callable | None = None  # (df, rows) -> (ok, detail); run untimed
    before: Callable | None = None  # untimed preparation (batch files)
    collect: bool = False  # exec collects the rows, which check then gets


class Checker:
    """Compares Spark output with DuckDB, via check_oracle's row hash."""

    def __init__(self, data_dir: str, tables: list[str]):
        import duckdb

        self.co = load_check_oracle()
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data_dir}/{t}.parquet')"
            )

    def same(self, df, sql: str, rows=None) -> tuple[bool, str]:
        """Row count, sorted column names and order-insensitive value hash
        of ``df`` (or of its already collected ``rows``) against ``sql``."""
        scols = df.columns
        srows = [tuple(r) for r in (df.collect() if rows is None else rows)]
        res = self.con.execute(sql)
        ocols, orows = [d[0] for d in res.description], res.fetchall()
        if len(srows) != len(orows):
            return False, f"rowcount spark={len(srows)} duckdb={len(orows)}"
        if sorted(scols) != sorted(ocols):
            return False, f"schema spark={sorted(scols)} duckdb={sorted(ocols)}"
        sh = self.co.value_hash(scols, srows)
        oh = self.co.value_hash(ocols, orows)
        if sh != oh:
            return False, f"hash spark={sh} duckdb={oh}"
        return True, f"pass {len(srows)} rows"

    def query(self, q, df) -> tuple[bool, str]:
        if q.oracle is None:
            n = len(df.collect())
            return n > 0, f"rows-only {n} rows"
        return self.same(df, q.oracle)


class QueryWorkload:
    """Registry queries in a seeded order per pass (``mart``, ``corpus``)."""

    def __init__(self, name, names, spark, data_dir, seed, checker):
        from retail_datalakehouse_spark import queries as Q

        self.name = name
        self.spark, self.data_dir = spark, data_dir
        self.registry = Q.all_queries()
        self.names = list(names)
        self.rng = random.Random(seed)
        self.checker = checker

    def ops(self, verify: bool) -> list[Op]:
        """The next pass's ops; ``verify`` attaches the output checks."""
        order = self.names[:]
        self.rng.shuffle(order)
        return [self._op(n, verify) for n in order]

    def _op(self, name: str, verify: bool) -> Op:
        q = self.registry[name]
        return Op(
            name,
            "stream" if name in STREAMS else "read",
            lambda: q.fn(self.spark, self.data_dir),
            (lambda df, _rows: self.checker.query(q, df)) if verify else None,
        )

    def final_checks(self) -> list[tuple[str, bool, str]]:
        return []

    def end_metrics(self) -> dict:
        return {}

    def table_bytes(self) -> int:
        return 0


class IngestWorkload(QueryWorkload):
    """Medallion write path on one ``VersionedTable`` that lives for the run.

    One pass is one refresh cycle: append a batch of new orders, delete a
    key set merge-on-read, MERGE a batch of corrected rows (copy-on-write,
    which also folds the pending tombstones), optimize incrementally, and
    update a key set merge-on-read. An aggregate of the current snapshot is
    read between the delete and the merge, while the tombstones are
    pending; the pass ends with an aggregate of its delete_mor version,
    the change feed since the pass began, and the
    ``t2_tumbling_window`` streaming lifecycle.

    Every batch is a seeded parquet file written just before its verb from
    the replay's current state; DuckDB applies the same files to give the
    expected snapshot of every version.
    """

    def __init__(self, spark, data_dir, seed, checker, work_dir):
        super().__init__("ingest", STREAMS, spark, data_dir, seed, checker)
        from pyspark.sql import functions as F

        from retail_datalakehouse_spark.catalog import load_table, normalize_ntz
        from retail_datalakehouse_spark.sources.table_format import VersionedTable

        self.F, self.normalize_ntz = F, normalize_ntz
        self.work_dir = work_dir
        self.batch_dir = os.path.join(work_dir, "batches")
        os.makedirs(self.batch_dir)
        self.con = checker.con
        self.n_orders = self.con.execute("SELECT COUNT(*) FROM orders").fetchone()[0]
        self.batch_rows = max(20, self.n_orders // 60)
        self.next_key = int(self.n_orders * 0.6)  # orders held back for appends
        self.new_key = self.n_orders * 10  # keys beyond every generated order
        self.pass_no = 0
        self.pass_batch_bytes: dict[int, int] = {}
        self.versions: list[int] = []
        self.table_dir = os.path.join(work_dir, "table")
        self.table = VersionedTable(
            spark, self.table_dir, record_cdf=True, cdf_keys=["o_orderkey"]
        )
        v = self.table.overwrite(
            load_table(spark, data_dir, "orders").filter(F.col("o_orderkey") < self.next_key)
        )
        self.con.execute(
            f"CREATE TABLE cur AS SELECT {COLS} FROM orders "
            f"WHERE o_orderkey < {self.next_key}"
        )
        self._snapshot(v)

    # ---------------------------------------------------------- replay side

    def _snapshot(self, version: int) -> None:
        self.con.execute(f"CREATE OR REPLACE TABLE v{version} AS SELECT * FROM cur")
        self.versions.append(version)

    def _commit(self, version, *apply_sql: str) -> None:
        """Apply a committed verb to the replay and snapshot its version."""
        if isinstance(version, dict):  # optimize_incremental's report
            version = version["version"]
        for sql in apply_sql:
            self.con.execute(sql)
        if version != self.versions[-1]:
            self._snapshot(version)

    def _batch(self, tag: str, sql: str) -> str:
        path = os.path.join(self.batch_dir, f"{tag}.parquet")
        self.con.execute(f"COPY ({sql}) TO '{path}' (FORMAT parquet)")
        i = self.pass_no - 1
        self.pass_batch_bytes[i] = self.pass_batch_bytes.get(i, 0) + os.path.getsize(path)
        return path

    def _keys(self, per_mille: int) -> str:
        """A seeded sample of live keys, as a SQL list."""
        keys = [r[0] for r in self.con.execute(
            "SELECT o_orderkey FROM cur ORDER BY o_orderkey").fetchall()]
        sample = sorted(self.rng.sample(keys, max(1, len(keys) * per_mille // 1000)))
        return ", ".join(map(str, sample))

    def _append_sql(self) -> str:
        lo = self.next_key
        if lo < self.n_orders:
            self.next_key = min(lo + self.batch_rows, self.n_orders)
            return f"SELECT {COLS} FROM orders WHERE o_orderkey >= {lo} AND o_orderkey < {self.next_key}"
        base, self.new_key = self.new_key, self.new_key + self.batch_rows
        return (f"SELECT {COLS.replace('o_orderkey', f'o_orderkey + {base} AS o_orderkey', 1)} "
                f"FROM orders WHERE o_orderkey < {self.batch_rows}")

    def _corrections_sql(self) -> str:
        """Corrected prices and statuses for 1% of live keys, plus five new
        rows: the MERGE batch, like the reference's updated orders file."""
        cents = self.rng.randint(1, 99) / 100.0
        keys = self._keys(10)
        base, self.new_key = self.new_key, self.new_key + 5
        return f"""
            SELECT o_orderkey, o_custkey, 'F' AS o_orderstatus,
                   o_totalprice + {cents} AS o_totalprice, o_orderdate, o_orderpriority
            FROM cur WHERE o_orderkey IN ({keys})
            UNION ALL
            SELECT {COLS.replace('o_orderkey', f'o_orderkey + {base} AS o_orderkey', 1)}
            FROM orders WHERE o_orderkey < 5"""

    def _read(self, path: str):
        return self.normalize_ntz(self.spark.read.parquet(path).select(*ORDER_COLS))

    # ----------------------------------------------------------------- ops

    def ops(self, verify: bool) -> list[Op]:
        i, F, t = self.pass_no, self.F, self.table
        self.pass_no += 1
        v_start = self.versions[-1]
        batch: dict[str, str] = {}

        def prepare(key: str, make) -> Callable:
            return lambda: batch.__setitem__(key, make())

        def append():
            self._commit(t.append(self._read(batch["append"])),
                         f"INSERT INTO cur SELECT * FROM '{batch['append']}'")

        def delete():
            cond = f"o_orderkey IN ({batch['delete']})"
            self._commit(t.delete_mor(F.expr(cond), keys=["o_orderkey"]),
                         f"DELETE FROM cur WHERE {cond}")
            batch["deleted_version"] = self.versions[-1]

        def merge():
            path = batch["merge"]
            self._commit(t.merge(self._read(path), keys=["o_orderkey"]),
                         f"DELETE FROM cur WHERE o_orderkey IN (SELECT o_orderkey FROM '{path}')",
                         f"INSERT INTO cur SELECT * FROM '{path}'")

        def update():
            cond = f"o_orderkey IN ({batch['update']})"
            sets = {"o_totalprice": "o_totalprice + 7.0", "o_orderpriority": "'1-URGENT'"}
            self._commit(t.update_mor(cond, sets),
                         "UPDATE cur SET " + ", ".join(f"{c} = {e}" for c, e in sets.items())
                         + f" WHERE {cond}")

        ops = [
            Op("append", "write", append,
               before=prepare("append", lambda: self._batch(f"append-{i}", self._append_sql()))),
            Op("delete_mor", "write", delete, before=prepare("delete", lambda: self._keys(5))),
            Op("read", "read", lambda: _agg(F, t.read()),
               lambda df, rows: self.checker.same(df, _agg_sql("cur"), rows), collect=True),
            Op("merge", "write", merge,
               before=prepare("merge", lambda: self._batch(f"merge-{i}", self._corrections_sql()))),
            Op("optimize_incremental", "write",
               lambda: self._commit(t.optimize_incremental("o_orderkey"))),
            Op("update_mor", "write", update, before=prepare("update", lambda: self._keys(5))),
            # time travel to this pass's delete_mor version, so every pass,
            # the cold one too, reads a version of the same shape
            # (merge-on-read tombstones pending), a few commits back
            Op("read_version", "read",
               lambda: _agg(F, t.read_version(batch["deleted_version"])),
               lambda df, rows: self.checker.same(
                   df, _agg_sql(f"v{batch['deleted_version']}"), rows),
               collect=True),
            Op("changes_feed", "read", lambda: t.changes_feed(v_start, self.versions[-1]),
               lambda df, rows: self.checker.same(
                   df, _net_diff_sql(f"v{v_start}", f"v{self.versions[-1]}"), rows),
               collect=True),
        ]
        return ops + super().ops(verify)

    def table_bytes(self) -> int:
        return _du(self.table_dir)

    def final_checks(self) -> list[tuple[str, bool, str]]:
        df = self.table.read().select(*ORDER_COLS)
        ok, detail = self.checker.same(df, f"SELECT {COLS} FROM cur")
        return [("final_snapshot", ok, detail)]

    def end_metrics(self) -> dict:
        """Space amplification: bytes under the table over the bytes of its
        current snapshot rewritten once as parquet."""
        out = os.path.join(self.work_dir, "snapshot_rewrite")
        self.table.read().coalesce(1).write.mode("overwrite").parquet(out)
        return {
            "space_amp": _du(self.table_dir) / _du(out),
            "manifest_kb": _du(os.path.join(self.table_dir, "_manifest")) / 1024.0,
            "files_live": _files_live(self.table),
        }


def _agg(F, df):
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(25,2)")).cast("double").alias("revenue"),
        F.max("o_orderdate").alias("last_order"),
    )


def _agg_sql(table: str) -> str:
    return (
        "SELECT o_orderstatus, COUNT(*) AS n, CAST(SUM(CAST(o_totalprice AS "
        "DECIMAL(25,2))) AS DOUBLE) AS revenue, MAX(o_orderdate) AS last_order "
        f"FROM {table} GROUP BY 1"
    )


def _net_diff_sql(a: str, b: str) -> str:
    vals = [c for c in ORDER_COLS if c != "o_orderkey"]
    differs = " OR ".join(f"a.{c} IS DISTINCT FROM b.{c}" for c in vals)
    cols = lambda p: ", ".join(f"{p}.{c}" for c in ORDER_COLS)  # noqa: E731
    return f"""
        SELECT {cols('b')}, 'insert' AS _change_type FROM {b} b
        WHERE b.o_orderkey NOT IN (SELECT o_orderkey FROM {a})
        UNION ALL
        SELECT {cols('a')}, 'delete' FROM {a} a
        WHERE a.o_orderkey NOT IN (SELECT o_orderkey FROM {b})
        UNION ALL
        SELECT {cols('a')}, 'update_preimage' FROM {a} a JOIN {b} b USING (o_orderkey)
        WHERE {differs}
        UNION ALL
        SELECT {cols('b')}, 'update_postimage' FROM {a} a JOIN {b} b USING (o_orderkey)
        WHERE {differs}"""


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
    )


def _files_live(table) -> int:
    from pyspark.sql import functions as F

    v = table.current_version()
    row = table.snapshots().filter(F.col("version") == v).first()
    return int(row["n_files"])
