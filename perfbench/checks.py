"""Correctness of every operation, computed apart from the engine.

Rows are compared with DuckDB running ``__spark_entry__.oracle_sql()`` over
the same parquet files, canonicalised by the oracle-parity test's own
helpers.  The checks run after the timed window.
"""

from __future__ import annotations

import re
from typing import Any

import duckdb

from concept_multi_db_query_engine_spark import testdata
from concept_multi_db_query_engine_spark.masking import mask_value
from tests.test_dialect_execution import _canon_val
from tests.test_oracle_parity import TABLES, canon, rows_of_duck, rows_of_spark

# declared engine of each test database in the benchmark's engine config
DB_DIALECTS = {"warehouse": "postgres", "lake": "clickhouse"}
CROSS_DB_DIALECT = "trino"
# masking function of each column, by table id then API name; ``full`` is
# the engine's default
MASKING_FNS = {t["id"]: {c["apiName"]: c.get("maskingFn", "full")
                         for c in t["columns"]}
               for t in testdata.METADATA["tables"]}


class _Rows:
    """The two DataFrame attributes ``rows_of_spark`` reads, over rows that
    were already collected."""

    def __init__(self, columns: list[str], rows: list[Any]) -> None:
        self.columns = columns
        self._rows = rows

    def collect(self) -> list[Any]:
        return self._rows


def _placeholders(sql: str, dialect: str) -> int:
    text = re.sub(r"'(?:[^']|'')*'", "''", sql)  # drop string literals
    if dialect == "postgres":
        return len(set(re.findall(r"\$(\d+)", text)))
    if dialect == "clickhouse":
        return len(set(re.findall(r"\{p(\d+):", text)))
    return text.count("?")


class Oracle:
    def __init__(self, sf_dir: str, oracle_sql: dict[str, str]) -> None:
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{sf_dir}/{t}.parquet')")
        self._sql = oracle_sql
        self._rows: dict[str, tuple] = {}
        self._pg: dict[tuple, bool | None] = {}
        self._orders: dict[tuple, dict] = {}
        self.pg_unrunnable: set[str] = set()

    def rows(self, name: str) -> tuple[list, list[str]]:
        if name not in self._rows:
            self._rows[name] = rows_of_duck(self.con, self._sql[name])
        return self._rows[name]

    def check(self, op, result) -> bool:
        if op.kind == "execute":
            return self.data(op.name, result)
        if op.kind == "count":
            return self.count(op.name, result)
        if op.kind == "compile":
            return self.compile(op.name, op.definition["from"], result)
        if op.kind == "lookup":
            return self.lookup(op.definition, result)
        return self.operator(op.name, *result)  # (columns, rows)

    # -- per operation kind -------------------------------------------------

    def data(self, name: str, result: dict) -> bool:
        """An ``execute`` result (in process or decoded from HTTP JSON).
        ``decimal``-typed columns (avg) are surfaced as Decimal, or as their
        string over HTTP; both hold the engine's double exactly."""
        cols = [c["apiName"] for c in result["meta"]["columns"]]
        dec = [c["apiName"] for c in result["meta"]["columns"]
               if c["type"] == "decimal"]
        rows = result["data"]
        if dec:
            rows = [{**r, **{c: None if r[c] is None else float(r[c])
                             for c in dec}} for r in rows]
        return rows_of_spark(_Rows(cols, rows)) == self.rows(name)

    def count(self, name: str, result: dict) -> bool:
        return result.get("kind") == "count" and (
            result["count"] == len(self.rows(name)[0]))

    def lookup(self, definition: dict, result: dict) -> bool:
        """Served by the cache path, rows equal to DuckDB's
        ``WHERE o_orderkey IN (...)`` in the requested id order."""
        cols = definition["columns"]
        if tuple(cols) not in self._orders:
            key = cols.index("o_orderkey")
            self._orders[tuple(cols)] = {
                r[key]: tuple(canon(v) for v in r)
                for r in self.con.execute(
                    f"SELECT {', '.join(cols)} FROM orders").fetchall()}
        by_key = self._orders[tuple(cols)]
        got = [tuple(canon(r[c]) for c in cols) for r in result["data"]]
        want = [by_key[i] for i in definition["byIds"] if i in by_key]
        return result["meta"]["strategy"] == "cache" and got == want

    def compile(self, name: str, table: str, result: dict) -> bool:
        """kind ``sql``, the dialect of the target database's engine, one
        param per placeholder; Postgres text DuckDB can run must return the
        oracle's rows once the columns meta marks masked are masked."""
        meta = result.get("meta", {})
        want = DB_DIALECTS.get(meta.get("targetDatabase"), CROSS_DB_DIALECT)
        if (result.get("kind") != "sql" or meta.get("dialect") != want
                or _placeholders(result["sql"], want)
                != len(result["params"])):
            return False
        if want != "postgres":
            return True
        key = (result["sql"], repr(result["params"]))
        if key not in self._pg:
            self._pg[key] = self._pg_matches(name, table, result)
        return self._pg[key] is not False

    def _pg_matches(self, name: str, table: str,
                    result: dict) -> bool | None:
        try:
            cur = self.con.execute(result["sql"], result["params"])
        except duckdb.Error:
            # Postgres syntax DuckDB does not speak; checked by the other
            # properties only
            self.pg_unrunnable.add(name)
            return None
        cols = [d[0] for d in cur.description]
        # sql-only text never masks: the caller masks the rows it gets, as
        # meta says (the repo's dialect round-trip tests do the same)
        meta = {c["apiName"]: c for c in result["meta"]["columns"]}
        fns = MASKING_FNS[table]
        masked = [(i, fns.get(c, "full"), meta[c]["type"])
                  for i, c in enumerate(cols) if meta[c].get("masked")]
        got = []
        for r in cur.fetchall():
            r = list(r)
            for i, fn, typ in masked:
                r[i] = mask_value(r[i], fn, typ)
            got.append(tuple(_canon_val(v) for v in r))
        got.sort(key=repr)
        want_rows, want_cols = self.rows(name)
        if sorted(cols) != want_cols:
            return False
        order = [want_cols.index(c) for c in cols]
        want = sorted((tuple(_canon_val(r[i]) for i in order)
                       for r in want_rows), key=repr)
        return got == want

    def operator(self, name: str, columns: list[str], rows: list) -> bool:
        return rows_of_spark(_Rows(columns, rows)) == self.rows(name)
