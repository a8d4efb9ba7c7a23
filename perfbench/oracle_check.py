"""DuckDB oracle for the search workload.

Answers come from ``tantivy_spark.oracle.OracleBuilder``, unchanged except
for one thing: its shared base CTEs (tokenized documents, positions,
collection statistics) are materialized once as DuckDB tables instead of
being recomputed inside every statement.  The per-query SQL is
OracleBuilder's own text with that shared prefix removed.  Runs outside the
timed loop.
"""

from __future__ import annotations

import re


class Oracle:
    def __init__(self, corpus_dir: str, n_segments: int):
        import duckdb

        from tantivy_spark.oracle import OracleBuilder

        self.ob = OracleBuilder(table="documents", id_col="doc_id",
                                text_col="text", n_segments=n_segments)
        self.con = duckdb.connect()
        self.con.sql(f"CREATE TABLE documents AS SELECT doc_id, text "
                     f"FROM read_parquet('{corpus_dir}/*.parquet')")
        for cte in self.ob._base_ctes(True):
            m = re.fullmatch(r"(\w+) AS \((.*)\)", cte, re.S)
            self.con.sql(f"CREATE TABLE {m.group(1)} AS {m.group(2)}")
        self._cache: dict[tuple, object] = {}

    def _strip_base(self, sql: str, q) -> str:
        base = self.ob._base_ctes(self.ob._needs_positions(q))
        prefix = "WITH " + ",\n".join(base) + ",\n"
        if not sql.startswith(prefix):
            raise RuntimeError("oracle SQL no longer starts with its base CTEs")
        return "WITH " + sql[len(prefix):]

    def topk(self, q, k: int) -> list[tuple[int, int, float]]:
        """[(rank, doc_id, score rounded to 4 decimals)]"""
        key = ("topk", repr(q), k)
        if key not in self._cache:
            sql = self._strip_base(self.ob.topk_sql(q, k=k), q)
            self._cache[key] = [(int(r), int(d), float(s))
                                for r, d, s in self.con.sql(sql).fetchall()]
        return self._cache[key]

    def count(self, q) -> int:
        key = ("count", repr(q))
        if key not in self._cache:
            sql = self._strip_base(self.ob.count_sql(q), q)
            self._cache[key] = int(self.con.sql(sql).fetchall()[0][0])
        return self._cache[key]

    def close(self) -> None:
        self.con.close()
