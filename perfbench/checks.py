"""Output checks, run outside the timed region.

- Oracle-backed queries are compared with their DuckDB oracle on the same
  corpus, in the canonical form the engine's oracle-parity test uses:
  columns sorted by name, floats as bit-exact hex, rows sorted as strings.
- Rows-only queries must return rows.
- Copied tables are read back and compared with their source by row count
  and an order-insensitive content hash, with pyarrow and pandas, so the
  check does not go through the engine it checks.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Canonical form of a result: columns sorted by name, cells as
    strings (floats bit-exact), rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None:
            return "<null>"
        if isinstance(v, float):
            return "<null>" if math.isnan(v) else v.hex()
        if isinstance(v, (list, tuple, np.ndarray)):
            raise ValueError("list-valued cell in an oracle-checked result")
        if hasattr(v, "isoformat"):
            return v.isoformat()
        if isinstance(v, bytes):
            return v.hex()
        return str(v)

    out = df.map(cell)
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def result_mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the two results are equal in canonical form, else why not."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    try:
        a, b = canon(got), canon(want)
    except ValueError as e:
        return str(e)
    if not a.equals(b):
        return f"values differ in {int((a != b).any(axis=1).sum())} rows"
    return None


class QueryChecker:
    """Checks one registered query's output against its oracle (or for
    rows), returning the number of result rows and the failure reason."""

    def __init__(self, corpus_dir: str, tables: tuple[str, ...]) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in tables:
            path = os.path.join(corpus_dir, f"{t}.parquet")
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def check(self, df, oracle_sql: str | None) -> tuple[int, str | None]:
        if oracle_sql is None:
            n = df.count()
            return n, None if n > 0 else "rows-only query returned no rows"
        got = df.toPandas()
        want = self.con.execute(oracle_sql).fetchdf()
        return len(got), result_mismatch(got, want)

    def close(self) -> None:
        self.con.close()


def _row_hashes(path: str) -> tuple[int, int]:
    """(rows, order-insensitive content hash) of a parquet file or dir."""
    pdf = pq.read_table(path).to_pandas()
    for c in pdf.columns:
        if pdf[c].dtype == object and len(pdf) and isinstance(pdf[c].iloc[0], np.ndarray):
            pdf[c] = pdf[c].map(lambda a: np.asarray(a, dtype=np.float32).tobytes())
        elif pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("datetime64[us]")
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    h = pd.util.hash_pandas_object(pdf, index=False).to_numpy(dtype=np.uint64)
    return len(pdf), int(h.sum(dtype=np.uint64))


class CopyChecker:
    """Compares copied tables with their source parquet files."""

    def __init__(self, corpus_dir: str) -> None:
        self.corpus_dir = corpus_dir
        self._src: dict[str, tuple[int, int]] = {}

    def source(self, table: str) -> tuple[int, int]:
        if table not in self._src:
            self._src[table] = _row_hashes(os.path.join(self.corpus_dir, f"{table}.parquet"))
        return self._src[table]

    def check(self, table: str, dst: str) -> str | None:
        want = self.source(table)
        try:
            got = _row_hashes(dst)
        except (OSError, ValueError) as e:
            return f"unreadable copy: {e}"
        if got[0] != want[0]:
            return f"rows {got[0]} != {want[0]}"
        if got[1] != want[1]:
            return "content hash differs"
        return None
