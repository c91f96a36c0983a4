"""Correctness gate: compare workload outputs with the registry's DuckDB
oracles over the same generated inputs. Runs outside the timed region.

Two compares, both strict and order-insensitive:

- ``value_rows`` is the compare of ``scripts/driver_sim.py``: columns
  sorted by name, datetimes normalised to ns, every row rendered as
  ``"|".join(str(v))`` and the sorted row lists compared. Used for the
  small outputs (checks, summaries, reports, top-k tables).
- ``table_diff`` compares a Spark-written parquet output with an oracle
  inside DuckDB by a symmetric ``EXCEPT ALL`` over the same spec-shaped
  columns. Used for the marts, whose ~10^5 rows would take seconds to
  stringify in Python on every operation.

The medallion workload calls the operators directly, so its outputs are
the pipeline's own full-precision values. The registry column spec
(``sql_select``: the rounding and casts every oracle applies) is put on
them in DuckDB (``compare_spec``), so oracle and output are rounded by
the same function. The registry's Spark-side ``shape`` rounds with
Spark's ``round`` (HALF_UP on the double's shortest decimal form) while
DuckDB's ``ROUND`` rounds the binary value; the two disagree on values
that sit exactly on a 5th-decimal tie, such as a per-device average of
2-decimal readings (37.76275).

Each compare returns a ``Diff``: rows expected, rows matched and rows the
output has beyond the oracle. ``ok`` needs all three to line up.
"""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass

import duckdb
import pandas as pd

from iot_temp_data_pipeline_spark.plans.registry import sql_select

TABLES = ("events", "documents", "embeddings")


@dataclass
class Diff:
    name: str
    expected: int
    matched: int
    extra: int
    columns_ok: bool = True

    @property
    def ok(self) -> bool:
        return self.columns_ok and self.matched == self.expected and self.extra == 0


def connect(in_dir: str, threads: int, tmp_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect(config={"threads": threads, "temp_directory": tmp_dir})
    for t in TABLES:
        path = os.path.join(in_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def value_rows(pdf: pd.DataFrame) -> tuple[list[str], list[str]]:
    """driver_sim's row rendering: (sorted column names, sorted rows)."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols].copy()
    for c in cols:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("datetime64[ns]")
    rows = sorted(
        "|".join(str(v) for v in row) for row in pdf.itertuples(index=False, name=None)
    )
    return cols, rows


def compare_rows(name: str, got: pd.DataFrame, want: tuple[list[str], list[str]]) -> Diff:
    gcols, grows = value_rows(got)
    wcols, wrows = want
    matched = sum((Counter(grows) & Counter(wrows)).values())
    return Diff(name, len(wrows), matched, len(grows) - matched, gcols == wcols)


def compare_spec(
    con: duckdb.DuckDBPyConnection,
    name: str,
    got: pd.DataFrame,
    spec: list[tuple[str, str]],
    want: tuple[list[str], list[str]],
) -> Diff:
    """``compare_rows`` after applying the registry column spec to
    ``got`` in DuckDB, the way the oracle applies it."""
    con.register("perfbench_got", got)
    try:
        shaped = con.sql(sql_select(spec, "perfbench_got")).df()
    finally:
        con.unregister("perfbench_got")
    return compare_rows(name, shaped, want)


def table_diff(
    con: duckdb.DuckDBPyConnection, name: str, got_sql: str, want_sql: str
) -> Diff:
    """Symmetric EXCEPT ALL of two queries with the same column spec."""
    got_cols = [d[0] for d in con.sql(got_sql).limit(0).description]
    want_cols = [d[0] for d in con.sql(want_sql).limit(0).description]
    want_n = con.sql(f"SELECT count(*) FROM ({want_sql})").fetchone()[0]
    if sorted(got_cols) != sorted(want_cols):
        return Diff(name, want_n, 0, 0, False)
    cols = ", ".join(f'"{c}"' for c in sorted(want_cols))
    missing = con.sql(
        f"SELECT count(*) FROM (SELECT {cols} FROM ({want_sql}) EXCEPT ALL "
        f"SELECT {cols} FROM ({got_sql}))"
    ).fetchone()[0]
    extra = con.sql(
        f"SELECT count(*) FROM (SELECT {cols} FROM ({got_sql}) EXCEPT ALL "
        f"SELECT {cols} FROM ({want_sql}))"
    ).fetchone()[0]
    return Diff(name, want_n, want_n - missing, extra)
