"""Output checks: every result the benchmark times is compared, outside the
timed region, with an independent DuckDB recomputation.

Generated workloads are recomputed from the same closed-form inputs (the
``derive`` SQL text plus the planted-cluster formula); registry queries
are compared with their ``oracle_sql()`` entry, as ``jobs/verify_sf.py``
does. Floats are compared bitwise, as in the oracle parity suite.
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import numpy as np
import pandas as pd

import __spark_entry__ as entry
from geotrellis_contrib_spark import derive
from geotrellis_contrib_spark.functions import cells as C


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(df.columns)
    out = {}
    for c in cols:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            out[c] = s.astype(np.float64)
        elif pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("Int64")
        else:
            out[c] = s.astype(object)
    return (pd.DataFrame(out).sort_values(cols, na_position="last")
            .reset_index(drop=True))


def same(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal (floats bitwise), else what differs."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    a, b = _canon(got), _canon(want)
    if a.shape != b.shape:
        return f"shape {a.shape} != {b.shape}"
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]):
            av, bv = a[c].to_numpy(), b[c].to_numpy()
            nan = np.isnan(av) & np.isnan(bv)
            if not np.array_equal(av[~nan], bv[~nan]):
                return f"float column {c} differs"
        elif not a[c].equals(b[c]):
            return f"column {c} differs"
    return None


class Oracle:
    """DuckDB over the run's generated base tables."""

    def __init__(self, sf_dir: str, cache_dir: str, tmp_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        self.con.execute(f"SET temp_directory = '{tmp_dir}'")
        for t in derive.TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{sf_dir}/{t}.parquet')")
        self.cache_dir = cache_dir

    def close(self) -> None:
        self.con.close()

    def df(self, sql: str) -> pd.DataFrame:
        return self.con.execute(sql).fetch_df()

    def corpus_counts(self, off: int, n: int, zooms) -> pd.DataFrame:
        """Per-(poly, tile) doc counts of docs [off, off + n): the corpus
        anchors are ``derive.ANCHORS_SQL`` over those doc ids."""
        per_zoom = "\nUNION ALL\n".join(
            f"SELECT poly_id, {z} AS zoom, {C.sql_tile_col('lon', z)} AS col, "
            f"{C.sql_tile_row('lat', z)} AS row FROM hits" for z in zooms)
        anchors = derive.ANCHORS_SQL.replace(
            "FROM documents", f"FROM range({off}, {off + n}) t(doc_id)")
        assert anchors != derive.ANCHORS_SQL
        return self.df(f"""
{derive.cte('polygon_boxes')},
anchors AS ({anchors.strip()}),
hits AS (
  SELECT a.lon, a.lat, p.poly_id
  FROM anchors a JOIN polygon_boxes p
    ON a.lon >= p.xmin AND a.lon < p.xmax AND a.lat >= p.ymin AND a.lat < p.ymax
  WHERE a.lon IS NOT NULL)
SELECT poly_id, CAST(zoom AS INT) AS zoom, col, row,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM ({per_zoom}) t
GROUP BY 1, 2, 3, 4
""")

    def hot_counts(self, off: int, n: int, cx: float, cy: float) -> pd.DataFrame:
        """Per-polygon count and id sum of the planted points that fall in
        each box (the ``pip_join_hot`` oracle with a moved centre)."""
        return self.df(f"""
{derive.cte('polygon_boxes')},
pts AS (
  SELECT id AS doc_id,
    CASE WHEN id % 10 < 9
         THEN {cx!r} + CAST((id*9973+12345) % 100000 AS DOUBLE)/100000.0*0.4
         ELSE -180.0 + CAST((id*9973+12345) % 100000 AS DOUBLE)/100000.0*360.0
    END AS lon,
    CASE WHEN id % 10 < 9
         THEN {cy!r} + CAST((id*7919+54321) % 100000 AS DOUBLE)/100000.0*0.4
         ELSE -60.0 + CAST((id*7919+54321) % 100000 AS DOUBLE)/100000.0*120.0
    END AS lat
  FROM range({off}, {off + n}) t(id))
SELECT p.poly_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(a.doc_id) AS BIGINT) AS id_sum
FROM pts a JOIN polygon_boxes p
  ON a.lon >= p.xmin AND a.lon < p.xmax AND a.lat >= p.ymin AND a.lat < p.ymax
GROUP BY 1
""")

    def registry(self, name: str) -> pd.DataFrame:
        """``oracle_sql()[name]`` over the run's base tables."""
        return self.df(entry.oracle_sql()[name])

    def fixture_registry(self, name: str) -> pd.DataFrame:
        """``oracle_sql()[name]`` for a query over a built-in fixture: it
        reads no base table, so its result depends on the SQL text alone
        and is kept on disk under a hash of that text for later runs."""
        sql = entry.oracle_sql()[name]
        key = hashlib.sha256(sql.encode()).hexdigest()[:16]
        path = os.path.join(self.cache_dir, f"{name}-{key}.parquet")
        if not os.path.exists(path):
            os.makedirs(self.cache_dir, exist_ok=True)
            tmp = f"{path}.{os.getpid()}.tmp"
            self.con.execute(f"COPY ({sql}) TO '{tmp}' (FORMAT PARQUET)")
            os.replace(tmp, path)
        return self.df(f"SELECT * FROM read_parquet('{path}')")
