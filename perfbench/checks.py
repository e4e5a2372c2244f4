"""Output checks, run once per invocation outside the timed region.

Registered queries are compared with their DuckDB oracle over the same
fixture, canonicalised the way the package's verify sweep does it:
columns sorted by name, rows order-insensitive, floats rounded to 9
decimals, dates as ISO strings, and int/float/bool column classes
compared too.  A query without an oracle is compared with its row count
recorded in ``expected_rows.json``.  The pipelines are compared with
reference SQL that DuckDB recomputes from the generated inputs.
"""

from __future__ import annotations

import datetime
import json
import math
import os
from collections import Counter

import duckdb
import pandas as pd

EXPECTED_ROWS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected_rows.json")


def oracle_db(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per fixture table."""
    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        t = f.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{f}')")
    return con


def _canon(v):
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return tuple(_canon(x) for x in v)
    return v


def _dclass(dtype) -> str:
    return {"i": "int", "u": "int", "f": "float", "b": "bool"}.get(
        getattr(dtype, "kind", "O"), "other")


def _rows(df: pd.DataFrame, cols: list[str]) -> Counter:
    return Counter(zip(*([_canon(v) for v in df[c].tolist()] for c in cols)))


def matches_oracle(name: str, sdf: pd.DataFrame, con: duckdb.DuckDBPyConnection,
                   oracle: str | None) -> str | None:
    """``None`` when the Spark result equals the oracle's, else a reason."""
    if oracle is None:
        with open(EXPECTED_ROWS) as f:
            expected = json.load(f).get(name)
        if expected is None:
            return "no oracle and no recorded row count"
        return None if len(sdf) == expected else f"rows {len(sdf)} != recorded {expected}"
    ddf = con.execute(oracle).fetchdf()
    cols = sorted(sdf.columns)
    if cols != sorted(ddf.columns):
        return f"columns {cols} != {sorted(ddf.columns)}"
    if len(sdf) != len(ddf):
        return f"rows {len(sdf)} != {len(ddf)}"
    if _rows(sdf, cols) != _rows(ddf, cols):
        return "values differ"
    bad = [c for c in cols if _dclass(sdf[c].dtype) != _dclass(ddf[c].dtype)]
    return f"column classes differ: {bad}" if bad else None


def case_a_reference(con: duckdb.DuckDBPyConnection, csv_root: str) -> dict:
    """Per day: typed row count and the most-searched (keyword, count,
    user) with the package's tiebreak (count desc, keyword, user id)."""
    con.execute(f"""
        CREATE OR REPLACE VIEW case_a_raw AS
        SELECT filename, TRY_CAST(user_id AS BIGINT) AS user_id, search_keyword,
               TRY_CAST(search_result_count AS BIGINT) AS search_result_count, created_at
        FROM read_csv('{csv_root}/keyword_search/*.csv', header=true, all_varchar=true,
                      filename=true)""")
    out = {}
    rows = con.execute("""
        SELECT regexp_extract(filename, 'search_([0-9]+)\\.csv', 1) AS d, count(*)
        FROM case_a_raw GROUP BY 1""").fetchall()
    for d, n in rows:
        out[f"{d[:4]}-{d[4:6]}-{d[6:]}"] = {"rows": n}
    top = con.execute("""
        SELECT CAST(day AS VARCHAR), search_keyword, search_result_count, user_id FROM (
          SELECT *, TRY_CAST(LEFT(created_at, 10) AS DATE) AS created_date,
                 CAST(strptime(regexp_extract(filename, 'search_([0-9]+)\\.csv', 1), '%Y%m%d')
                      AS DATE) AS day
          FROM case_a_raw)
        WHERE created_date = day
        QUALIFY row_number() OVER (PARTITION BY day ORDER BY search_result_count DESC NULLS LAST,
                                   search_keyword ASC NULLS FIRST, user_id ASC NULLS FIRST) = 1
        """).fetchall()
    for day, kw, cnt, user in top:
        out[day]["top"] = (kw, cnt, user)
    return out


def case_b_reference(con: duckdb.DuckDBPyConnection, events: str,
                     dates: list[str]) -> dict:
    """Per run date: row count, purchase amount and quantity sums of the
    purchase events in the inclusive 3-day window."""
    out = {}
    for ds in dates:
        n, amount, qty = con.execute(f"""
            SELECT count(*),
                   sum(CASE WHEN len(event_params) = 21 THEN event_params[5].value.float_value END),
                   sum(CASE WHEN len(event_params) = 21 THEN event_params[4].value.int_value END)
            FROM read_parquet('{events}/*.parquet')
            WHERE event_name = 'purchase_item'
              AND CAST(event_datetime AS DATE) BETWEEN DATE '{ds}' AND DATE '{ds}' + 2
            """).fetchone()
        out[ds] = (n, round(amount or 0.0, 4), qty or 0)
    return out
