"""Seeded input generator for the benchmark.

The pipeline inputs are made here from ``--seed``: the same seed writes
byte-identical inputs.  The package only ever sees the generated paths.
(The registered queries read the fixed sf0.1 fixture in ``fixture/``.)

* :func:`case_a_inputs` writes one search-history CSV per day (Case A).
* :func:`case_b_inputs` writes a ``unified_events`` parquet directory (Case B).
* :func:`corpus_inputs` writes the fixture's documents explode-duplicated
  for the ``llm_corpus`` pipeline.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PARTS = 8  # files per pipeline parquet input


def _write(table: pa.Table, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


def _write_parts(table: pa.Table, path: str, parts: int) -> int:
    """``table`` as ``parts`` equal files under the directory ``path``, so
    the engine scans it with ``parts`` tasks whatever the core count."""
    step = -(-table.num_rows // parts)
    return sum(_write(table.slice(i * step, step), f"{path}/part-{i:03d}.parquet")
               for i in range(parts))


def _days(start: str, n: int, step: int = 1) -> list[str]:
    d0 = dt.date.fromisoformat(start)
    return [(d0 + dt.timedelta(days=i * step)).isoformat() for i in range(n)]


def case_a_inputs(root: str, seed: int, start: str, n_days: int,
                  rows_per_day: int) -> dict:
    """One ``keyword_search/search_<yyyymmdd>.csv`` per day.

    Junk numerics (SAFE_CAST nulls), malformed and neighbouring-day
    ``created_at`` values, a top-1 tie on every day, and one empty day
    (header only)."""
    rng = np.random.default_rng([seed, 2])
    keywords = np.asarray([f"kw{i:03d}" for i in range(300)])
    days = _days(start, n_days)
    empty = days[int(rng.integers(1, n_days))]
    day_rows, day_bytes = {}, {}
    header = "user_id,search_keyword,search_result_count,created_at\n"
    for ds in days:
        n = 0 if ds == empty else rows_per_day
        user = rng.integers(1, 50_000, n).astype(str).astype(object)
        user[rng.random(n) < 0.02] = "u-x"
        count = rng.integers(0, 10_000, n).astype(str).astype(object)
        junk = rng.random(n)
        count[junk < 0.02] = "n/a"
        count[(junk >= 0.02) & (junk < 0.03)] = "12x"
        secs = rng.integers(0, 86_400, n)
        stamp = np.datetime64(ds, "s") + secs.astype("timedelta64[s]")
        created = np.datetime_as_string(stamp).astype(object)
        created = np.char.replace(created.astype(str), "T", " ").astype(object)
        odd = rng.random(n)
        created[odd < 0.01] = "not-a-date"
        prev = (dt.date.fromisoformat(ds) - dt.timedelta(days=1)).isoformat()
        created[(odd >= 0.01) & (odd < 0.02)] = f"{prev} 23:00:00"
        kw = keywords[rng.integers(0, len(keywords), n)].astype(object)
        if n >= 2:  # two distinct keywords share the day's top count
            for j, k in ((0, "kw_tie_b"), (1, "kw_tie_a")):
                count[j], kw[j], created[j] = "10000", k, f"{ds} 12:00:00"
        path = f"{root}/keyword_search/search_{ds.replace('-', '')}.csv"
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(header)
            f.writelines(f"{a},{b},{c},{d}\n" for a, b, c, d in zip(user, kw, count, created))
        day_rows[ds], day_bytes[ds] = n, os.path.getsize(path)
    return {"root": root, "days": days, "empty_day": empty,
            "day_rows": day_rows, "day_bytes": day_bytes}


def _event_params(rng: np.random.Generator, full: np.ndarray,
                  tx: np.ndarray) -> pa.Array:
    """``array<struct<value: struct<int_value, string_value, float_value>>>``
    per event: the full 21-param shape (params 0-7 = transaction id,
    detail id, number, quantity, amount, payment method, source, product
    id; 8-20 filler) or the sparse shape (transaction number, product id,
    then 0-2 filler strings)."""
    n = len(full)
    lens = np.where(full, 21, 2 + np.arange(n) % 3)
    offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
    row = np.repeat(np.arange(n), lens)
    pos = np.arange(offsets[-1]) - offsets[row]
    f = full[row]
    qty = rng.integers(1, 20, n)[row]
    amount = np.round(rng.uniform(1, 500, n), 2)[row]
    product = rng.integers(1, 5000, n)[row]
    ints = np.select(
        [f & (pos == 0), f & (pos == 1), f & (pos == 3), f & (pos == 7), f & (pos >= 8),
         ~f & (pos == 1)],
        [row, row * 10 + 1, qty, product, pos - 8, product], 0)
    int_valid = (f & np.isin(pos, [0, 1, 3, 7])) | (f & (pos >= 8)) | (~f & (pos == 1))
    methods = np.asarray(["card", "cash", "transfer", "wallet"], dtype=object)[row % 4]
    sources = np.asarray(["web", "app", "store"], dtype=object)[row % 3]
    strs = np.full(len(row), None, dtype=object)
    is_tx = (f & (pos == 2)) | (~f & (pos == 0))
    strs[is_tx] = tx[row[is_tx]]
    strs[f & (pos == 5)] = methods[f & (pos == 5)]
    strs[f & (pos == 6)] = sources[f & (pos == 6)]
    strs[~f & (pos >= 2)] = "x"
    value = pa.StructArray.from_arrays(
        [pa.array(ints, pa.int64(), mask=~int_valid),
         pa.array(strs, pa.string()),
         pa.array(amount, pa.float64(), mask=~(f & (pos == 4)))],
        names=["int_value", "string_value", "float_value"])
    param = pa.StructArray.from_arrays([value], names=["value"])
    return pa.ListArray.from_arrays(pa.array(offsets), param)


def case_b_inputs(root: str, seed: int, start: str, n_runs: int,
                  rows: int) -> dict:
    """A ``unified_events`` table spanning the 3-day-step run windows plus
    two days either side (out-of-window rows), mixing the full and sparse
    event shapes and non-purchase events."""
    rng = np.random.default_rng([seed, 3])
    span = 3 * n_runs + 4
    base = np.datetime64(start, "us") - np.timedelta64(2, "D")
    ts = base + rng.integers(0, span * 86_400_000_000, rows).astype("timedelta64[us]")
    name = rng.choice(["purchase_item", "view_item", "add_to_cart"], rows, p=(0.6, 0.25, 0.15))
    tx = np.asarray([f"TX{k:08d}" for k in range(rows)], dtype=object)
    table = pa.table({
        "event_name": pa.array(name, pa.string()),
        "event_datetime": pa.array(ts, pa.timestamp("us")),
        "event_params": _event_params(rng, rng.random(rows) < 0.7, tx),
        "user_id": pa.array(rng.integers(1, 9999, rows).astype(str), pa.string()),
        "state": pa.array(rng.choice(["CA", "NY", "TX", "WA"], rows), pa.string()),
        "city": pa.array(rng.choice(["a", "b", "c", "d", "e"], rows), pa.string()),
        "created_at": pa.array(np.datetime_as_string(ts, unit="s"), pa.string()),
    })
    path = f"{root}/unified_events"
    nbytes = _write_parts(table, path, PARTS)
    return {"path": path, "dates": _days(start, n_runs, 3), "rows": rows, "bytes": nbytes}


def corpus_inputs(root: str, seed: int, documents: str, copies: int) -> dict:
    """The ``documents`` table explode-duplicated ``copies`` times: every
    copy gets fresh ``doc_id`` values; in each copy after the first a
    seeded half of the texts carry one extra word, so they survive exact
    dedup as near duplicates, and the rest are exact duplicates."""
    rng = np.random.default_rng([seed, 4])
    base = pq.read_table(documents)
    n = base.num_rows
    texts = base.column("text").to_pylist()
    parts = []
    for c in range(copies):
        edit = rng.random(n) < (0.0 if c == 0 else 0.5)
        copy = [t + " dup" if e else t for t, e in zip(texts, edit)]
        parts.append(base
                     .set_column(base.schema.get_field_index("doc_id"), "doc_id",
                                 pa.array(np.arange(n) + c * n, pa.int64()))
                     .set_column(base.schema.get_field_index("text"), "text",
                                 pa.array(copy, pa.string()))
                     .set_column(base.schema.get_field_index("n_chars"), "n_chars",
                                 pa.array([len(t) for t in copy], pa.int64())))
    table = pa.concat_tables(parts).replace_schema_metadata(None)
    path = f"{root}/corpus_docs"
    nbytes = _write_parts(table, path, PARTS)
    return {"path": path, "rows": table.num_rows, "bytes": nbytes}
