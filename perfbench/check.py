"""Independent output check: compares the outputs a run wrote with
DuckDB's answers on the same input tables.

Query outputs are compared with DuckDB running `SparkEntry.oracleSql`.
For `hiveql_session`, DuckDB replays the script's standard-SQL
equivalent; every checked SELECT and the final contents of every
written table must match. Columns are matched by name; rows match in
order or, failing that, after sorting both; doubles match to a relative
1e-9 (sums in another order round differently).
"""
import hashlib
import json
import math
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


class RefCache:
    """DuckDB answers kept as parquet under `root`, keyed by a hash of the
    data stamp and what was asked; they depend on nothing else, so runs
    after the first only read them."""

    def __init__(self, root, data_stamp):
        self.root, self.data_stamp = root, data_stamp
        os.makedirs(root, exist_ok=True)

    def path(self, *key):
        h = hashlib.sha256(json.dumps([self.data_stamp, *key]).encode())
        return os.path.join(self.root, h.hexdigest()[:32])

    @staticmethod
    def save(path, frames, meta=None):
        tmp = path + ".tmp"
        os.makedirs(tmp, exist_ok=True)
        for name, frame in frames.items():
            pq.write_table(pa.Table.from_pandas(frame, preserve_index=False),
                           os.path.join(tmp, f"{name}.parquet"))
        with open(os.path.join(tmp, "meta.json"), "w") as fh:
            json.dump(meta or {}, fh)
        os.rename(tmp, path)

    @staticmethod
    def load(path):
        frames = {f[:-8]: pq.read_table(os.path.join(path, f)).to_pandas()
                  for f in os.listdir(path) if f.endswith(".parquet")}
        with open(os.path.join(path, "meta.json")) as fh:
            return frames, json.load(fh)


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _norm(v):
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _same(a, b):
    if isinstance(a, float) and isinstance(b, (int, float)) or \
            isinstance(b, float) and isinstance(a, (int, float)):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def _column_diff(x, y):
    """Index of the first row where two columns differ, or None."""
    if x.dtype.kind in "iub" and y.dtype.kind in "iub":
        bad = np.asarray(x) != np.asarray(y)
    elif x.dtype.kind in "iubf" and y.dtype.kind in "iubf":
        bad = ~np.isclose(x.astype(float), y.astype(float), rtol=1e-9,
                          atol=1e-9, equal_nan=True)
    else:
        bad = np.array([not _same(_norm(a), _norm(b))
                        for a, b in zip(x, y)], dtype=bool)
    hits = np.flatnonzero(bad)
    return int(hits[0]) if len(hits) else None


def _diff(a, b):
    """(row, column) of the first difference between two frames with the
    same columns and length, or None."""
    for c in a.columns:
        row = _column_diff(a[c], b[c])
        if row is not None:
            return row, c
    return None


def _sorted(frame):
    keys = pd.DataFrame({
        c: frame[c].round(6) if frame[c].dtype.kind == "f"
        else frame[c].map(lambda v: repr(_norm(v)))
        for c in frame.columns})
    order = keys.sort_values(list(keys.columns), kind="stable").index
    return frame.loc[order].reset_index(drop=True)


def compare(got_dir, expected_frame):
    """None when the output matches, else a one-line reason."""
    got = pq.read_table(got_dir).to_pandas()
    cols = sorted(got.columns)
    if cols != sorted(expected_frame.columns):
        return f"columns {cols} != {sorted(expected_frame.columns)}"
    if len(got) != len(expected_frame):
        return f"{len(got)} rows != {len(expected_frame)}"
    got, exp = got[cols], expected_frame[cols]
    if _diff(got, exp) is None:
        return None
    got, exp = _sorted(got), _sorted(exp)
    hit = _diff(got, exp)
    if hit is None:
        return None
    row, col = hit
    return f"row {row} column {col}: {got[col][row]!r} != {exp[col][row]!r}"


def check_queries(con, cache, out_dir, oracle_sql, ids):
    """Statement id -> reason, for every query output that differs."""
    wrong = {}
    for sid in ids:
        path = os.path.join(out_dir, sid)
        if not os.path.isdir(path):
            wrong[sid] = "no output"
            continue
        if sid not in oracle_sql:
            wrong[sid] = "no reference SQL"
            continue
        try:
            ref = cache.path("query", oracle_sql[sid])
            if not os.path.isdir(ref):
                cache.save(ref, {"r": con.execute(oracle_sql[sid]).df()})
            wrong_reason = compare(path, cache.load(ref)[0]["r"])
        except Exception as e:  # noqa: BLE001 - any failure is a mismatch
            wrong_reason = f"check failed: {e}"
        if wrong_reason:
            wrong[sid] = wrong_reason
    return wrong


def replay_hive(con, script, final_tables):
    """Runs the script's DuckDB equivalent. Returns the expected frame of
    every checked statement and final table, keyed by output id, and the
    rows each write statement changed, keyed by statement id."""
    expected, changed = {}, {}
    for s in script:
        result = None
        for sql in s["duck"]:
            cur = con.execute(sql)
            if s["target"]:
                changed[s["id"]] = changed.get(s["id"], 0) + \
                    cur.fetchone()[0]
            else:
                result = cur.df()
        if s["check"]:
            expected[s["id"]] = result
    for t in final_tables:
        expected[f"table_{t}"] = con.execute(f"SELECT * FROM {t}").df()
    return expected, changed


def row_bytes(con, table):
    """Mean logical bytes of a row of a DuckDB table: 8 per number, the
    string length per string."""
    cols = con.execute(f"DESCRIBE {table}").fetchall()
    parts = [f"coalesce(length({c}), 0)" if t == "VARCHAR" else "8"
             for c, t, *_ in cols]
    n, total = con.execute(
        f"SELECT count(*), sum({' + '.join(parts)}) FROM {table}").fetchone()
    return (total or 0) / n if n else 0.0


def check_hive(con, cache, out_dir, script, final_tables):
    """Returns (id -> reason for mismatches, statement id -> logical bytes
    the write changed)."""
    ref = cache.path("hive", script, final_tables)
    if not os.path.isdir(ref):
        expected, changed = replay_hive(con, script, final_tables)
        widths = {t: row_bytes(con, t) for t in final_tables}
        cache.save(ref, expected, {
            s["id"]: changed[s["id"]] * widths[s["target"]]
            for s in script if s["target"]})
    expected, changed_bytes = cache.load(ref)
    wrong = {}
    for oid, frame in expected.items():
        path = os.path.join(out_dir, oid)
        if not os.path.isdir(path):
            wrong[oid] = "no output"
            continue
        try:
            reason = compare(path, frame)
        except Exception as e:  # noqa: BLE001 - any failure is a mismatch
            reason = f"check failed: {e}"
        if reason:
            wrong[oid] = reason
    return wrong, changed_bytes
