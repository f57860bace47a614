"""Output checks for the benchmark.

A query with a DuckDB oracle (SparkEntry.oracleSql) is compared against it
with the repository's oracle compare model: columns sorted by name, then row
by row. A query without one is compared by row count and an
order-insensitive fingerprint recorded in expected.json; the corpus is the
same in every run, so one fingerprint per query suffices.
"""
import datetime
import decimal
import glob
import hashlib
import json
import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq

from gen import TABLES

# Floating columns match within this relative tolerance; everything else
# exactly. A rounded double sum can land on either side of a half-cent with
# the summation order that partitioning gives (tpch_q7 on one corpus read
# 275141.01 where the oracle read 275141.0).
FLOAT_RTOL = 1e-6
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "expected.json")


def _canon(v):
    if v is None:
        return "~"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return "0" if v == 0 else f"{v:.6g}"
    if isinstance(v, (int, str, decimal.Decimal)):
        return str(v)
    if isinstance(v, bytes):
        return hashlib.md5(v).hexdigest()
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return repr(v)


def fingerprint(table):
    """(rows, hex): the row count and the sum of per-row hashes mod 2^64."""
    cols = sorted(table.column_names)
    total = 0
    for row in table.select(cols).to_pylist():
        s = "\x1f".join(_canon(row[c]) for c in cols)
        total += int.from_bytes(
            hashlib.blake2b(s.encode(), digest_size=8).digest(), "little")
    return table.num_rows, f"{total % (1 << 64):016x}"


def _read(out_dir):
    files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet output in {out_dir}")
    return pq.read_table(files)


def _oracle_compare(got, sql, corpus_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(corpus_dir, t + '.parquet')}')")
    exp = con.execute(sql).fetchdf()
    con.close()
    g = got.to_pandas()
    g = g.reindex(sorted(g.columns), axis=1).reset_index(drop=True)
    e = exp.reindex(sorted(exp.columns), axis=1).reset_index(drop=True)
    if list(g.columns) != list(e.columns):
        return f"schema mismatch: {list(g.columns)} vs {list(e.columns)}"
    if len(g) != len(e):
        return f"row count mismatch: {len(g)} vs oracle {len(e)}"
    for c in g.columns:
        floating = pd.api.types.is_float_dtype(g[c]) or pd.api.types.is_float_dtype(e[c])
        try:
            pd.testing.assert_series_equal(
                g[c], e[c], check_dtype=False, check_exact=not floating,
                rtol=FLOAT_RTOL if floating else 1e-5, atol=0)
        except AssertionError as err:
            return f"value mismatch in {c}: " + str(err).split("\n")[0]
    return None


def load_expected():
    if not os.path.exists(EXPECTED):
        return {}
    with open(EXPECTED) as f:
        return json.load(f)


def check(entry, oracle_sql, corpus_dir, want):
    """Checks one query's output against its oracle SQL, or when it has none
    against the recorded [rows, fingerprint] `want`. Returns an error or None.
    A fingerprint error names the output's own [rows, fingerprint], to be
    pasted into expected.json after a change that is meant to change it."""
    if entry["error"]:
        return "query failed: " + entry["error"]
    got = _read(entry["out"])
    if oracle_sql is not None:
        return _oracle_compare(got, oracle_sql, corpus_dir)
    fp = json.dumps(list(fingerprint(got)))
    if want is None:
        return f"no oracle and no recorded fingerprint; output is {fp}"
    if json.loads(fp) != want:
        return f"fingerprint mismatch: output is {fp}, recorded {json.dumps(want)}"
    return None
