"""Compare the curate pass's outputs with each key's DuckDB oracle.

The JVM writes every key's result under OUT/<key>/ and the
oracle SQL of each key (SparkEntry.oracleSql) to OUT/oracle_sql.json.
The comparison is the one tools/check_one.py makes: columns sorted by
name, rows sorted, floats equal to 1e-12 relative. Oracle rows depend
only on the inputs, so they are cached per input checksum and SQL text.
"""
import hashlib
import json
import os
import pickle
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
from check_one import canon, eq, nonscalar_cols  # noqa: E402

TABLES = ("documents", "embeddings")


def _oracle_rows(con, sql, data, cache):
    with open(os.path.join(data, "manifest.json")) as f:
        inputs = json.load(f)["sha256"]
    key = hashlib.sha256((json.dumps(inputs, sort_keys=True) + sql).encode()).hexdigest()
    path = os.path.join(cache, key + ".pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    odf = con.execute(sql).df()
    rows = (canon(odf.values.tolist(), list(odf.columns)), nonscalar_cols(odf))
    os.makedirs(cache, exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(rows, f)
    os.replace(path + ".tmp", path)
    return rows


def check(data, out, cache):
    """Return one "<key>: reason" line per output that fails."""
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET temp_directory='{os.path.join(cache, 'spill')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    bad = []
    for key, sql in oracle.items():
        (orows, ocols), ons = _oracle_rows(con, sql, data, cache)
        files = os.path.join(out, key)
        if not os.path.isdir(files):
            bad.append(f"{key}: no output")
            continue
        sdf = con.execute(f"SELECT * FROM read_parquet('{files}/*.parquet')").df()
        srows, scols = canon(sdf.values.tolist(), list(sdf.columns))
        ns = sorted(set(nonscalar_cols(sdf)) | set(ons))
        if ns:
            bad.append(f"{key}: non-scalar cells in {ns}")
        elif ocols != scols:
            bad.append(f"{key}: schema {scols} vs oracle {ocols}")
        elif len(orows) != len(srows):
            bad.append(f"{key}: rows {len(srows)} vs oracle {len(orows)}")
        else:
            diff = [(s, o) for s, o in zip(srows, orows)
                    if not all(eq(x, y) for x, y in zip(s, o))]
            if diff:
                bad.append(f"{key}: {len(diff)} mismatched rows; first {diff[0]}")
    return bad
