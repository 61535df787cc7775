"""DuckDB check of the curate_corpus results.

For every query the timed pass wrote under `<corpus>/results`, runs its
`SparkEntry.oracleSql` text in DuckDB over the same generated corpus and
compares the two result sets: same columns, same row count, equal values
after sorting rows (floats to 1e-9 absolute).
"""
import glob
import json
import os

import duckdb
import numpy as np


def check(corpus_dir):
    """Returns (number of results checked, list of failure messages)."""
    with open(os.path.join(corpus_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus_dir}/{t}.parquet/*.parquet')")
    fails = []
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(corpus_dir, "results", name, "*.parquet"))
        if not files:
            fails.append(f"{name}: no result written")
            continue
        try:
            got = con.sql(f"SELECT * FROM read_parquet({files!r})").fetchdf()
            exp = con.sql(sql).fetchdf()
        except Exception as e:  # an oracle that cannot run is a failed check
            fails.append(f"{name}: {type(e).__name__}: {str(e).splitlines()[0]}")
            continue
        cols = sorted(got.columns)
        if cols != sorted(exp.columns):
            fails.append(f"{name}: columns {cols} vs oracle {sorted(exp.columns)}")
            continue
        if len(got) != len(exp):
            fails.append(f"{name}: {len(got)} rows vs oracle {len(exp)}")
            continue
        g = got[cols].sort_values(cols).reset_index(drop=True)
        e = exp[cols].sort_values(cols).reset_index(drop=True)
        for c in cols:
            if g[c].dtype.kind == "f" or e[c].dtype.kind == "f":
                ok = np.isclose(g[c].astype(float), e[c].astype(float), rtol=0, atol=1e-9,
                                equal_nan=True).all()
            else:
                ok = (g[c].astype(str) == e[c].astype(str)).all()
            if not ok:
                fails.append(f"{name}: values differ in column {c}")
                break
    return len(oracle), fails
