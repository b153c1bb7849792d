"""Checks graft's query outputs against its DuckDB oracle.

The oracle SQL is graft's own (`SparkEntry.oracleSqlFor`, written next to
the outputs by the harness). Comparison follows `tools/compare.py
--bitexact`: columns sorted by name, equal schema and row count, float
columns equal at the IEEE bit level (NaN equals NaN), other columns
equal by value with null matching null.
"""
import gc
import glob
import json
import os
import time

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


def _diffs(exp, got):
    exp = exp.reindex(sorted(exp.columns), axis=1)
    got = got.reindex(sorted(got.columns), axis=1)
    if list(exp.columns) != list(got.columns):
        return f"schema mismatch: oracle {list(exp.columns)} vs graft {list(got.columns)}"
    if len(exp) != len(got):
        return f"row count mismatch: oracle {len(exp)} vs graft {len(got)}"
    bad = []
    for c in exp.columns:
        e, g = exp[c].reset_index(drop=True), got[c].reset_index(drop=True)
        if e.dtype.kind == "f" or g.dtype.kind == "f":
            ev = e.astype("float64").to_numpy(dtype="float64", na_value=np.nan)
            gv = g.astype("float64").to_numpy(dtype="float64", na_value=np.nan)
            neq = ~((np.isnan(ev) & np.isnan(gv)) | (ev.view("uint64") == gv.view("uint64")))
        elif e.dtype == g.dtype:
            neq = (~((e.isna() & g.isna()) | (e == g))).to_numpy()
        else:
            neq = (~((e.isna() & g.isna()) | (e.astype(object) == g.astype(object)))).to_numpy()
        n = int(neq.sum())
        if n:
            i = int(np.argmax(neq))
            bad.append(f"{c}: {n} diffs, first at row {i}: oracle={e[i]!r} graft={g[i]!r}")
    return "value mismatch: " + "; ".join(bad)[:500] if bad else None


def check(data_dir, out_dir, queries, tmp_dir):
    """Returns {query: None when it matches, else the reason} and the
    seconds DuckDB spent.
    """
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    tables = sorted(n[:-len(".parquet")] for n in os.listdir(data_dir) if n.endswith(".parquet"))
    report, con, spent = {}, None, 0.0
    for q in queries:
        if q not in sqls:
            report[q] = "no oracle SQL"
            continue
        try:
            if con is None:
                con = duckdb.connect(config={"memory_limit": "3GB", "threads": 4,
                                             "temp_directory": tmp_dir})
                for t in tables:
                    con.execute(f"create view {t} as select * from "
                                f"read_parquet('{os.path.join(data_dir, t)}.parquet')")
            t0 = time.monotonic()
            exp = con.execute(sqls[q]).df()
            spent += time.monotonic() - t0
        except Exception as e:  # an oracle that cannot run fails its query
            report[q] = f"oracle error: {str(e)[:300]}"
            continue
        path = os.path.join(out_dir, "out", q)
        if not os.path.isdir(path):
            report[q] = "no output from graft"
            continue
        # part files in name order are the output in partition order
        parts = sorted(glob.glob(os.path.join(path, "part-*.parquet")))
        report[q] = _diffs(exp, pa.concat_tables([pq.read_table(f) for f in parts]).to_pandas()
                           if parts else pd.DataFrame())
        gc.collect()
    if con is not None:
        con.close()
    return report, spent
