"""query_mix correctness: every query's Spark result against DuckDB running
the query's oracle SQL over the same generated tables, normalized the way
`tools/check_oracle.py` does (columns by name, floats to 6 places, dtype
kinds must agree, rows in order)."""
import json
import os
import sys

import duckdb
import pandas as pd

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))
import check_oracle  # noqa: E402  (the repository's oracle normalization)


def compare(out_dir: str):
    """Returns (ok, detail) for the results Verify-style under `out_dir`."""
    data_dir = open(os.path.join(out_dir, "data_dir")).read().strip()
    con = duckdb.connect()
    for t in check_oracle.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet/*.parquet'")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    bad = []
    for name in sorted(oracle):
        try:
            expected = con.sql(oracle[name]).df()
            actual = pd.read_parquet(os.path.join(out_dir, name))
        except Exception as e:  # a missing result or an oracle error is a failure
            bad.append(f"{name}: {e}")
            continue
        ecols, erows = check_oracle.norm_df(expected)
        acols, arows = check_oracle.norm_df(actual)
        ekinds = [check_oracle.dtype_kind(expected.dtypes[c]) for c in ecols]
        akinds = [check_oracle.dtype_kind(actual.dtypes[c]) for c in acols]
        if ecols != acols:
            bad.append(f"{name}: columns {acols} vs oracle {ecols}")
        elif ekinds != akinds:
            bad.append(f"{name}: dtype kinds {akinds} vs oracle {ekinds}")
        elif erows != arows:
            bad.append(f"{name}: rows differ ({len(arows)} vs oracle {len(erows)})")
        elif not arows:
            bad.append(f"{name}: empty result, nothing compared")
    con.close()
    if bad:
        return False, "; ".join(bad)
    return True, f"{len(oracle)} queries match DuckDB"
