"""Answer digests: DuckDB runs each query's oracle SQL, and graft's
answers are canonicalised the same way before comparison. The views,
the canonical form and the row hash are those of the repo's oracle
gate, scripts/selfcheck.py, imported from it so the two cannot drift."""
import glob
import os
import sys

import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "scripts"))

from selfcheck import canon, connect, table_hash  # noqa: E402


def digest(df):
    df = canon(df)
    return {"columns": list(df.columns), "rows": len(df), "sha256": table_hash(df)}


def oracle_digests(data_dir, oracles):
    """{query: digest} of each oracle SQL on `data_dir`, one connection per
    query (DuckDB's buffer pool does not fully release across queries)."""
    out = {}
    for name, sql in oracles.items():
        con = connect(data_dir)
        try:
            con.execute(f"SET temp_directory='{os.environ.get('TMPDIR', '.tmp')}/duckdb'")
            con.execute(f"SET threads={os.cpu_count() or 1}")
            con.execute("SET memory_limit='4GB'")
            out[name] = digest(con.execute(sql).fetchdf())
        finally:
            con.close()
    return out


def answer_digest(result_dir):
    """Digest of a query result graft wrote as parquet part files."""
    files = sorted(glob.glob(f"{result_dir}/*.parquet"))
    if not files:
        return None
    return digest(pd.concat([pd.read_parquet(f) for f in files]))
