"""Output check: result digests under scripts/selfcheck.py's canonical
multiset semantics (columns sorted by name, every value rendered with
``str`` through DuckDB's pandas conversion, rows sorted), so an output
matches its oracle exactly when selfcheck would call it OK."""
import glob
import hashlib
import os

import duckdb

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def canonical_digest(df):
    """(row count, sha256) of a pandas frame as an order-independent multiset."""
    cols = sorted(df.columns)
    rows = sorted(tuple(str(v) for v in t) for t in df[cols].itertuples(index=False, name=None))
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return len(rows), h.hexdigest()


def oracle_digests(input_dir, oracles):
    """Runs each oracle SQL in DuckDB over the generated inputs."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{input_dir}/{t}.parquet/*.parquet'")
    return {name: canonical_digest(con.sql(sql).df()) for name, sql in sorted(oracles.items())}


def output_digest(out_dir):
    """Digest of one query's parquet output, or None if it wrote no files."""
    if not glob.glob(os.path.join(out_dir, "*.parquet")):
        return None
    con = duckdb.connect()
    return canonical_digest(con.sql(f"SELECT * FROM '{out_dir}/*.parquet'").df())
