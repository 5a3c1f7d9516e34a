"""Seeded input generation for the benchmark.

The base is a copy of the engine's deterministic test tables (the star
schema region, nation, customer, supplier, part, orders, lineitem, plus
events, documents and embeddings), checked in under ``base/sf0.001`` and
``base/sf0.01`` so the benchmark reads nothing outside its checkout. Its
row counts, bytes and duplicate density never change. The run's ``--seed``
then drives a rewrite of that base into ``copies`` twin copies, the recipe
of the engine's own ``InflatedCorpus``:

* copy i shifts every key column by a seeded, distinct multiple of 10**9
  (a multiple of 16, 50 and 10**4, so the ``doc_id % 50`` corpus cuts and
  the +10000 duplicate-planting offset keep their meaning);
* document text goes through a seeded letter permutation of a 16-letter
  alphabet per copy (and per paragraph when ``doc_len > 1``), so copies
  are dissimilar and near-duplicate work grows linearly;
* embeddings are rotated by a seeded, distinct number of positions;
* event timestamps are shifted by 137 days per unit of key shift;
* every table's rows are written in a seeded order.

Dimension tables (region, nation) are written once, as the engine's twin
does.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ALPHA = "etaoinshrdlcumwf"
SHIFT = 10**9
US_PER_DAY = 86_400_000_000


def perm(m):
    """The m-th of 128 distinct permutations of ALPHA (stride x shift), as
    ``graft.InflatedCorpus.perm``."""
    strides = [1, 3, 5, 7, 9, 11, 13, 15]
    s = strides[(m // 16) % 8]
    k = m % 16
    return "".join(ALPHA[(k + t * s) % 16] for t in range(16))


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def base_tables(sf):
    """The base at scale factor ``sf``: the engine's test tables as checked
    in under ``base/sf<sf>``, a dict of pyarrow tables."""
    d = os.path.join(HERE, "base", f"sf{sf}")
    return {f[:-len(".parquet")]: pq.read_table(os.path.join(d, f))
            for f in sorted(os.listdir(d)) if f.endswith(".parquet")}


KEYS = {
    "customer": ["c_custkey"], "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"], "supplier": ["s_suppkey"],
    "part": ["p_partkey"], "events": ["event_id", "user_id"], "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def _copy(name, table, shift, perms, rotation):
    """One twin copy of a base table under its seeded transforms."""
    cols = {c: table[c] for c in table.column_names}
    for k in KEYS.get(name, []):
        cols[k] = pc.add(table[k], pa.scalar(shift * SHIFT, table[k].type))
    if name == "events":
        ts = table["ts"].cast(pa.int64()).to_numpy() + shift * 137 * US_PER_DAY
        cols["ts"] = _ts(ts)
    if name == "documents":
        tables = [str.maketrans(ALPHA, p) for p in perms]
        texts = ["\n\n".join(x.translate(tr) for tr in tables) for x in table["text"].to_pylist()]
        cols["text"] = pa.array(texts)
        cols["n_chars"] = pa.array([len(x) for x in texts], pa.int64())
    if name == "embeddings" and rotation:
        v = np.stack(table["embedding"].to_numpy(zero_copy_only=False))
        cols["embedding"] = pa.array(list(np.roll(v, -rotation, axis=1)), pa.list_(pa.float32()))
    return pa.table(cols)


def rewrite(base, seed, copies, doc_len):
    """The seeded twin of ``base``: table name -> list of pyarrow tables (one per file)."""
    rng = np.random.default_rng([seed, copies, doc_len])
    shifts = rng.permutation(copies)
    perm_ids = rng.choice(128, copies * doc_len, replace=False)
    dim = len(base["embeddings"]["embedding"][0])
    rotations = rng.choice(dim, copies, replace=False)
    out = {}
    for name, table in base.items():
        if name in ("region", "nation"):
            parts = [table]
        else:
            parts = [_copy(name, table, int(shifts[i]),
                           [perm(int(m)) for m in perm_ids[i * doc_len:(i + 1) * doc_len]],
                           int(rotations[i]))
                     for i in range(copies)]
        out[name] = [p.take(pa.array(rng.permutation(p.num_rows))) for p in parts]
    return out


def write(tables, out_dir):
    """Writes each table as ``<name>.parquet/part-NNNNN.parquet``; returns
    the sha256 of the written files, row order included."""
    h = hashlib.sha256()
    for name in sorted(tables):
        d = os.path.join(out_dir, name + ".parquet")
        os.makedirs(d, exist_ok=True)
        for i, part in enumerate(tables[name]):
            path = os.path.join(d, f"part-{i:05d}.parquet")
            pq.write_table(part, path)
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
