"""Seeded input derivation.

The bundled corpus (`perfbench/corpus/`, a copy of the sf0.01 tables the
repository's tests use) is expanded into `replicas` disjoint copies. The
same seed always gives the same tables. Every transform keeps each query's
DuckDB oracle valid, because the oracle runs over the derived tables too:

- replica k adds k * 10,000,000 to every surrogate key (customer, supplier,
  part, order, event, user, document and vector ids), so joins, argmax ties
  and groups never cross replicas;
- document ids are a seeded permutation within each replica, and each
  replica maps letters through its own seeded bijection, which keeps every
  replica's near-duplicate graph isomorphic to the corpus's while shingles
  almost never collide across replicas;
- embedding dimensions are permuted per replica (a seeded orthogonal map:
  dot products within a replica keep their terms, and replicas do not
  duplicate each other), and vector ids are permuted like document ids;
- every table's row order is a seeded permutation.
"""
import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

CORPUS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "corpus")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
KEYS = {
    "customer": ["c_custkey"], "supplier": ["s_suppkey"], "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"], "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
# ids permuted within a replica
PERMUTED_ID = {"documents": "doc_id", "embeddings": "vec_id"}
REPLICA_STRIDE = 10_000_000


def _set(t, name, arr):
    return t.set_column(t.schema.get_field_index(name), name, arr)


def _letter_map(rng):
    lower = string.ascii_lowercase
    perm = "".join(rng.permutation(list(lower)))
    return str.maketrans(lower + lower.upper(), perm + perm.upper())


def _replica(name, t, k, rng):
    for c in KEYS.get(name, []):
        t = _set(t, c, pc.add(t[c], pa.scalar(k * REPLICA_STRIDE, t[c].type)))
    if name in PERMUTED_ID:
        c = PERMUTED_ID[name]
        t = _set(t, c, t[c].take(pa.array(rng.permutation(t.num_rows))))
    if name == "documents":
        table = _letter_map(rng)
        t = _set(t, "text", pa.array([None if s is None else s.translate(table)
                                      for s in t["text"].to_pylist()], pa.string()))
    if name == "embeddings":
        col = t["embedding"].combine_chunks()
        lengths = np.asarray(col.value_lengths())
        dims = int(lengths[0])
        assert col.null_count == 0 and (lengths == dims).all(), "embeddings must share one dimension"
        values = np.asarray(col.flatten()).reshape(-1, dims)[:, rng.permutation(dims)]
        permuted = pa.ListArray.from_arrays(col.offsets, pa.array(values.ravel(), pa.float32()))
        t = _set(t, "embedding", permuted.cast(col.type))
    return t


def derive(out_dir, seed, replicas):
    """Write every table to `<out_dir>/<table>.parquet`; return
    {table: {"rows": n, "bytes": size}}."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name in TABLES:
        base = pq.read_table(os.path.join(CORPUS, f"{name}.parquet"))
        base = base.replace_schema_metadata(None)
        if name in KEYS:
            t = pa.concat_tables([_replica(name, base, k, rng) for k in range(replicas)])
        else:
            t = base
        t = t.take(pa.array(rng.permutation(t.num_rows)))
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path)
        sizes[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}
    return sizes
