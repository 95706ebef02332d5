"""Deterministic x10 scale-up of the sf0.1 fixture (the etl_sf1 input).

The benchmark owns this generator so that no change to the program can change
the benchmark's inputs. Each table becomes `factor` key-shifted copies of the
source table: copy i moves every key column by i * (max key + 1), so the
foreign keys between customer, orders, lineitem, part and supplier stay
consistent and key density is unchanged. Customer and supplier names are
regenerated from the shifted key, document text gets a per-copy token (so
near-duplicate structure grows instead of collapsing into exact clones), and
embeddings move by i * 1e-4 per copy. Dimension tables (region, nation) are
copied as they are.

Each copy is written as its own parquet row group, so a scan splits into
`factor` row groups, like a source table of one row group per 600k rows.
"""
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

KEYS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def _replace(t, name, arr):
    return t.set_column(t.schema.get_field_index(name), t.schema.field(name), arr)


def _tweak(name, t, i):
    if name == "customer":
        t = _replace(t, "c_name", pa.array(
            [f"Customer#{k:09d}" for k in t["c_custkey"].to_pylist()], pa.string()))
    elif name == "supplier":
        t = _replace(t, "s_name", pa.array(
            [f"Supplier#{k:09d}" for k in t["s_suppkey"].to_pylist()], pa.string()))
    elif name == "documents" and i > 0:
        text = pc.binary_join_element_wise(t["text"], pa.scalar(f"copytoken{i}"), " ")
        t = _replace(t, "text", text)
        t = _replace(t, "n_chars", pc.utf8_length(text).cast(t.schema.field("n_chars").type))
    elif name == "embeddings" and i > 0:
        col = t["embedding"].combine_chunks()
        values = col.values.to_numpy(zero_copy_only=False).astype(np.float32)
        shifted = pa.array(values + np.float32(i * 1e-4), pa.float32())
        arr = pa.ListArray.from_arrays(col.offsets, shifted, mask=col.is_null())
        t = _replace(t, "embedding", arr.cast(t.schema.field("embedding").type))
    return t


def scale_table(name, src, factor):
    """The `factor` copies of one source table, one per row group."""
    if name not in KEYS:
        return [src]
    bases = {k: int(pc.max(src[k]).as_py()) + 1 for k in KEYS[name]}
    copies = []
    for i in range(factor):
        t = src
        for k, base in bases.items():
            typ = t.schema.field(k).type
            t = _replace(t, k, pc.add(t[k].cast(pa.int64()), i * base).cast(typ))
        copies.append(_tweak(name, t, i))
    return copies


def generate(src_dir, dst_dir, factor):
    dst_dir.mkdir(parents=True, exist_ok=True)
    for name in TABLES:
        src = pq.read_table(src_dir / f"{name}.parquet")
        tmp = dst_dir / f".{name}.parquet.tmp"
        with pq.ParquetWriter(tmp, src.schema) as w:
            for part in scale_table(name, src, factor):
                w.write_table(part, row_group_size=max(part.num_rows, 1))
        tmp.replace(dst_dir / f"{name}.parquet")
