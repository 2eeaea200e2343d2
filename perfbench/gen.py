"""Seeded inputs: samples and splits of the sf0.1 tables, and the shares
served from them.

``data/sf0.1`` holds byte-identical copies of the repository's sf0.1 test
tables (TESTDATA.md), so the benchmark reads nothing outside its own
directory. The workload seed picks which rows each workload uses and how
they are split; the same seed gives byte-identical parquet.
"""

from __future__ import annotations

import io
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                        "sf0.1")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def source(name: str) -> pa.Table:
    """An sf0.1 table, without the pandas schema metadata."""
    return pq.read_table(os.path.join(DATA_DIR, f"{name}.parquet")
                         ).replace_schema_metadata(None)


def parquet_bytes(table: pa.Table, row_group_size: int | None = None) -> bytes:
    sink = io.BytesIO()
    pq.write_table(table, sink, row_group_size=row_group_size)
    return sink.getvalue()


def delta_schema(table: pa.Table, drop: tuple[str, ...] = ()) -> str:
    """Delta ``schemaString`` of an Arrow table's columns."""
    names = {pa.int64(): "long", pa.int32(): "integer", pa.float64(): "double",
             pa.string(): "string", pa.timestamp("us"): "timestamp",
             pa.date32(): "date"}
    fields = [{"name": f.name, "type": names[f.type], "nullable": True,
               "metadata": {}} for f in table.schema if f.name not in drop]
    return json.dumps({"type": "struct", "fields": fields})


def sample_tables(rng, fraction: float) -> dict[str, pa.Table]:
    """Every table the registry reads, with a seeded ``fraction`` of the
    orders (with their lineitems), of the event users (with all their
    events), of the documents and of the embeddings; the dimension tables
    stay whole, so every key the kept rows reference still resolves."""
    out = {t: source(t) for t in TABLES}

    def keep(table: pa.Table, column: str) -> pa.Table:
        keys = pc.unique(table[column])
        keys = keys.filter(pa.array(rng.random(len(keys)) < fraction))
        return table.filter(pc.is_in(table[column], keys))

    out["orders"] = keep(out["orders"], "o_orderkey")
    out["lineitem"] = out["lineitem"].filter(
        pc.is_in(out["lineitem"]["l_orderkey"], out["orders"]["o_orderkey"]))
    out["events"] = keep(out["events"], "user_id")
    out["documents"] = keep(out["documents"], "doc_id")
    out["embeddings"] = keep(out["embeddings"], "vec_id")
    return out


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


class CustomerPool:
    """sf0.1 ``customer`` rows in a seeded order, handed out in turn under
    fresh keys, so a run can publish more new customers than the table
    holds without repeating a key."""

    def __init__(self, rng):
        table = source("customer")
        self.rows = table.take(pa.array(rng.permutation(table.num_rows)))
        self.segments = np.unique(
            self.rows["c_mktsegment"].to_numpy(zero_copy_only=False))
        self._next = 0

    def take(self, keys: np.ndarray) -> pa.Table:
        idx = (self._next + np.arange(len(keys))) % self.rows.num_rows
        self._next = int(idx[-1]) + 1
        rows = self.rows.take(pa.array(idx))
        return rows.set_column(0, "c_custkey", pa.array(keys, pa.int64()))


# -- shares --------------------------------------------------------------------


@dataclass
class Share:
    """A table's file actions (URLs filled in once the server is up) and
    the blobs the server hands out over HTTP ``Range``."""
    name: str
    schema_string: str
    files: list[dict]
    blobs: dict[str, bytes]
    partition_columns: list[str] = field(default_factory=list)


def stats_json(n: int, col: str, lo, hi) -> str:
    return json.dumps({"numRecords": int(n), "minValues": {col: lo},
                       "maxValues": {col: hi}, "nullCount": {col: 0}})


def lineitem_share(rng, n_rows: int, n_files: int, name: str = "lineitem"):
    """A seeded window of ``n_rows`` sf0.1 lineitem rows in ``l_orderkey``
    order, split at seeded points near equal sizes into ``n_files`` files
    clustered on ``l_orderkey`` (so key-range predicates prune by stats).
    A seeded quarter of the files carry deletion vectors: half inline, half
    in one served DV file. Returns the share and the surviving rows (the
    window with every deleted row removed), from which checks are
    computed."""
    from datafusion_delta_sharing_spark.sources import dv as DV

    full = source("lineitem")
    order = np.argsort(full["l_orderkey"].to_numpy(), kind="stable")
    start = int(rng.integers(0, full.num_rows - n_rows + 1))
    table = full.take(pa.array(order[start:start + n_rows]))
    # equal splits moved by up to a quarter of a file each way: seeded,
    # yet no seed hands one scan task several times the rows of another
    step = n_rows / n_files
    cuts = (np.arange(1, n_files) * step
            + rng.uniform(-step / 4, step / 4, n_files - 1)).astype(np.int64)
    bounds = list(zip([0, *cuts], [*cuts, n_rows]))
    with_dv = set(rng.choice(n_files, n_files // 4, replace=False).tolist())
    keep = np.ones(n_rows, dtype=bool)
    blobs, files, on_file = {}, [], []
    keys = table.column("l_orderkey").to_numpy()
    for i, (a, b) in enumerate(bounds):
        path = f"/{name}/part-{i:03d}.parquet"
        blobs[path] = parquet_bytes(table.slice(a, b - a),
                                    row_group_size=8192)
        f = {"id": f"{name}-{i:03d}", "path": path,
             "size": len(blobs[path]), "partition_values": {},
             "stats": stats_json(b - a, "l_orderkey", int(keys[a]),
                                 int(keys[b - 1]))}
        if i in with_dv:
            n_del = int(rng.integers((b - a) // 50, (b - a) // 10 + 2))
            pos = np.sort(rng.choice(b - a, n_del, replace=False))
            keep[a + pos] = False
            if len(on_file) < len(with_dv) // 2:
                on_file.append((f, pos))
            else:
                f["deletion_vector"] = DV.inline_descriptor(pos)
        files.append(f)
    datas = [DV.encode_dv_data(pos, use_runs=True) for _, pos in on_file]
    dv_blob, offsets = DV.encode_dv_file(datas)
    blobs[f"/{name}/deletion_vectors.bin"] = dv_blob
    for (f, pos), off, data in zip(on_file, offsets, datas):
        f["deletion_vector"] = {"storageType": "p", "dv_path":
                                f"/{name}/deletion_vectors.bin",
                                "offset": off, "sizeInBytes": len(data),
                                "cardinality": int(len(pos))}
    share = Share(name, delta_schema(table), files, blobs)
    return share, table.filter(pa.array(keep))
