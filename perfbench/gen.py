#!/usr/bin/env python3
"""Seeded K-copy replica of the gate's sf0.01 input, for the benchmark.

The base is `perfbench/gate_sf0.01/`: a byte copy of the ten sf0.01 gate
tables (region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings) that the engine's oracle gate runs on. Keeping a copy
inside the benchmark's directory lets a run read nothing outside its checkout.

`--copies K` replicates that base the way `graft.ScaleGen` does: copy i
offsets event_id/user_id and doc_id by i*10^7 and rotates each copy's text
alphabet by i so copies share no shingles. Unlike ScaleGen it also grows
`embeddings`: copy i gets vec_id + i*10^7 and fresh unit-norm 64-d vectors
drawn from the seed, distributed as the gate's are (byte copies would create
exact kNN ties and keep the similarity queries flat). A grown table is
written as a directory `<table>.parquet/` with one file per copy, as
ScaleGen's Spark write leaves a directory of part files; every other table is
copied byte for byte. The seed only drives those grown vectors, so the same
(seed, copies) always gives byte-identical files.

Usage: gen.py --out DIR --seed N [--copies 10]
Writes DIR/manifest.json with the rows and on-disk bytes of each table.
"""
import argparse
import glob
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "gate_sf0.01")
COPY_OFFSET = 10_000_000
LOWER = "abcdefghijklmnopqrstuvwxyz"


def base_tables():
    return {os.path.basename(p)[:-len(".parquet")]: pq.read_table(p)
            for p in sorted(glob.glob(os.path.join(BASE, "*.parquet")))}


def embeddings(r, n, id_base):
    v = r.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64) + id_base,
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": r.integers(0, 10, n).astype(np.int32)})


def replicate(t, seed, copies):
    """ScaleGen's K-copy scheme, plus grown embeddings (see module doc).
    Returns only the tables it grows, each as its list of K copies."""
    if copies == 1:
        return {}
    ev, docs = t["events"], t["documents"]
    evs, dcs, embs = [], [], [t["embeddings"]]
    for i in range(copies):
        off = i * COPY_OFFSET
        evs.append(ev.set_column(0, "event_id", pa.array(
            ev["event_id"].to_numpy() + off)).set_column(2, "user_id", pa.array(
                ev["user_id"].to_numpy() + off)))
        rot = LOWER[i % 26:] + LOWER[:i % 26]
        table = str.maketrans(LOWER + LOWER.upper(), rot + rot.upper())
        dcs.append(docs.set_column(0, "doc_id", pa.array(
            docs["doc_id"].to_numpy() + off)).set_column(1, "text", pa.array(
                [s.translate(table) for s in docs["text"].to_pylist()])))
        if i > 0:
            embs.append(embeddings(np.random.default_rng([seed, i]),
                                   t["embeddings"].num_rows, off)
                        .cast(t["embeddings"].schema))
    return dict(events=evs, documents=dcs, embeddings=embs)


def generate(out, seed, copies=1):
    os.makedirs(out, exist_ok=True)
    base = base_tables()
    grown = replicate(base, seed, copies)
    manifest = {}
    for name, table in base.items():
        path = os.path.join(out, f"{name}.parquet")
        if name in grown:
            os.makedirs(path)
            for i, part in enumerate(grown[name]):
                pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"),
                               compression="snappy")
            rows = sum(part.num_rows for part in grown[name])
            size = sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))
        else:
            shutil.copyfile(os.path.join(BASE, f"{name}.parquet"), path)
            rows, size = table.num_rows, os.path.getsize(path)
        manifest[name] = {"rows": rows, "bytes": size}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump({"seed": seed, "base": "gate sf0.01", "copies": copies,
                   "tables": manifest}, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--copies", type=int, default=1)
    a = ap.parse_args()
    for name, m in generate(a.out, a.seed, a.copies).items():
        print(f"{name:<11} {m['rows']:>9} rows {m['bytes']:>10} bytes")
