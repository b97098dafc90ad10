"""Seeded input generator for the benchmark.

Builds two input directories per seed from the small base tables shipped
in ``perfbench/data/base`` (the sf0.01 TPC-H-style star schema plus the
``events``, ``documents`` and ``embeddings`` tables):

- ``x1``: every table at base size. Tables with a decorrelation rule
  (``documents``, ``embeddings``, ``part``) get replica 0 of the rule with
  the seed folded into its hashes; the TPC-H tables copied verbatim
  (``customer``, ``orders``, ``lineitem``, ``events``) get a seeded row
  order and a seeded split point between their two files.
- ``x4``: four decorrelated replicas of ``documents`` and ``embeddings``;
  the other tables are links to ``x1``.

``nation``, ``region`` and ``supplier`` are not replicated and are linked
to the base files. The decorrelation rules are the ones of
``tools/scale_rehearsal.synthesize`` (word order of each document by
md5(word|k), hash-seeded ±0.05 noise per embedding dimension, a per-block
suffix on the part name's last token), computed with pyarrow and hashlib
instead of Spark, with ``|seed`` appended to every hashed string.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "base")
LINKED = ("nation", "region", "supplier")
VERBATIM = ("customer", "orders", "lineitem", "events")
TABLES = LINKED + VERBATIM + ("part", "documents", "embeddings")
REPLICATED = ("documents", "embeddings")
# Bumped whenever the generated bytes for a given seed change, so stale
# cached directories are rebuilt instead of reused.
FORMAT_VERSION = 2

_WS = re.compile(r"\s+")


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _shuffle_words(text: str | None, k: int, seed: int) -> str | None:
    """Replica k of one document: its words sorted by md5(word|k|seed)."""
    if text is None:
        return None
    words = _WS.split(text.strip())
    return " ".join(sorted(words, key=lambda w: (_md5(f"{w}|{k}|{seed}"), w)))


def documents(base: pa.Table, reps: int, seed: int) -> pa.Table:
    n = base.num_rows
    ids, texts, langs, sources = (base.column(c).to_pylist()
                                  for c in ("doc_id", "text", "lang", "source"))
    out_ids, out_text, out_lang, out_src = [], [], [], []
    for k in range(reps):
        out_ids += [i + k * n for i in ids]
        out_text += [_shuffle_words(t, k, seed) for t in texts]
        out_lang += langs
        out_src += sources
    return pa.table({
        "doc_id": pa.array(out_ids, pa.int64()),
        "text": pa.array(out_text, pa.string()),
        "lang": pa.array(out_lang, pa.string()),
        "source": pa.array(out_src, pa.string()),
        "n_chars": pa.array([None if t is None else len(t) for t in out_text],
                            pa.int64()),
    })


def embeddings(base: pa.Table, reps: int, seed: int) -> pa.Table:
    n = base.num_rows
    ids = base.column("vec_id").to_pylist()
    vecs = np.array(base.column("embedding").to_pylist(), dtype=np.float32)
    dim = vecs.shape[1]
    out_ids, out_vecs = [], []
    for k in range(reps):
        noise = np.array(
            [[int(_md5(f"{v}|{k}|{i}|{seed}")[:4], 16) for i in range(dim)]
             for v in ids], dtype=np.float64) / 65535.0 - 0.5
        out_vecs.append(vecs + (noise * 0.1).astype(np.float32))
        out_ids += [v + k * n for v in ids]
    flat = np.concatenate(out_vecs).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(out_ids, pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(flat.reshape(-1)), dim).cast(pa.list_(pa.float32())),
        "label": pa.concat_arrays([base.column("label").combine_chunks()] * reps),
    })


def part(base: pa.Table, seed: int) -> pa.Table:
    """Replica 0 of the part rule: the last name token's block gets a
    6-hex suffix, identical within a block, so entity cliques survive."""
    names = base.column("p_name").to_pylist()
    suffixed = [f"{nm}-{_md5(nm.split(' ')[-1] + f'|0|{seed}')[:6]}" for nm in names]
    i = base.schema.get_field_index("p_name")
    return base.set_column(i, "p_name", pa.array(suffixed, pa.string()))


def _write_split(table: pa.Table, path: str, rng: np.random.Generator) -> None:
    """Write ``table`` as a directory of two files, rows in a seeded order
    and the split point drawn from [30%, 70%] of the rows."""
    table = table.take(pa.array(rng.permutation(table.num_rows)))
    cut = int(table.num_rows * rng.uniform(0.3, 0.7))
    os.makedirs(path)
    for j, (lo, hi) in enumerate(((0, cut), (cut, table.num_rows))):
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, f"part-{j:05d}.parquet"),
                       compression="snappy")


def _link(target: str, dest: str) -> None:
    os.symlink(os.path.relpath(target, os.path.dirname(dest)), dest)


def _stats(path: str) -> dict:
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path))]
             if os.path.isdir(path) else [path])
    return {"rows": sum(pq.read_metadata(f).num_rows for f in files),
            "bytes": sum(os.path.getsize(f) for f in files)}


def generate(seed: int, out: str) -> dict:
    """Write ``out/x1`` and ``out/x4`` for ``seed`` unless a manifest for
    the same seed and format is already there; returns the manifest
    (row count and bytes per table and scale)."""
    manifest_path = os.path.join(out, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
        if manifest.get("seed") == seed and manifest.get("format") == FORMAT_VERSION:
            return manifest
    shutil.rmtree(out, ignore_errors=True)
    x1, x4 = os.path.join(out, "x1"), os.path.join(out, "x4")
    os.makedirs(x1)
    os.makedirs(x4)
    base = {t: pq.read_table(os.path.join(BASE, f"{t}.parquet")) for t in TABLES}
    for i, t in enumerate(TABLES):
        dest = os.path.join(x1, f"{t}.parquet")
        if t in LINKED:
            _link(os.path.join(BASE, f"{t}.parquet"), dest)
            continue
        if t == "part":
            table = part(base[t], seed)
        elif t in REPLICATED:
            table = (documents if t == "documents" else embeddings)(base[t], 1, seed)
        else:
            table = base[t]
        _write_split(table, dest, np.random.default_rng([seed, i, 1]))
    for i, t in enumerate(TABLES):
        dest = os.path.join(x4, f"{t}.parquet")
        if t not in REPLICATED:
            _link(os.path.join(x1, f"{t}.parquet"), dest)
            continue
        table = (documents if t == "documents" else embeddings)(base[t], 4, seed)
        _write_split(table, dest, np.random.default_rng([seed, i, 4]))
    manifest = {
        "seed": seed,
        "format": FORMAT_VERSION,
        "tables": {scale: {t: _stats(os.path.join(out, scale, f"{t}.parquet"))
                           for t in TABLES} for scale in ("x1", "x4")},
    }
    with open(manifest_path, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest

