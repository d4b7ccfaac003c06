"""Seeded benchmark inputs: generated with numpy from ``--seed``, written as
parquet into the benchmark's work directory, hashed, and cached by
``(workload, seed, size)``.

The engine only ever reads the parquet files. Generation runs twice on a
cache miss and the two tables must be equal, so a generator that stops being
deterministic fails the run instead of silently changing the inputs.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from marmot_spark.fixtures import VOCAB, gen_labels, gen_sequences

ROW_GROUP = 16384


def flagship_tables(n_seq: int, seed: int) -> dict[str, pa.Table]:
    """``marmot_spark.fixtures`` sequences (40% of rows on two hot doc keys)
    and labels (0.7 per sequence, adversarial equal/+1us timestamps)."""
    seqs = gen_sequences(n_seq, seed)
    return {"sequences": seqs, "labels": gen_labels(seqs, seed + 1)}


def dedup_tables(n_docs: int, seed: int) -> dict[str, pa.Table]:
    """Docs with unique ids and Zipf lengths clipped to [8, 512]; every 10th
    doc copies its predecessor with 10% of its tokens replaced."""
    rng = np.random.default_rng(seed)
    lengths = np.clip(rng.zipf(1.5, size=n_docs), 8, 512).astype(np.int64)
    dup = np.arange(n_docs) % 10 == 9
    lengths[dup] = lengths[np.flatnonzero(dup) - 1]
    offsets = np.concatenate(([0], np.cumsum(lengths)))
    flat = rng.integers(0, VOCAB, size=int(offsets[-1]), dtype=np.int32)
    for i in np.flatnonzero(dup):
        src = flat[offsets[i - 1] : offsets[i]]
        n = len(src)
        mutated = src.copy()
        pos = rng.choice(n, size=max(1, n // 10), replace=False)
        mutated[pos] = rng.integers(0, VOCAB, size=len(pos), dtype=np.int32)
        flat[offsets[i] : offsets[i + 1]] = mutated
    tokens = pa.ListArray.from_arrays(
        pa.array(offsets.astype(np.int32), type=pa.int32()), pa.array(flat, type=pa.int32())
    )
    return {
        "docs": pa.table(
            {"doc_id": pa.array(np.arange(n_docs, dtype=np.int64)), "tokens": tokens}
        )
    }


GENERATORS = {"flagship": flagship_tables, "dedup": dedup_tables}


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def prepare(work_dir: str, kind: str, size: int, seed: int) -> dict:
    """Return ``{"dir", "hashes", "rows", "cached"}`` for the inputs of
    ``kind`` at ``size`` and ``seed``, generating them on a cache miss.

    A cached directory is re-hashed against its manifest; a mismatch is an
    error rather than a silent regeneration."""
    d = os.path.join(work_dir, "inputs", f"{kind}-{size}-seed{seed}")
    manifest = os.path.join(d, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            meta = json.load(f)
        for name, digest in meta["hashes"].items():
            if _sha256(os.path.join(d, f"{name}.parquet")) != digest:
                raise RuntimeError(f"cached input {d}/{name}.parquet does not match its hash")
        return {**meta, "dir": d, "cached": True}

    gen = GENERATORS[kind]
    tables = gen(size, seed)
    again = gen(size, seed)
    for name, tbl in tables.items():
        if not tbl.equals(again[name]):
            raise RuntimeError(f"input generation is not deterministic: {kind}/{name}")
    os.makedirs(d, exist_ok=True)
    hashes, rows = {}, {}
    for name, tbl in tables.items():
        p = os.path.join(d, f"{name}.parquet")
        pq.write_table(tbl, p, row_group_size=ROW_GROUP)
        hashes[name], rows[name] = _sha256(p), tbl.num_rows
    meta = {"kind": kind, "size": size, "seed": seed, "hashes": hashes, "rows": rows}
    # the manifest is written last: a run killed mid-write leaves no manifest,
    # so the next run regenerates instead of trusting partial files
    with open(manifest, "w") as f:
        json.dump(meta, f)
    return {**meta, "dir": d, "cached": False}
