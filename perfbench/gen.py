"""Seeded input generator for the benchmark workloads.

Uses numpy and pyarrow only (no Spark, no package code) and runs in one
process with at most ``nproc`` threads. For a workload it writes the parquet
inputs the program reads plus ``truth.json``, the ground truth the
correctness checks compare against. The same seed gives byte-identical
files; another seed gives other files.

    python3 perfbench/gen.py --workload topic --seed 7 --out DIR

"""

from __future__ import annotations

import argparse
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NPROC = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count() or 1

# ---------------------------------------------------------------------------
# Sizes. Chosen so one run of the benchmark (three fresh-JVM set-ups, a timed
# window and the correctness checks) fits well inside a minute on a 4-core
# host; see perfbench/README.md.
# ---------------------------------------------------------------------------

KAFKA_PARTITIONS = 16
KEY_SPACE = 1_000_000
ZIPF_S = 1.2
NULL_KEY_SHARE = 0.05
TOMBSTONE_SHARE = 0.10
VALUE_LEN_RANGE = (128, 384)  # uniform, mean 256 B
TOPIC = "bench.topic"

SIZES = {
    "topic": {
        "messages": 300_000, "files": 32,  # the stored log the report reads
        "backlog_messages": 60_000, "backlog_files": 2,  # the stream's backlog
    },
    "corpus_dedup": {"docs": 1_000, "vectors": 5_000},
}

VOCAB = 5_000
VOCAB_ZIPF_S = 1.1
DOC_WORDS = (15, 46)
DUP_SHARE = 0.20
EMB_DIM = 64
EMB_CLUSTER_SHARE = 0.15
EMB_CLUSTER_SIZE = (2, 6)
EMB_NOISE = 0.05  # per-dim noise against unit-normal centres: pair cosine ~0.997


def _set_threads() -> None:
    pa.set_cpu_count(NPROC)
    pa.set_io_thread_count(NPROC)


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def _binary_array(data: np.ndarray, lengths: np.ndarray, valid: np.ndarray) -> pa.Array:
    """Arrow binary array from a flat uint8 buffer of the valid entries."""
    lengths = np.where(valid, lengths, 0)
    offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    bitmap = np.packbits(valid, bitorder="little")
    return pa.BinaryArray.from_buffers(
        pa.binary(),
        len(lengths),
        [pa.py_buffer(bitmap), pa.py_buffer(offsets), pa.py_buffer(data)],
        null_count=int((~valid).sum()),
    )


def _zipf_ids(rng: np.random.Generator, n: int, space: int, s: float) -> np.ndarray:
    """Ids in [0, space) with P(id=k) proportional to (k+1)^-s."""
    cdf = np.cumsum(np.arange(1, space + 1, dtype=np.float64) ** -s)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(n)), space - 1)


def _key_partition(key_ids: np.ndarray) -> np.ndarray:
    """Keyed messages go to a fixed partition per key, as Kafka's default
    partitioner does; this is what makes per-partition offset order the
    per-key arrival order."""
    h = (key_ids.astype(np.uint64) * np.uint64(2654435761)) & np.uint64(0xFFFFFFFF)
    return (h % np.uint64(KAFKA_PARTITIONS)).astype(np.int32)


def kafka_log(rng: np.random.Generator, n: int) -> tuple[dict[str, np.ndarray], np.ndarray, np.ndarray]:
    """One Kafka-shaped log in arrival order.

    Returns the columns (value bytes still flat), the per-message value
    lengths and the value-present mask."""
    key_ids = _zipf_ids(rng, n, KEY_SPACE, ZIPF_S)
    key_valid = rng.random(n) >= NULL_KEY_SHARE
    partition = np.where(
        key_valid, _key_partition(key_ids), rng.integers(0, KAFKA_PARTITIONS, n)
    ).astype(np.int32)
    # contiguous offsets per partition, in arrival order, from a random base
    base = rng.integers(0, 1_000_000, KAFKA_PARTITIONS)
    order = np.argsort(partition, kind="stable")
    counts = np.bincount(partition, minlength=KAFKA_PARTITIONS)
    starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
    rank = np.empty(n, dtype=np.int64)
    rank[order] = np.arange(n) - np.repeat(starts, counts)
    offset = base[partition] + rank
    ts = 1_700_000_000_000 + np.arange(n, dtype=np.int64) * 3 + rng.integers(0, 3, n)
    value_valid = rng.random(n) >= TOMBSTONE_SHARE
    value_len = rng.integers(VALUE_LEN_RANGE[0], VALUE_LEN_RANGE[1] + 1, n)
    cols = {
        "key_id": key_ids,
        "key_valid": key_valid,
        "partition": partition,
        "offset": offset,
        "timestamp_ms": ts,
    }
    return cols, value_len, value_valid


def _key_bytes(key_ids: np.ndarray) -> np.ndarray:
    """``key-NNNNNNN`` as an (n, 11) uint8 matrix."""
    digits = (key_ids[:, None] // 10 ** np.arange(6, -1, -1)) % 10 + ord("0")
    prefix = np.broadcast_to(np.frombuffer(b"key-", dtype=np.uint8), (len(key_ids), 4))
    return np.hstack([prefix, digits.astype(np.uint8)])


def _log_table(cols, value_len, value_valid, value_data, lo: int, hi: int, vstart: int) -> pa.Table:
    sl = slice(lo, hi)
    kv = cols["key_valid"][sl]
    keys = _key_bytes(cols["key_id"][sl])[kv].ravel()
    vlen = np.where(value_valid[sl], value_len[sl], 0)
    vbytes = value_data[vstart : vstart + int(vlen.sum())]
    return pa.table(
        {
            "topic": pa.array([TOPIC] * (hi - lo), pa.string()),
            "partition": pa.array(cols["partition"][sl], pa.int32()),
            "offset": pa.array(cols["offset"][sl], pa.int64()),
            "timestamp_ms": pa.array(cols["timestamp_ms"][sl], pa.int64()),
            "key": _binary_array(keys, np.full(hi - lo, 11), kv),
            "value": _binary_array(vbytes, vlen, value_valid[sl]),
        }
    )


def log_truth(cols, value_len, value_valid) -> dict:
    """Per-partition report figures and the alive-key set of a log."""
    p = cols["partition"]
    kv = cols["key_valid"]
    vlen = np.where(value_valid, value_len, 0)
    parts = []
    for i in range(KAFKA_PARTITIONS):
        m = p == i
        if not m.any():
            continue
        parts.append(
            {
                "partition": i,
                "start_offset": int(cols["offset"][m].min()),
                "end_offset": int(cols["offset"][m].max()) + 1,
                "total": int(m.sum()),
                "alive": int(value_valid[m].sum()),
                "tombstones": int((~value_valid[m]).sum()),
                "key_null": int((~kv[m]).sum()),
                "key_non_null": int(kv[m].sum()),
                "key_bytes": int(kv[m].sum()) * 11,
                "value_bytes": int(vlen[m].sum()),
            }
        )
    # latest record per key decides liveness; arrival order == offset order
    # within the key's one partition
    idx = np.flatnonzero(kv)
    last = np.full(KEY_SPACE, -1, dtype=np.int64)
    np.maximum.at(last, cols["key_id"][idx], idx)
    seen = np.flatnonzero(last >= 0)
    alive_ids = np.sort(seen[value_valid[last[seen]]])
    return {
        "messages": int(len(p)),
        "partitions": parts,
        "distinct_keys": int(len(seen)),
        "alive_keys": int(len(alive_ids)),
        "alive_keys_sha256": alive_digest(f"key-{k:07d}" for k in alive_ids),
    }


def alive_digest(keys) -> str:
    """Digest of a sorted alive-key list; the harness recomputes it from
    the program's output."""
    h = hashlib.sha256()
    for k in keys:
        h.update(k.encode() + b"\n")
    return h.hexdigest()


def write_log(rng: np.random.Generator, n: int, files: int, out_dir: str) -> dict:
    """Write a log as ``files`` time slices; file i holds the i-th slice of
    every partition's offsets, and its mtime orders it for a file stream."""
    cols, value_len, value_valid = kafka_log(rng, n)
    vlen = np.where(value_valid, value_len, 0)
    # printable bytes; the slight modulo bias does not matter here
    value_data = np.frombuffer(rng.bytes(int(vlen.sum())), dtype=np.uint8) % 95 + 32
    bounds = np.linspace(0, n, files + 1).astype(int)
    vstarts = np.concatenate([[0], np.cumsum(vlen)])
    paths = []
    for f in range(files):
        lo, hi = int(bounds[f]), int(bounds[f + 1])
        path = os.path.join(out_dir, f"part-{f:05d}.parquet")
        _write(_log_table(cols, value_len, value_valid, value_data, lo, hi, int(vstarts[lo])), path)
        paths.append(path)
    for f, path in enumerate(paths):  # strictly increasing, fixed mtimes
        os.utime(path, (1_700_000_000 + f, 1_700_000_000 + f))
    return {**log_truth(cols, value_len, value_valid), "files": files}


# ---------------------------------------------------------------------------
# Corpus: documents with planted near-duplicates, embeddings with planted
# tight clusters
# ---------------------------------------------------------------------------


def _vocabulary(rng: np.random.Generator) -> np.ndarray:
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < VOCAB:
        w = letters[rng.integers(0, 26, int(rng.integers(2, 9)))].tobytes().decode()
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words, dtype=object)


def documents(rng: np.random.Generator, n: int) -> tuple[pa.Table, list[list[int]]]:
    """``n`` docs, ``DUP_SHARE`` of them copies of an original doc with 0-2
    word substitutions, so every planted group is a star around its
    original and the near-dup graph has a small, seed-independent
    diameter."""
    vocab = _vocabulary(rng)
    n_dup = int(round(n * DUP_SHARE))
    texts: list[np.ndarray] = []
    parent = np.full(n, -1)
    for i in range(n):
        if i >= n - n_dup:
            src = int(rng.integers(0, n - n_dup))
            words = texts[src].copy()
            for _ in range(int(rng.integers(0, 3))):
                words[int(rng.integers(0, len(words)))] = _zipf_ids(rng, 1, VOCAB, VOCAB_ZIPF_S)[0]
            parent[i] = src
        else:
            words = _zipf_ids(rng, int(rng.integers(*DOC_WORDS)), VOCAB, VOCAB_ZIPF_S)
        texts.append(words)
    doc_id = rng.permutation(n).astype(np.int64)  # copies are not adjacent
    text = [" ".join(vocab[w]) for w in texts]
    groups: dict[int, list[int]] = {}
    for i in range(n):
        root = i
        while parent[root] >= 0:
            root = parent[root]
        groups.setdefault(root, []).append(int(doc_id[i]))
    table = pa.table(
        {
            "doc_id": pa.array(doc_id, pa.int64()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(np.array(["en", "de", "fr", "zh"])[rng.integers(0, 4, n)], pa.string()),
            "source": pa.array([f"src{s}" for s in rng.integers(0, 8, n)], pa.string()),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        }
    ).sort_by("doc_id")
    planted = sorted(sorted(g) for g in groups.values() if len(g) > 1)
    return table, planted


def embeddings(rng: np.random.Generator, n: int) -> tuple[pa.Table, list[list[int]]]:
    """Unit-normal background vectors plus tight planted clusters."""
    mat = rng.standard_normal((n, EMB_DIM))
    n_clustered = int(n * EMB_CLUSTER_SHARE)
    clusters: list[list[int]] = []
    i = 0
    while i < n_clustered:
        size = min(int(rng.integers(EMB_CLUSTER_SIZE[0], EMB_CLUSTER_SIZE[1] + 1)), n_clustered - i)
        if size < 2:
            break
        centre = mat[i]
        mat[i : i + size] = centre + EMB_NOISE * rng.standard_normal((size, EMB_DIM))
        clusters.append(list(range(i, i + size)))
        i += size
    vec_id = rng.permutation(n).astype(np.int64)
    flat = mat.astype(np.float32).ravel()
    emb = pa.FixedSizeListArray.from_arrays(pa.array(flat, pa.float32()), EMB_DIM).cast(
        pa.list_(pa.float32())
    )
    table = pa.table(
        {
            "vec_id": pa.array(vec_id, pa.int64()),
            "embedding": emb,
            "label": pa.array(np.zeros(n, dtype=np.int32), pa.int32()),
        }
    ).sort_by("vec_id")
    planted = sorted(sorted(int(vec_id[j]) for j in c) for c in clusters)
    return table, planted


def write_corpus(rng: np.random.Generator, n_docs: int, n_vecs: int, out_dir: str) -> dict:
    docs, dup_groups = documents(rng, n_docs)
    emb, clusters = embeddings(rng, n_vecs)
    _write(docs, os.path.join(out_dir, "documents.parquet"))
    _write(emb, os.path.join(out_dir, "embeddings.parquet"))
    return {
        "docs": n_docs,
        "vectors": n_vecs,
        "planted_dup_groups": len(dup_groups),
        "planted_dup_docs": sum(len(g) for g in dup_groups),
        "planted_clusters": clusters,
    }


# ---------------------------------------------------------------------------


def generate(workload: str, seed: int, out: str) -> dict:
    """Write ``workload``'s inputs under ``out``; return the ground truth."""
    _set_threads()
    if workload not in SIZES:
        raise ValueError(f"unknown workload {workload!r}")
    size = SIZES[workload]
    # one random stream per input, so resizing one does not shift another
    main_rng, backlog_rng = (np.random.default_rng([seed, i]) for i in range(2))
    if workload == "corpus_dedup":
        truth = write_corpus(main_rng, size["docs"], size["vectors"], os.path.join(out, "main"))
    else:
        truth = {
            "log": write_log(main_rng, size["messages"], size["files"], os.path.join(out, "main")),
            "backlog": write_log(
                backlog_rng, size["backlog_messages"], size["backlog_files"], os.path.join(out, "backlog")
            ),
        }
    truth.update({"workload": workload, "seed": seed})
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    return truth


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    generate(args.workload, args.seed, args.out)


if __name__ == "__main__":
    main()
