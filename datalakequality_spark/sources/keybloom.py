"""Per-data-file key-existence sketches (split-block Bloom filters).

Why: MERGE discovery prunes candidate files on per-file doc_id min/max
(`maintenance/merge.py::_plan_merge`), which is near-zero-selectivity on
UNclustered tables — uniform-random keys make every file span the whole
key range until the first clustering rewrite, so a point-lookup merge
against freshly appended data scans every file's key column. A per-file
Bloom filter answers "can key k live in file f?" from its sidecar (3
bytes per key, at least 272 bytes, at most 4 MB) instead of the file's
key column — the same role parquet's column-chunk Bloom filters play in
Iceberg (our writer is pyarrow 16, which cannot emit parquet-native
blooms, so the sketch lives in a sidecar `<data-file>.bloom` recorded in
the manifest entry).

Format/algorithm: the parquet split-block Bloom filter (SBBF) — 256-bit
blocks of eight 32-bit words, one bit per word selected by salted
multiply — because it is cache-line local and probe cost is O(1) per
key independent of filter size. Hashing is Spark's own ``xxhash64``
expression (seed 42), computed JVM-side on BOTH the write path (a
hidden ``__keyhash`` column fed to the writer tasks) and the probe path
(one tiny agg over the source keys), so Python never hashes a key and
the two sides can never drift.

Sidecar layout: 16-byte header (magic ``DLQBLOOM1``-style: 8-byte magic,
uint32 version, uint32 num_blocks) + num_blocks*32 bytes of
little-endian words.

Reference analogue: none (the reference has no table format); this is
the engine's own north_rule DML surface. Design follows the public
parquet bloom_filter spec and Iceberg's use of it for merge pruning.
"""

from __future__ import annotations

import os

import numpy as np

MAGIC = b"DLQBLOOM"
VERSION = 1
HEADER_BYTES = 16
BLOCK_BYTES = 32  # 8 x uint32
# the parquet SBBF salt constants (public spec)
_SALTS = np.array(
    [
        0x47B6137B,
        0x44974D91,
        0x8824AD5B,
        0xA2B7289D,
        0x705495C7,
        0x2DF1424B,
        0x9EFC4947,
        0x5C6BFB31,
    ],
    dtype=np.uint32,
)
# A probe asks "may ANY of the K source keys live here?", so the false-
# FILE rate is ≈ K × per-key-fpp — a 1% bloom is useless past K≈10.
# 24 bits/key ⇒ per-key fpp ≈ 4e-5 (parquet SBBF sizing formula), i.e.
# a 1,000-key point-lookup merge still falsely admits only ~4% of
# files. Cost: 3 bytes/key ≈ 0.6% of data bytes. Pruning is advisory
# (discovery re-verifies with an exact scan) so FPs cost I/O, never
# correctness.
BITS_PER_KEY = 24.0
MAX_BYTES = 4 << 20  # cap per sidecar; beyond this fpp degrades gracefully
MIN_BLOCKS = 8
# key sets up to this size are probed against the sidecars (MERGE
# sources, a merge-on-read commit's delete keys in the changelog): at
# 24 bits/key a K-key probe falsely admits a file with probability
# ≈ 1-(1-4.2e-5)^K, ~16% at K=4096 but ~81% at K=40k, where a probe
# prunes too little to pay for itself
MAX_PROBE_KEYS = 4096


def _as_u64(hashes) -> np.ndarray:
    h = np.asarray(hashes)
    if h.dtype != np.uint64:
        h = h.astype(np.int64, copy=False).view(np.uint64)
    return h


def _block_and_masks(h: np.ndarray, num_blocks: int):
    """(block index, 8 per-salt bit masks) for each hash — the SBBF
    mapping: top 32 bits pick the block, low 32 bits × salt picks one
    bit in each of the block's 8 words."""
    hi = np.right_shift(h, np.uint64(32))
    block = np.right_shift(hi * np.uint64(num_blocks), np.uint64(32)).astype(np.int64)
    key32 = np.bitwise_and(h, np.uint64(0xFFFFFFFF)).astype(np.uint32)
    # uint32 wraparound multiply then top-5-bit select, per salt
    bitpos = np.right_shift(
        key32[:, None] * _SALTS[None, :], np.uint32(27)
    )  # (n, 8) in [0, 32)
    masks = np.left_shift(np.uint32(1), bitpos)
    return block, masks


def num_blocks_for(n_keys: int, max_bytes: int = MAX_BYTES) -> int:
    bits = max(1, int(n_keys * BITS_PER_KEY))
    blocks = -(-bits // (BLOCK_BYTES * 8))
    return max(MIN_BLOCKS, min(blocks, max_bytes // BLOCK_BYTES))


def build(hashes, num_blocks: int | None = None) -> bytes:
    """Serialize an SBBF over pre-hashed keys (int64/uint64 xxhash64
    values). Vectorized: one scatter-OR per salt lane."""
    h = _as_u64(hashes)
    nb = num_blocks or num_blocks_for(len(h))
    words = np.zeros(nb * 8, dtype=np.uint32)
    if len(h):
        block, masks = _block_and_masks(h, nb)
        base = block * 8
        for i in range(8):
            np.bitwise_or.at(words, base + i, masks[:, i])
    header = MAGIC + np.array([VERSION, nb], dtype="<u4").tobytes()
    return header + words.astype("<u4").tobytes()


def load(path: str) -> np.ndarray | None:
    """Load a sidecar's words; None when absent/corrupt (probe treats
    that file as a maybe — pruning is only ever conservative)."""
    try:
        with open(path, "rb") as f:
            raw = f.read()
    except OSError:
        return None
    if len(raw) < HEADER_BYTES or raw[:8] != MAGIC:
        return None
    version, nb = np.frombuffer(raw[8:16], dtype="<u4")
    if version != VERSION or len(raw) != HEADER_BYTES + int(nb) * BLOCK_BYTES:
        return None
    return np.frombuffer(raw[HEADER_BYTES:], dtype="<u4").astype(np.uint32)


def probe(words: np.ndarray, hashes) -> np.ndarray:
    """Boolean per hash: may the key be present? Vectorized gather —
    8 word loads + bit tests per key regardless of filter size."""
    h = _as_u64(hashes)
    if not len(h):
        return np.zeros(0, dtype=bool)
    nb = len(words) // 8
    block, masks = _block_and_masks(h, nb)
    base = block * 8
    out = np.ones(len(h), dtype=bool)
    for i in range(8):
        out &= (words[base + i] & masks[:, i]) != 0
    return out


def probe_any(words: np.ndarray | None, hashes) -> bool:
    """May ANY of the keys be present? None words ⇒ True (no sidecar =
    cannot prune)."""
    if words is None:
        return True
    return bool(probe(words, hashes).any())


def sidecar_path(data_path: str) -> str:
    return data_path + ".bloom"


def write_sidecar(final_data_path: str, hashes, attempt) -> str:
    """Write the sidecar next to its data file with the same
    attempt-unique-temp + atomic-rename discipline as the data writer
    (retried tasks can't collide; a crash leaves only an aged-out
    orphan temp)."""
    final = sidecar_path(final_data_path)
    tmp = os.path.join(
        os.path.dirname(final), f".inprogress-{os.path.basename(final)}-{attempt}"
    )
    with open(tmp, "wb") as f:
        f.write(build(hashes))
    os.rename(tmp, final)
    return final
