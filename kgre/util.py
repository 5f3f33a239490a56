"""Deterministic hashing / math helpers shared by generator, pipeline and oracle.

Everything here must be a pure function of its string arguments — no wall
clock, no platform-dependent hash (Python's builtin ``hash`` is seeded per
process and MUST NOT be used anywhere in kgre).
"""

from __future__ import annotations

import hashlib
import math


def h48(s: str) -> int:
    """48-bit deterministic hash of a string (md5 prefix)."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:12], 16)


def hunif(s: str) -> float:
    """Deterministic uniform float in [0, 1) from a string."""
    return h48(s) / float(1 << 48)


def hrange(s: str, n: int) -> int:
    """Deterministic integer in [0, n) from a string."""
    return h48(s) % n


def sigmoid(x: float) -> float:
    # clamp to avoid overflow in exp for extreme logits
    if x < -60.0:
        return 0.0
    if x > 60.0:
        return 1.0
    return 1.0 / (1.0 + math.exp(-x))


def ensure_min_partitions(df, cols=("url",), target=None):
    """Repartition ``df`` up to ``target`` partitions (default 2x the
    session's defaultParallelism) when the input layout yields fewer.

    The expensive Arrow/pandas stages must never inherit a tiny split count
    from a small file; on a real cluster a 100 TB scan already arrives with
    thousands of splits, in which case this is a no-op (no shuffle).
    """
    sc = df.sparkSession.sparkContext
    if target is None:
        target = sc.defaultParallelism * 2
    if target and df.rdd.getNumPartitions() < target:
        return df.repartition(target, *cols) if cols else df.repartition(target)
    return df


_M64 = (1 << 64) - 1
_GOLD = 0x9E3779B97F4A7C15


def mix64(x: int) -> int:
    """splitmix64 finalizer — deterministic, platform-independent."""
    x &= _M64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _M64
    return x ^ (x >> 31)


def hseq(base: int, i: int, tag: int, n: int) -> int:
    """Deterministic int in [0, n) from (precomputed base hash, index, tag).

    Hot-path replacement for ``hrange(f"{tag}|{long_string}|{i}", n)``:
    hash the long string ONCE into ``base`` (h48), then derive per-index
    draws by integer mixing — same purity guarantees, none of the repeated
    md5-over-the-whole-string cost.
    """
    return mix64((base + i * _GOLD + tag * 0xD1B54A32D192ED03) & _M64) % n


def hseq_vec(base: int, idx, tag: int):
    """Vectorized mix64((base + i*GOLD + tag*C) & M64) over an index array.

    Bit-identical to ``hseq(base, i, tag, n)`` before the ``% n`` — callers
    apply their own modulus. numpy uint64 arithmetic wraps mod 2^64 exactly
    like the masked scalar path.
    """
    import numpy as np

    x = (np.uint64(base)
         + idx.astype(np.uint64) * np.uint64(_GOLD)
         + np.uint64((tag * 0xD1B54A32D192ED03) & _M64))
    x ^= x >> np.uint64(30)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(27)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(31)
    return x


def hseq_mat(base: int, idx, tags):
    """hseq_vec for several tags at once -> uint64 matrix [len(tags), len(idx)].
    One numpy pass instead of one per tag (the arrays are tiny; call
    overhead dominates)."""
    import numpy as np

    i = idx.astype(np.uint64)
    t = np.array([(tag * 0xD1B54A32D192ED03) & _M64 for tag in tags],
                 dtype=np.uint64)
    x = np.uint64(base) + i * np.uint64(_GOLD) + t[:, None]
    x ^= x >> np.uint64(30)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(27)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(31)
    return x


def hfloats(key: str, n: int):
    """Deterministic float64 array in [-1, 1) from a string key (one md5 +
    vectorized integer mixing; used for synthetic model weights)."""
    import numpy as np

    base = h48(key)
    idx = np.arange(n, dtype=np.uint64)
    return (hseq_vec(base, idx, 7) / np.float64(2**64)) * 2.0 - 1.0
