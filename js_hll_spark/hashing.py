"""Hashing for sketch inputs.

The reference leaves hashing to the caller, with the documented convention
of MurmurHash3 x64-128 under a constant seed shared by every sketch that
will ever be unioned (/root/reference/README.markdown:47-58, example seed
0x123456 at README.markdown:81).

Three paths:

- **JVM fast path** (production pipelines): ``pyspark.sql.functions.xxhash64``
  — a 64-bit uniform hash computed JVM-side inside whole-stage codegen, so
  raw values never cross the Arrow boundary. The reference's own test
  vectors pin *post-hash* behavior only, so the hash function is a config
  knob; the only hard rule is the constant shared seed.
- **The same xxhash64 in numpy** (``xxhash64``): for a Python kernel that
  hashes strings it made itself (the Bloom contamination kernels hash the
  shingles they window), so the strings need not go back to the JVM.
- **Murmur3 x64-128 (AK convention)**: numpy-vectorized over uint64 lanes
  for already-fixed-width keys, plus a pure-Python scalar for arbitrary
  byte strings (tests / low-volume interop with AK-ecosystem sketches).
"""

from __future__ import annotations

import numpy as np

# postgresql-hll's hll_hash_* default seed — the ecosystem convention
# that matters for cross-system sketch interop. (The js-hll README's
# usage example illustrates with seed 0x123456, README.markdown:81;
# pass it explicitly where that flow is replayed.)
DEFAULT_SEED = 0

_MASK64 = 0xFFFFFFFFFFFFFFFF
_C1 = 0x87C37B91114253D5
_C2 = 0x4CF5AD432745937F


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK64


def _fmix64(k: int) -> int:
    k ^= k >> 33
    k = (k * 0xFF51AFD7ED558CCD) & _MASK64
    k ^= k >> 33
    k = (k * 0xC4CEB9FE1A85EC53) & _MASK64
    k ^= k >> 33
    return k


def murmur3_x64_128(key: bytes, seed: int = DEFAULT_SEED) -> tuple[int, int]:
    """Scalar MurmurHash3 x64-128 (Austin Appleby's public-domain spec).
    Returns (h1, h2) as unsigned 64-bit ints; AK convention takes h1."""
    length = len(key)
    h1 = h2 = seed & _MASK64
    nblocks = length // 16
    for i in range(nblocks):
        k1 = int.from_bytes(key[i * 16 : i * 16 + 8], "little")
        k2 = int.from_bytes(key[i * 16 + 8 : i * 16 + 16], "little")
        k1 = (k1 * _C1) & _MASK64
        k1 = _rotl64(k1, 31)
        k1 = (k1 * _C2) & _MASK64
        h1 ^= k1
        h1 = _rotl64(h1, 27)
        h1 = (h1 + h2) & _MASK64
        h1 = (h1 * 5 + 0x52DCE729) & _MASK64
        k2 = (k2 * _C2) & _MASK64
        k2 = _rotl64(k2, 33)
        k2 = (k2 * _C1) & _MASK64
        h2 ^= k2
        h2 = _rotl64(h2, 31)
        h2 = (h2 + h1) & _MASK64
        h2 = (h2 * 5 + 0x38495AB5) & _MASK64
    tail = key[nblocks * 16 :]
    k1 = k2 = 0
    if len(tail) > 8:
        k2 = int.from_bytes(tail[8:].ljust(8, b"\0"), "little")
        k2 = (k2 * _C2) & _MASK64
        k2 = _rotl64(k2, 33)
        k2 = (k2 * _C1) & _MASK64
        h2 ^= k2
    if len(tail) > 0:
        k1 = int.from_bytes(tail[:8].ljust(8, b"\0"), "little")
        k1 = (k1 * _C1) & _MASK64
        k1 = _rotl64(k1, 31)
        k1 = (k1 * _C2) & _MASK64
        h1 ^= k1
    h1 ^= length
    h2 ^= length
    h1 = (h1 + h2) & _MASK64
    h2 = (h2 + h1) & _MASK64
    h1 = _fmix64(h1)
    h2 = _fmix64(h2)
    h1 = (h1 + h2) & _MASK64
    h2 = (h2 + h1) & _MASK64
    return h1, h2


def murmur3_64(key: bytes, seed: int = DEFAULT_SEED) -> int:
    """Lower 64 bits (h1) of murmur3 x64-128 — the AK hashing convention."""
    return murmur3_x64_128(key, seed)[0]


# ------------------------------------------------------------ vectorized --

_U = np.uint64


def _np_rotl64(x: np.ndarray, r: int) -> np.ndarray:
    return (x << _U(r)) | (x >> _U(64 - r))


def _np_fmix64(k: np.ndarray) -> np.ndarray:
    k = k ^ (k >> _U(33))
    k = k * _U(0xFF51AFD7ED558CCD)
    k = k ^ (k >> _U(33))
    k = k * _U(0xC4CEB9FE1A85EC53)
    return k ^ (k >> _U(33))


def murmur3_64_uint64(values: np.ndarray, seed: int = DEFAULT_SEED) -> np.ndarray:
    """Vectorized murmur3 x64-128 lower-64 over uint64 keys, where each key
    is hashed as its 8-byte little-endian representation (tail-only path of
    the block algorithm, len=8). Bit-identical to
    ``murmur3_64(v.to_bytes(8, 'little'))`` — asserted in tests."""
    with np.errstate(over="ignore"):
        v = values.astype(_U, copy=False)
        h1 = np.full(v.shape, seed, dtype=_U)
        h2 = np.full(v.shape, seed, dtype=_U)
        k1 = v * _U(_C1)
        k1 = _np_rotl64(k1, 31)
        k1 = k1 * _U(_C2)
        h1 = h1 ^ k1
        h1 = h1 ^ _U(8)
        h2 = h2 ^ _U(8)
        h1 = h1 + h2
        h2 = h2 + h1
        h1 = _np_fmix64(h1)
        h2 = _np_fmix64(h2)
        h1 = h1 + h2
        return h1


_POW256_LE = (np.uint64(1) << (np.arange(8, dtype=np.uint64) * np.uint64(8)))


def _le64(bytes_mat: np.ndarray) -> np.ndarray:
    """(n, 8) uint8 -> little-endian uint64 per row."""
    return (bytes_mat.astype(_U) * _POW256_LE[None, :]).sum(
        axis=1, dtype=_U
    )


def _byte_rows(values, who: str):
    """The Arrow binary layout of ``values`` (list/Series of bytes or str,
    or an Arrow string/binary array, sliced or not): (the rows' bytes
    followed by 16 zero bytes, each row's start in them, each row's
    length). pyarrow does the UTF-8 encode and the offset layout in C (no
    per-row Python); NULL raises."""
    import pyarrow as pa

    if isinstance(values, pa.Array):
        # an Arrow string/binary column is hashed in place
        arr = values.cast(pa.binary())
    elif len(values) and isinstance(
        values[0] if not hasattr(values, "iloc") else values.iloc[0], (bytes, bytearray)
    ):
        arr = pa.array(values, type=pa.binary())
    else:
        arr = pa.array(values, type=pa.string())
    if arr.null_count:
        raise ValueError(f"{who}: null values not supported")
    n = len(arr)
    if n == 0:
        return np.zeros(16, dtype=np.uint8), np.zeros(0, np.int64), np.zeros(0, np.int64)
    _, raw_offsets, raw_data = arr.buffers()
    offsets = np.frombuffer(raw_offsets, dtype=np.int32)[arr.offset : arr.offset + n + 1]
    offsets = offsets.astype(np.int64)
    # a sliced array shares its parent's data buffer: copy only the
    # slice's bytes into the zero-padded buffer
    data = (
        np.frombuffer(raw_data, dtype=np.uint8)[offsets[0] : offsets[-1]]
        if raw_data is not None
        else np.zeros(0, dtype=np.uint8)
    )
    buf = np.concatenate([data, np.zeros(16, dtype=np.uint8)])
    return buf, offsets[:-1] - offsets[0], np.diff(offsets)


def murmur3_64_bytes(values, seed: int = DEFAULT_SEED) -> np.ndarray:
    """Vectorized murmur3 x64-128 lower-64 over VARIABLE-LENGTH byte
    strings (list/Series of bytes or str, or an Arrow string/binary
    array) — bit-identical to the scalar
    ``murmur3_64`` (asserted in tests). Rows are processed in lockstep
    over 16-byte blocks with per-row active masks; the gather is fancy
    indexing into one concatenated buffer, so the whole batch stays in
    numpy (no per-row Python in the loop body)."""
    buf, offsets, lengths = _byte_rows(values, "murmur3_64_bytes")
    n = len(lengths)
    if n == 0:
        return np.zeros(0, dtype=_U)

    from numpy.lib.stride_tricks import sliding_window_view

    windows = sliding_window_view(buf, 16)  # zero-copy (len-15, 16) view

    with np.errstate(over="ignore"):
        h1 = np.full(n, seed, dtype=_U)
        h2 = np.full(n, seed, dtype=_U)
        nblocks = lengths // 16
        for b in range(int(nblocks.max()) if n else 0):
            active = nblocks > b
            starts = offsets[active] + 16 * b
            block = windows[starts]
            k1 = _le64(block[:, :8])
            k2 = _le64(block[:, 8:])
            k1 = _np_rotl64(k1 * _U(_C1), 31) * _U(_C2)
            a1 = h1[active] ^ k1
            a1 = _np_rotl64(a1, 27) + h2[active]
            h1[active] = a1 * _U(5) + _U(0x52DCE729)
            k2 = _np_rotl64(k2 * _U(_C2), 33) * _U(_C1)
            a2 = h2[active] ^ k2
            a2 = _np_rotl64(a2, 31) + h1[active]
            h2[active] = a2 * _U(5) + _U(0x38495AB5)

        # tails: pad to 16 bytes with zeros, mask bytes beyond the tail
        tail_len = (lengths - nblocks * 16).astype(np.int64)
        tstarts = offsets + nblocks * 16
        tail = windows[tstarts]
        mask = np.arange(16)[None, :] < tail_len[:, None]
        tail = np.where(mask, tail, 0).astype(np.uint8)
        k1 = _le64(tail[:, :8])
        k2 = _le64(tail[:, 8:])
        has_k2 = tail_len > 8
        k2m = np.where(has_k2, _np_rotl64(k2 * _U(_C2), 33) * _U(_C1), _U(0))
        h2 = h2 ^ k2m
        has_k1 = tail_len > 0
        k1m = np.where(has_k1, _np_rotl64(k1 * _U(_C1), 31) * _U(_C2), _U(0))
        h1 = h1 ^ k1m

        h1 = h1 ^ lengths.astype(_U)
        h2 = h2 ^ lengths.astype(_U)
        h1 = h1 + h2
        h2 = h2 + h1
        h1 = _np_fmix64(h1)
        h2 = _np_fmix64(h2)
        return h1 + h2


# XXH64 primes (Yann Collet's xxHash spec, as in Spark's XXH64)
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5

# Spark's ``xxhash64`` seed
SPARK_XXHASH_SEED = 42


def _le_words(buf: np.ndarray, width: int) -> np.ndarray:
    """Zero-copy unaligned view of ``buf``: element i is the ``width``-byte
    little-endian word starting at byte i."""
    return np.ndarray(
        (len(buf) - width + 1,), dtype=f"<u{width}", buffer=buf, strides=(1,)
    )


def xxhash64(values, seed: int = SPARK_XXHASH_SEED) -> np.ndarray:
    """Vectorized XXH64 over VARIABLE-LENGTH byte strings (same inputs as
    :func:`murmur3_64_bytes`), as uint64 — bit-identical to Spark's
    ``F.xxhash64`` of a string or binary column at its seed 42 (asserted
    against the JVM in tests; ``.view(np.int64)`` gives Spark's signed
    value). Rows run in lockstep: the 32-byte stripes of rows that have
    them, then up to three 8-byte words, one 4-byte word and three bytes,
    each step a gather of unaligned little-endian words from one
    buffer."""
    buf, starts, lengths = _byte_rows(values, "xxhash64")
    n = len(lengths)
    if n == 0:
        return np.zeros(0, dtype=_U)
    w64, w32 = _le_words(buf, 8), _le_words(buf, 4)
    p1, p2, p3, p4, p5 = _U(_P1), _U(_P2), _U(_P3), _U(_P4), _U(_P5)

    def round_(acc, word):
        return _np_rotl64(acc + word * p2, 31) * p1

    with np.errstate(over="ignore"):
        h = np.full(n, (seed + _P5) & _MASK64, dtype=_U)
        nstripes = lengths // 32
        big = np.flatnonzero(nstripes)
        if big.size:
            s, ns = starts[big], nstripes[big]
            v = [
                np.full(big.size, (seed + d) & _MASK64, dtype=_U)
                for d in (_P1 + _P2, _P2, 0, -_P1)
            ]
            for b in range(int(ns.max())):
                act = np.flatnonzero(ns > b)
                off = s[act] + 32 * b
                for j in range(4):
                    v[j][act] = round_(v[j][act], w64[off + 8 * j])
            hb = (
                _np_rotl64(v[0], 1) + _np_rotl64(v[1], 7)
                + _np_rotl64(v[2], 12) + _np_rotl64(v[3], 18)
            )
            for vj in v:
                hb = (hb ^ round_(_U(0), vj)) * p1 + p4
            h[big] = hb
        h += lengths.astype(_U)

        pos = starts + 32 * nstripes
        nwords = (lengths % 32) // 8
        for j in range(int(nwords.max())):
            act = np.flatnonzero(nwords > j)
            k = round_(_U(0), w64[pos[act] + 8 * j])
            h[act] = _np_rotl64(h[act] ^ k, 27) * p1 + p4
        pos = starts + (lengths & ~7)
        act = np.flatnonzero(lengths & 4)
        if act.size:
            k = w32[pos[act]].astype(_U) * p1
            h[act] = _np_rotl64(h[act] ^ k, 23) * p2 + p3
            pos[act] += 4
        nbytes = lengths & 3
        for j in range(int(nbytes.max())):
            act = np.flatnonzero(nbytes > j)
            k = buf[pos[act] + j].astype(_U) * p5
            h[act] = _np_rotl64(h[act] ^ k, 11) * p1

        h ^= h >> _U(33)
        h *= p2
        h ^= h >> _U(29)
        h *= p3
        h ^= h >> _U(32)
        return h


def to_uint64(arr: np.ndarray) -> np.ndarray:
    """Reinterpret a signed int64 array (e.g. Spark xxhash64 output) as
    uint64 without copying."""
    a = np.ascontiguousarray(arr)
    if a.dtype == np.uint64:
        return a
    return a.astype(np.int64, copy=False).view(np.uint64)
