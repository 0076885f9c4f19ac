"""AggregateKnowledge hll-storage-spec v1.0.0 codec.

Byte layout ``V P C B*`` (reference: /root/reference/src/hll.js:437-467,
549-699):

- ``V``: upper nibble schema version (1), lower nibble algorithm code
  (1 EMPTY, 2 EXPLICIT, 3 SPARSE, 4 FULL).
- ``P``: top 3 bits ``regwidth - 1``, bottom 5 bits ``log2m``
  (src/hll.js:443-446).
- ``C``: 1 pad bit | 1 sparse-enabled bit | 6-bit explicit cutoff code.
  js-hll always writes 0 and ignores it on read (src/hll.js:448); we write
  it faithfully and preserve it verbatim across decode->encode round trips
  (postgresql-hll vectors carry 0x48).
- ``B*``: big-endian bit-packed body; FULL = m regwidth-bit words, SPARSE =
  ``(log2m+regwidth)``-bit ``(index << regwidth) | value`` words in
  ascending index order, EXPLICIT = 8-byte big-endian signed values.
  Padding sits at the bottom of the last byte, per the storage spec's
  "padding bits are added to the bottom of the last byte" and the
  reference's top-down sequential bit reader (src/hll.js:426-460 writer,
  src/util.js getBitSequenceValueFromByteArray). Every golden-vector
  config is byte-aligned, so the direction is pinned live instead: the
  reference itself decodes our 18-bit-word sparse hex at log2m=13/rw=5
  register-exactly (tests/test_js_interop.py).

Hex strings carry a 2-char prefix: ``/x`` on write (src/util.js:167-174),
any 2 chars skipped on read (src/util.js:145-147).
"""

from __future__ import annotations

import numpy as np

from .config import (
    ALG_EMPTY,
    ALG_EXPLICIT,
    ALG_FULL,
    ALG_SPARSE,
    SCHEMA_VERSION,
    HLLConfig,
)
from .core.hll import HLL


def to_hex(data: bytes) -> str:
    return "/x" + data.hex()


def from_hex(s: str) -> bytes:
    return bytes.fromhex(s[2:])


def _pack_words(values: np.ndarray, bits_per_word: int) -> bytes:
    """Pack each value into ``bits_per_word`` bits, big-endian, words
    concatenated high-bit-first; final byte zero-padded at the bottom."""
    if values.size == 0:
        return b""
    shifts = np.arange(bits_per_word - 1, -1, -1, dtype=np.uint64)
    bits = (
        (values.astype(np.uint64)[:, None] >> shifts[None, :]) & np.uint64(1)
    ).astype(np.uint8)
    return np.packbits(bits.ravel()).tobytes()


def _unpack_words(body: bytes, bits_per_word: int, n_words: int) -> np.ndarray:
    if n_words == 0:
        return np.zeros(0, dtype=np.uint64)
    bits = np.unpackbits(np.frombuffer(body, dtype=np.uint8))
    bits = bits[: n_words * bits_per_word].reshape(n_words, bits_per_word)
    weights = (np.uint64(1) << np.arange(
        bits_per_word - 1, -1, -1, dtype=np.uint64
    ))
    return (bits.astype(np.uint64) * weights[None, :]).sum(
        axis=1, dtype=np.uint64
    )


def encode(sketch: HLL) -> bytes:
    cfg = sketch.config
    alg = sketch.storage_algorithm
    header = bytes(
        [
            (SCHEMA_VERSION << 4) | alg,
            ((cfg.regwidth - 1) << 5) | cfg.log2m,
            sketch.cutoff_byte & 0xFF,
        ]
    )
    if alg == ALG_EMPTY:
        return header
    if alg == ALG_EXPLICIT:
        # ascending signed order (postgresql-hll convention)
        vals = np.fromiter(sketch._explicit, dtype=np.uint64).astype(np.int64)
        vals.sort()
        return header + vals.astype(">i8").tobytes()
    if alg == ALG_SPARSE:
        regs = sketch.registers()
        idx = np.flatnonzero(regs).astype(np.uint64)
        words = (idx << np.uint64(cfg.regwidth)) | regs[idx]
        return header + _pack_words(words, cfg.log2m + cfg.regwidth)
    # FULL
    return header + _pack_words(
        sketch.registers().astype(np.uint64), cfg.regwidth
    )


def decode(data: bytes) -> HLL:
    if len(data) < 3:
        raise ValueError(f"sketch too short: {len(data)} bytes")
    version = data[0] >> 4
    alg = data[0] & 0x0F
    if version != SCHEMA_VERSION:
        raise ValueError(f"unsupported schema version {version}")
    regwidth = (data[1] >> 5) + 1
    log2m = data[1] & 0x1F
    cutoff_byte = data[2]
    cfg = HLLConfig(log2m, regwidth)
    sparse_on = bool((cutoff_byte >> 6) & 1)
    explicit_threshold = cfg.explicit_threshold(cutoff_byte & 0x3F)
    body = data[3:]

    out = HLL(
        cfg,
        explicit_threshold=explicit_threshold,
        sparse_on=sparse_on,
        cutoff_byte=cutoff_byte,
    )
    if alg == ALG_EMPTY:
        return out
    if alg == ALG_EXPLICIT:
        vals = np.frombuffer(body, dtype=">i8").astype(np.uint64)
        out._set_explicit(set(vals.tolist()))
        return out
    if alg == ALG_SPARSE:
        bits_per_word = cfg.log2m + cfg.regwidth
        n_words = (len(body) * 8) // bits_per_word
        words = _unpack_words(body, bits_per_word, n_words)
        val = (words & np.uint64(cfg.max_register_value)).astype(np.uint8)
        # drop zero-valued words: a real encoder never writes them, and
        # when bits_per_word does not divide the padded body the trailing
        # zero padding would otherwise decode as a phantom (0, 0) word
        keep = val != 0
        idx = (words[keep] >> np.uint64(cfg.regwidth)).astype(np.int64)[::-1]
        val = val[keep][::-1]
        # last write wins on duplicate indexes (src/hll.js:693-696): numpy
        # leaves the winner of a duplicate fancy assignment undefined, so
        # take each index's first word of the reversed list
        idx, last = np.unique(idx, return_index=True)
        regs = np.zeros(cfg.m, dtype=np.uint8)
        regs[idx] = val[last]
        out._set_registers(regs, full=False)
        return out
    if alg == ALG_FULL:
        regs = _unpack_words(body, cfg.regwidth, cfg.m).astype(np.uint8)
        out._set_registers(regs, full=True)
        return out
    raise ValueError(f"unsupported algorithm code {alg}")
