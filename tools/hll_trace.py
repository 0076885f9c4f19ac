"""Seeded differential trace of the HLL core and codec.

Each trace draws one (log2m, regwidth) config and a pool of sketches with
mixed explicit thresholds and sparse settings, then runs 14 random steps:
adds sized to cross both promotion thresholds, unions in the pool,
mismatched-shape unions, folds, encode -> decode (sometimes with a
rewritten cutoff byte), hand-built SPARSE blobs with duplicate indexes and
zero words, clones and clears. Every state after a step goes into one
sha256 digest: its bytes, storage format, is_empty, estimate repr and
cardinality. Two checkouts that print the same digest for a seed behave
the same on every visited state.

The package comes from PYTHONPATH, so one copy of this script compares
two trees (run it from outside both):

    PYTHONPATH=<tree> python tools/hll_trace.py <seed> [n_traces]
"""
import hashlib
import sys
from collections import Counter

import numpy as np

from js_hll_spark import codec
from js_hll_spark.config import HLLConfig
from js_hll_spark.core.hll import HLL

CONFIGS = [(4, 1), (5, 3), (9, 5), (11, 5), (11, 6), (12, 8), (13, 5), (14, 4)]
NAMES = {1: "EMPTY", 2: "EXPLICIT", 3: "SPARSE", 4: "FULL"}


def main(seed, n_traces):
    rng = np.random.default_rng(seed)
    digest = hashlib.sha256()
    formats = Counter()
    n_states = 0

    def hashes(n):
        return rng.integers(0, 2**64, size=n, dtype=np.uint64)

    def new_sketch(cfg):
        thr = ["auto", 0, int(rng.integers(1, 64))][int(rng.integers(0, 3))]
        return HLL(cfg, explicit_threshold=thr, sparse_on=bool(rng.integers(0, 2)))

    def batch(s):
        cfg = s.config
        # up to a few hashes, or enough to cross the explicit threshold,
        # to cross sparse promotion, or to fill the register file
        tops = [
            8,
            max(2, 2 * max(1, s.explicit_threshold)),
            max(2, int(cfg.sparse_threshold * 1.3)),
            2 * cfg.m,
        ]
        top = tops[int(rng.integers(0, 4))]
        return hashes(int(rng.integers(1, top + 1)))

    def record(tag, s):
        nonlocal n_states
        alg = s.storage_algorithm
        formats[NAMES[alg]] += 1
        n_states += 1
        est = s.algorithm_cardinality()
        state = f"{tag}|{s.config}|{alg}|{s.is_empty()}|{est!r}|{s.cardinality()!r}|"
        digest.update(state.encode())
        digest.update(s.to_bytes())

    def sparse_blob(cfg):
        # hand-built SPARSE body with duplicate indexes and zero words
        n = int(rng.integers(1, max(2, cfg.sparse_threshold)))
        idx = rng.integers(0, min(cfg.m, 64), size=n).astype(np.uint64)
        val = rng.integers(0, cfg.max_register_value + 1, size=n).astype(np.uint64)
        words = (idx << np.uint64(cfg.regwidth)) | val
        cutoff = int(rng.choice([0x00, 0x40, 0x7F, 0x48]))
        head = bytes([0x13, ((cfg.regwidth - 1) << 5) | cfg.log2m, cutoff])
        return head + codec._pack_words(words, cfg.log2m + cfg.regwidth)

    for t in range(n_traces):
        log2m, rw = CONFIGS[int(rng.integers(0, len(CONFIGS)))]
        cfg = HLLConfig(log2m, rw)
        pool = [new_sketch(cfg) for _ in range(3)]
        for step in range(14):
            op = int(rng.integers(0, 9))
            i = int(rng.integers(0, len(pool)))
            s = pool[i]
            if op <= 2:
                s.add_raw64(batch(s))
            elif op == 3:
                s.union(pool[int(rng.integers(0, len(pool)))])
            elif op == 4:
                other_cfg = HLLConfig(
                    max(4, log2m - int(rng.integers(0, 3))),
                    max(1, rw - int(rng.integers(0, 2))),
                )
                other = new_sketch(other_cfg)
                other.add_raw64(batch(other))
                if rng.integers(0, 2):
                    s.union(other)
                else:
                    other.union(s)
                    pool[i] = s = other
            elif op == 5:
                target = int(rng.integers(4, s.config.log2m + 1))
                pool[i] = s = s.fold(target, reference_compat=bool(rng.integers(0, 2)))
            elif op == 6:
                blob = bytearray(s.to_bytes())
                if rng.integers(0, 2):
                    # flip the sparse bit / explicit code of the cutoff byte
                    blob[2] = int(rng.choice([0x00, 0x40, 0x7F, 0x3F, blob[2] ^ 0x40]))
                pool[i] = s = codec.decode(bytes(blob))
            elif op == 7:
                pool[i] = s = codec.decode(sparse_blob(s.config))
            else:
                if rng.integers(0, 4) == 0:
                    s.clear()
                else:
                    pool[i] = s = s.clone()
            record(f"{t}:{step}:{op}", s)
    print(seed, n_states, digest.hexdigest(), dict(sorted(formats.items())))


if __name__ == "__main__":
    main(int(sys.argv[1]), int(sys.argv[2]) if len(sys.argv) > 2 else 300)
