"""Unit + property tests for the numpy HLL core, mirroring the reference
unit suite (/root/reference/test/hll-test.js) and the BASELINE merge
properties (commutativity / associativity / idempotence / partition-order
invariance)."""

from __future__ import annotations

import math

import numpy as np
import pytest

from js_hll_spark import HLL, HLLConfig, intersection_cardinality
from js_hll_spark.core.hll import registers_from_hashes, rho64


def full_hll(log2m=13, regwidth=5) -> HLL:
    return HLL(HLLConfig(log2m, regwidth), explicit_threshold=0, sparse_on=False)


# ----------------------------------------------------------- construct --


@pytest.mark.parametrize("log2m", [3, 31, -1])
def test_invalid_log2m(log2m):
    with pytest.raises(ValueError):
        HLLConfig(log2m, 5)


@pytest.mark.parametrize("rw", [0, 9])
def test_invalid_regwidth(rw):
    with pytest.raises(ValueError):
        HLLConfig(13, rw)


def test_defaults():
    cfg = HLLConfig()
    assert cfg.log2m == 13 and cfg.regwidth == 5 and cfg.m == 8192


# -------------------------------------------------- addRaw bit-exact -----
# fixtures from /root/reference/test/hll-test.js:51-99 ([lower32, upper32])


def _h(lower, upper):
    return np.array([(upper << 32) | lower], dtype=np.uint64)


def test_addraw_register_15_value_3():
    # [0x89ABCD8F, 0x12345678] @ (log2m=5, rw=5): idx=0xF=15,
    # w = h >> 5 has lsb at position 2 (0-based) -> rho 3
    s = full_hll(5, 5)
    s.add_raw64(_h(0x89ABCD8F, 0x12345678))
    regs = s.registers()
    assert regs[15] == 3
    assert regs.sum() == 3


def test_addraw_capped_at_max_register():
    # [0x8930000F, 0x01234567] @ (5,4): true rho would exceed 15 -> capped
    s = full_hll(5, 4)
    s.add_raw64(_h(0x8930000F, 0x01234567))
    assert s.registers()[15] == 15


def test_addraw_max_merge():
    s = full_hll(5, 5)
    s.add_raw64(_h(0x89ABCD8F, 0x12345678))  # reg 15 = 3
    s.add_raw64(_h(0x8FFFFFCF, 0x12345678))  # reg 15 -> larger rho wins
    v1 = int(s.registers()[15])
    s.add_raw64(_h(0x89ABCD8F, 0x12345678))  # smaller again: no change
    assert int(s.registers()[15]) == v1 >= 3


def test_rho_full_64_bits():
    """SURVEY.md §1.2: unlike js-hll's 32-bit quirk, rho must examine bits
    log2m..63. Hash 2**52 @ log2m=13/rw=8: w = 2**39 -> rho 40."""
    s = full_hll(13, 8)
    s.add_raw64(np.array([1 << 52], dtype=np.uint64))
    assert s.registers()[0] == 40


def test_rho_zero_substream():
    # h = 5 @ log2m=13: idx 5, w = 0 -> register stays 0 (p(0)=0)
    s = full_hll(13, 5)
    s.add_raw64(np.array([5], dtype=np.uint64))
    assert s.registers().sum() == 0


def test_rho64_vector():
    w = np.array([0, 1, 2, 4, 1 << 63, 0b1100], dtype=np.uint64)
    out = rho64(w, 31)
    np.testing.assert_array_equal(out, [0, 1, 2, 3, 31, 3])


# ---------------------------------------- correction-range constants -----
# /root/reference/test/hll-test.js:102-141 (log2m=13, rw=5): all-registers-
# set-to-r constructions hitting each estimator branch exactly.


def _all_regs(value, log2m=13, rw=5):
    s = full_hll(log2m, rw)
    s._regs[:] = value
    return s


def test_small_range_single_register():
    # one register set -> small range (test/hll-test.js:104-110)
    s = _all_regs(0)
    s._regs[0] = 1
    assert math.isclose(
        s.algorithm_cardinality(), 1.0000610401237584, rel_tol=1e-12
    )
    assert s.cardinality() == 2  # matches Java


def test_small_range_correction():
    # all but one register set to 1 (test/hll-test.js:111-119)
    s = _all_regs(1)
    s._regs[8191] = 0
    assert math.isclose(
        s.algorithm_cardinality(), 73817.40214091193, rel_tol=1e-12
    )
    assert s.cardinality() == 73818


def test_uncorrected_range():
    # all registers 7 -> between cutoffs (test/hll-test.js:122-130)
    s = _all_regs(7)
    cfg = s.config
    got = s.algorithm_cardinality()
    assert math.isclose(got, 756238.261734032, rel_tol=1e-12)
    assert s.cardinality() == 756239
    assert cfg.small_estimator_cutoff < got <= cfg.large_estimator_cutoff


def test_large_range_correction():
    # all registers 30 -> large-range branch (test/hll-test.js:132-140)
    s = _all_regs(30)
    assert math.isclose(
        s.algorithm_cardinality(), 11235061032916.31, rel_tol=1e-12
    )
    assert s.cardinality() == 11235061032917


def test_large_range_nan():
    """Estimator >= 2**L -> log of non-positive -> NaN, matching JS
    Math.log semantics (test/hll-test.js:477-480)."""
    s = _all_regs(31, log2m=4, rw=5)
    assert math.isnan(s.algorithm_cardinality()) or math.isinf(
        s.algorithm_cardinality()
    )


def test_cardinality_is_ceil():
    s = full_hll(13, 5)
    s.add_raw64(np.array([12345, 987654321], dtype=np.uint64))
    assert s.cardinality() == math.ceil(s.algorithm_cardinality())


def test_error_bound_constant():
    assert math.isclose(HLLConfig(13, 5).relative_error, 1.04 / math.sqrt(8192))


# ------------------------------------------------------------- union -----


def rand_hashes(n, seed):
    return np.random.default_rng(seed).integers(
        0, 2 ** 63, size=n, dtype=np.uint64
    )


def test_union_commutative_associative_idempotent():
    cfg = HLLConfig(11, 5)
    parts = [rand_hashes(5000, s) for s in (1, 2, 3)]
    sketches = []
    for p in parts:
        s = HLL(cfg, explicit_threshold=0)
        s.add_raw64(p)
        sketches.append(s)
    a, b, c = sketches
    ab = a.clone().union(b)
    ba = b.clone().union(a)
    np.testing.assert_array_equal(ab.registers(), ba.registers())
    abc1 = a.clone().union(b.clone().union(c))
    abc2 = a.clone().union(b).union(c)
    np.testing.assert_array_equal(abc1.registers(), abc2.registers())
    aa = a.clone().union(a)
    np.testing.assert_array_equal(aa.registers(), a.registers())


def test_partition_order_invariance():
    """Same rows in shuffled partition assignments -> bit-identical merged
    sketch (BASELINE.json merge clause)."""
    cfg = HLLConfig(11, 5)
    values = rand_hashes(30000, 42)
    direct = HLL(cfg, explicit_threshold=0)
    direct.add_raw64(values)
    rng = np.random.default_rng(7)
    for trial in range(3):
        perm = rng.permutation(values.size)
        shuffled = values[perm]
        merged = HLL(cfg, explicit_threshold=0)
        for chunk in np.array_split(shuffled, 13):
            part = HLL(cfg, explicit_threshold=0)
            part.add_raw64(chunk)
            merged.union(part)
        assert merged.to_bytes() == direct.to_bytes()


def test_union_strict_mismatch_raises():
    a = full_hll(11, 5)
    b = full_hll(12, 5)
    with pytest.raises(ValueError):
        a.union(b, strict=True)


def test_union_autofold_log2m():
    """Mismatched log2m folds the wider down (the reference's commented-out
    TODO, src/hll.js:336-341): result equals building both at the smaller.
    (Dense input: the fold identity holds exactly only when registers are
    occupied — see fold_registers docstring.)"""
    va, vb = rand_hashes(200_000, 1), rand_hashes(200_000, 2)
    wide = full_hll(13, 5)
    wide.add_raw64(va)
    narrow = full_hll(11, 5)
    narrow.add_raw64(vb)
    u = wide.clone().union(narrow)
    both = full_hll(11, 5)
    both.add_raw64(va)
    both.add_raw64(vb)
    np.testing.assert_array_equal(u.registers(), both.registers())


def test_union_autofold_regwidth():
    va, vb = rand_hashes(20000, 3), rand_hashes(20000, 4)
    widereg = full_hll(11, 6)
    widereg.add_raw64(va)
    narrowreg = full_hll(11, 5)
    narrowreg.add_raw64(vb)
    u = widereg.clone().union(narrowreg)
    both = full_hll(11, 5)
    both.add_raw64(va)
    both.add_raw64(vb)
    np.testing.assert_array_equal(u.registers(), both.registers())


def test_union_explicit_promotion_chain():
    """EXPLICIT x EXPLICIT stays exact; overflow promotes through SPARSE."""
    cfg = HLLConfig(11, 5)
    a = HLL(cfg, explicit_threshold=128)
    b = HLL(cfg, explicit_threshold=128)
    a.add_raw64(np.arange(0, 100, dtype=np.uint64) * np.uint64(2654435761))
    b.add_raw64(np.arange(50, 120, dtype=np.uint64) * np.uint64(2654435761))
    u = a.clone().union(b)
    assert u.cardinality() == 120  # exact while explicit
    b.add_raw64(np.arange(120, 400, dtype=np.uint64) * np.uint64(2654435761))
    assert b._explicit is None  # promoted


# -------------------------------------------------------------- fold -----


@pytest.mark.parametrize("target", [4, 7, 10])
def test_fold_equals_direct_build(target):
    """fold(k) == direct build at k over dense random input
    (test/hll-test.js:231-255, seeded numpy instead of JS RNG)."""
    values = rand_hashes(1_000_000, 99)
    big = full_hll(13, 5)
    big.add_raw64(values)
    small = full_hll(target, 5)
    small.add_raw64(values)
    folded = big.fold(target)
    np.testing.assert_array_equal(folded.registers(), small.registers())
    assert math.isclose(
        folded.algorithm_cardinality(),
        small.algorithm_cardinality(),
        rel_tol=1e-12,
    )


def test_fold_validates_target():
    s = full_hll(11, 5)
    with pytest.raises(ValueError):
        s.fold(3)  # js-hll allows 1..3 then throws at estimate; we reject
    with pytest.raises(ValueError):
        s.fold(12)


def test_fold_keeps_storage_settings():
    """A fold keeps the source's storage settings: a SPARSE sketch folds
    to SPARSE with its cutoff byte, and its registers and estimate equal
    the fold of the same values held FULL, which stays FULL. A
    mismatched-config union of the SPARSE sketch stays SPARSE too."""
    from js_hll_spark.config import ALG_FULL, ALG_SPARSE

    values = rand_hashes(200, 11)
    sparse = HLL(HLLConfig(11, 5))
    sparse.add_raw64(values)
    full = full_hll(11, 5)
    full.add_raw64(values)
    assert sparse.storage_algorithm == ALG_SPARSE
    for folded in (sparse.fold(10), sparse.fold_to(HLLConfig(10, 4))):
        ref = full.fold_to(folded.config)
        assert folded.storage_algorithm == ALG_SPARSE
        assert ref.storage_algorithm == ALG_FULL
        assert folded.cutoff_byte == sparse.cutoff_byte
        assert folded.to_bytes()[2] == sparse.to_bytes()[2]
        np.testing.assert_array_equal(folded.registers(), ref.registers())
        assert folded.algorithm_cardinality() == ref.algorithm_cardinality()
    small = HLL(HLLConfig(10, 5))
    small.add_raw64(rand_hashes(3, 12))
    u = sparse.clone().union(small)
    assert u.config == HLLConfig(10, 5)
    assert u.storage_algorithm == ALG_SPARSE
    assert full.clone().union(small).storage_algorithm == ALG_FULL


def test_fold_same_log2m_is_clone():
    s = full_hll(11, 5)
    s.add_raw64(rand_hashes(100, 5))
    f = s.fold(11)
    assert f is not s
    np.testing.assert_array_equal(f.registers(), s.registers())


# ------------------------------------------------------ clone / clear ----


def test_clone_deep():
    s = full_hll(11, 5)
    s.add_raw64(rand_hashes(1000, 6))
    c = s.clone()
    c.add_raw64(rand_hashes(1000, 7))
    assert not np.array_equal(c.registers(), s.registers())


def test_clear():
    s = full_hll(11, 5)
    s.add_raw64(rand_hashes(1000, 8))
    s.clear()
    assert s.registers().sum() == 0
    assert s.cardinality() == 0


# ------------------------------------------------------- intersection ----


def test_intersection_inclusion_exclusion():
    cfg = HLLConfig(13, 5)
    overlap = rand_hashes(20000, 10)
    only_a = rand_hashes(30000, 11)
    only_b = rand_hashes(25000, 12)
    a = HLL(cfg, explicit_threshold=0)
    a.add_raw64(np.concatenate([overlap, only_a]))
    b = HLL(cfg, explicit_threshold=0)
    b.add_raw64(np.concatenate([overlap, only_b]))
    est = intersection_cardinality(a, b)
    union_card = a.clone().union(b).algorithm_cardinality()
    # error proportional to the union's cardinality (README.markdown:62-69)
    assert abs(est - 20000) < 4 * 1.04 / math.sqrt(cfg.m) * union_card


# ---------------------------------------------------- estimate accuracy --


@pytest.mark.parametrize("log2m", [10, 12, 14])
def test_error_within_published_bound(log2m):
    """Empirical relative error within 4 sigma of 1.04/sqrt(m) for a single
    seeded trial at n >> m (statistical test proper runs in
    test_accuracy_stats.py)."""
    n = 200_000
    values = rand_hashes(n, 100 + log2m)
    s = full_hll(log2m, 5)
    s.add_raw64(values)
    rel = abs(s.algorithm_cardinality() - n) / n
    assert rel < 4 * 1.04 / math.sqrt(2 ** log2m)


def test_fold_reference_compat_zero_registers():
    """Contract pin (VERDICT r1 #4): default fold keeps zero registers at
    0 (== direct-build semantics); reference_compat writes old+diff
    unconditionally as js-hll does (src/hll.js:394-396), byte-matching
    reference-folded sparse register files."""
    big = full_hll(13, 5)
    # occupy a handful of low registers only -> the folded file has zeros
    big.add_raw64(rand_hashes(20, 7))
    regs13 = big.registers()
    diff = 13 - 10
    default = big.fold(10).registers()
    compat = big.fold(10, reference_compat=True).registers()
    zero_idx = np.flatnonzero(regs13[: 1 << 10] == 0)
    occ_idx = np.flatnonzero(regs13[: 1 << 10] != 0)
    assert len(zero_idx) > 0 and len(occ_idx) > 0
    np.testing.assert_array_equal(default[zero_idx], 0)
    np.testing.assert_array_equal(compat[zero_idx], diff)
    # occupied registers agree between the modes (old + diff, clamped)
    np.testing.assert_array_equal(default[occ_idx], compat[occ_idx])
    # on fully-dense registers the two modes are identical
    big2 = full_hll(13, 5)
    big2.add_raw64(rand_hashes(1_000_000, 3))
    assert (big2.registers()[: 1 << 10] == 0).sum() == 0
    np.testing.assert_array_equal(
        big2.fold(10).registers(),
        big2.fold(10, reference_compat=True).registers(),
    )


def test_sizing_table_reproduces_reference_readme():
    """max_estimable_cardinality and storage_bytes reproduce every cell
    of the reference's published sizing table (README.markdown:30-44,
    log2m 10-17 x regwidth 1-5, 2 significant figures + exact bytes)."""
    from js_hll_spark.config import HLLConfig, config_for

    table = {
        10: ["7.4e+02", "3.0e+03", "4.7e+04", "1.2e+07", "7.9e+11"],
        11: ["1.5e+03", "5.9e+03", "9.5e+04", "2.4e+07", "1.6e+12"],
        12: ["3.0e+03", "1.2e+04", "1.9e+05", "4.8e+07", "3.2e+12"],
        13: ["5.9e+03", "2.4e+04", "3.8e+05", "9.7e+07", "6.3e+12"],
        14: ["1.2e+04", "4.7e+04", "7.6e+05", "1.9e+08", "1.3e+13"],
        15: ["2.4e+04", "9.5e+04", "1.5e+06", "3.9e+08", "2.5e+13"],
        16: ["4.7e+04", "1.9e+05", "3.0e+06", "7.7e+08", "5.1e+13"],
        17: ["9.5e+04", "3.8e+05", "6.0e+06", "1.5e+09", "1.0e+14"],
    }
    for log2m, row in table.items():
        for rw, want in enumerate(row, start=1):
            cfg = HLLConfig(log2m, rw)
            # within 6%: the published cells are 2-significant-figure
            # roundings (granularity up to 5%) of alpha*2^L computed with
            # the plain 0.7213 constant; we use the exact alpha_m_squared
            got = cfg.max_estimable_cardinality
            assert abs(got - float(want)) / float(want) < 0.06, (log2m, rw)
            assert cfg.storage_bytes == (2**log2m) * rw // 8
    # the sizing table as a function: the README's 1.15%-error example
    cfg = config_for(rel_error=0.0115, min_capacity=1e12)
    assert (cfg.log2m, cfg.regwidth) == (13, 5)
    # 1.04/sqrt(2^9) = 0.0460 <= 0.05 < 1.04/sqrt(2^8) = 0.065
    assert config_for(rel_error=0.05).log2m == 9
    assert config_for(min_capacity=1e6).max_estimable_cardinality >= 1e6
    # capacity-only targets are always met (capacity grows doubly-
    # exponentially in regwidth, so even log2m=4 reaches 1e15 at rw=6;
    # the log2m-growth fallback exists for any sizing the rw ladder
    # cannot cover)
    big = config_for(min_capacity=1e15)
    assert big.max_estimable_cardinality >= 1e15
    # ADVICE r3: an unreachable error target raises instead of handing
    # back a log2m=30 config that misses it silently
    import pytest

    with pytest.raises(ValueError, match="unreachable"):
        config_for(rel_error=1e-6)


def test_decode_cutoff_disabled_explicit_roundtrip():
    """An EXPLICIT blob whose cutoff byte disables explicit mode (js-hll
    always writes 0x00) must decode into a PURE explicit object: the
    old dual-mode corruption re-encoded as FULL-of-zeros and lost the
    whole set."""
    import numpy as np

    from js_hll_spark.config import HLLConfig
    from js_hll_spark.core.hll import ALG_EXPLICIT, HLL

    s = HLL(HLLConfig(11, 5))
    s.add_raw64(np.array([3, 9], dtype=np.uint64))
    blob = bytearray(s.to_bytes())
    blob[2] = 0x00  # the reference's constant cutoff byte
    back = HLL.from_bytes(bytes(blob))
    assert back.storage_algorithm == ALG_EXPLICIT
    assert back._regs is None
    again = HLL.from_bytes(back.to_bytes())
    assert again.cardinality() == 2


def test_cardinality_propagates_nan_like_js():
    """A saturated regwidth-1 sketch's estimate is NaN/inf by reference
    semantics; cardinality() must propagate it (JS Math.ceil(NaN) is
    NaN), not raise ValueError/OverflowError."""
    import math

    import numpy as np

    from js_hll_spark.config import HLLConfig
    from js_hll_spark.core.hll import HLL

    s = HLL(HLLConfig(4, 1), explicit_threshold=0, sparse_on=False)
    s._regs = np.ones(16, dtype=np.uint8)
    c = s.cardinality()
    assert isinstance(c, float) and (math.isnan(c) or math.isinf(c))


def test_custom_threshold_survives_roundtrip():
    """A power-of-two explicit threshold encodes in the 6-bit cutoff
    code and round-trips (it used to collapse to 'explicit disabled',
    promoting out of EXPLICIT on the next add)."""
    import numpy as np

    from js_hll_spark.config import HLLConfig
    from js_hll_spark.core.hll import HLL

    s = HLL(HLLConfig(16, 5), explicit_threshold=4096)
    s.add_raw64(np.arange(10, dtype=np.uint64) + 7)
    back = HLL.from_bytes(s.to_bytes())
    assert back.explicit_threshold == 4096
    back.add_raw64(np.array([999_999], dtype=np.uint64))
    assert back._explicit is not None and back.cardinality() == 11


def test_union_with_empty_is_identity_in_every_mode():
    """EXPLICIT union empty-probabilistic used to demote the exact set
    to an estimate; EMPTY is the lattice bottom, union must be the
    identity."""
    import numpy as np

    from js_hll_spark.config import HLLConfig
    from js_hll_spark.core.hll import HLL

    a = HLL(HLLConfig(13, 5))
    a.add_raw64(np.arange(100, dtype=np.uint64) * 7919 + 1)
    for empty in (
        HLL(HLLConfig(13, 5), explicit_threshold=0),             # sparse mode
        HLL(HLLConfig(13, 5), explicit_threshold=0, sparse_on=False),  # full zeros
        HLL(HLLConfig(13, 5)),                                   # explicit
    ):
        before = bytes(a.to_bytes())
        a.union(empty)
        assert a._explicit is not None and a.cardinality() == 100
        assert bytes(a.to_bytes()) == before



# ---------------------------------------------------- union mode lattice --

# format code and sha256[:16] of a.clone().union(b).to_bytes() at log2m 11,
# rw 5, for every ordered pair of the five states below
_LATTICE = {
    ("EMPTY", "EMPTY"): (1, "60de1d9177d1a705"),
    ("EMPTY", "EXPLICIT"): (2, "2bbf7e602b9e093f"),
    ("EMPTY", "SPARSE"): (3, "6d3f925e907c68e8"),
    ("EMPTY", "FULL_FEW"): (4, "1338e24c81fc7918"),
    ("EMPTY", "FULL"): (4, "47ef0ef40a86d080"),
    ("EXPLICIT", "EMPTY"): (2, "2bbf7e602b9e093f"),
    ("EXPLICIT", "EXPLICIT"): (2, "2bbf7e602b9e093f"),
    ("EXPLICIT", "SPARSE"): (3, "5e7dbc854644dfc0"),
    ("EXPLICIT", "FULL_FEW"): (4, "82bd3eb6b8ea3f25"),
    ("EXPLICIT", "FULL"): (4, "e9a4ac033c7f993c"),
    ("SPARSE", "EMPTY"): (3, "b52973b8d3221c95"),
    ("SPARSE", "EXPLICIT"): (3, "a6200131d77b3f2d"),
    ("SPARSE", "SPARSE"): (3, "b52973b8d3221c95"),
    ("SPARSE", "FULL_FEW"): (4, "658abcbb998dd95c"),
    ("SPARSE", "FULL"): (4, "e14b233624292cb5"),
    ("FULL_FEW", "EMPTY"): (4, "e884814d50b7ac5e"),
    ("FULL_FEW", "EXPLICIT"): (4, "24d68b57aa05e3fe"),
    ("FULL_FEW", "SPARSE"): (4, "658abcbb998dd95c"),
    ("FULL_FEW", "FULL_FEW"): (4, "e884814d50b7ac5e"),
    ("FULL_FEW", "FULL"): (4, "8d2c711a43ec0729"),
    ("FULL", "EMPTY"): (4, "bf297dfc685f39e1"),
    ("FULL", "EXPLICIT"): (4, "e0e2e5a99d6793df"),
    ("FULL", "SPARSE"): (4, "e14b233624292cb5"),
    ("FULL", "FULL_FEW"): (4, "8d2c711a43ec0729"),
    ("FULL", "FULL"): (4, "bf297dfc685f39e1"),
}


def _lattice_states():
    cfg = HLLConfig(11, 5)

    def h(n, seed):
        return np.random.default_rng(seed).integers(0, 2**64, size=n, dtype=np.uint64)

    # a FULL blob with the sparse bit set and few registers: it stays FULL
    # on decode, and so must every union it takes part in
    few = HLL(cfg, explicit_threshold=0, sparse_on=False).add_raw64(h(30, 4))
    blob = bytearray(few.to_bytes())
    blob[2] |= 0x40
    return {
        "EMPTY": HLL(cfg),
        "EXPLICIT": HLL(cfg).add_raw64(h(20, 1)),
        "SPARSE": HLL(cfg, explicit_threshold=0).add_raw64(h(200, 2)),
        "FULL_FEW": HLL.from_bytes(bytes(blob)),
        "FULL": HLL(cfg, explicit_threshold=0).add_raw64(h(5000, 3)),
    }


def test_union_mode_lattice_pinned():
    import hashlib

    states = _lattice_states()
    assert [s.storage_algorithm for s in states.values()] == [1, 2, 3, 4, 4]
    got = {}
    for a, sa in states.items():
        for b, sb in states.items():
            u = sa.clone().union(sb)
            got[(a, b)] = (
                u.storage_algorithm,
                hashlib.sha256(u.to_bytes()).hexdigest()[:16],
            )
    assert got == _LATTICE


def test_sparse_decode_last_write_wins():
    """Duplicate indexes in a SPARSE body resolve to the last word
    (src/hll.js:693-696), whatever order numpy assigns them in."""
    from js_hll_spark.codec import _pack_words

    words = [(5, 3), (9, 2), (5, 1), (9, 7), (700, 4)]
    body = _pack_words(np.array([(i << 5) | v for i, v in words], dtype=np.uint64), 16)
    s = HLL.from_bytes(bytes.fromhex("138b48") + body)
    regs = s.registers()
    assert np.flatnonzero(regs).tolist() == [5, 9, 700]
    assert regs[[5, 9, 700]].tolist() == [1, 7, 4]
    assert s.to_bytes().hex() == "138b4800a101275784"
    assert s.algorithm_cardinality() == 3.0021994137521975
