"""Deterministic, reproducible sampling for training-data pipelines.

Three operators, all pure functions of the data (no RNG state, no
partition-order dependence — the property that matters when a 100 TB
corpus subsample must be re-derivable bit-for-bit months later):

- ``sample_bernoulli``: keep a row iff its key's hash falls under the
  fraction threshold. Same keys always sample together across tables
  (join-consistent sampling, the Bernoulli-by-key trick).
- ``sample_stratified``: exactly ``k`` rows per group, chosen by hash
  rank — per-domain / per-language quotas without a global sort.
- ``sample_fixed``: exactly ``n`` rows globally by hash order. Spark
  executes orderBy+limit as TakeOrderedAndProject (per-partition local
  top-n, then a single driver-side merge of n-row heads — never a full
  sort shuffle), so this is the scale-safe "deterministic reservoir".

All three derive randomness from ``md5(key)`` so an external engine
(the pytest DuckDB oracles) reproduces the exact row set; swap
``hash_expr`` for ``F.xxhash64`` when throughput matters more than
cross-engine reproducibility (same plan shape, rows-only).

Key contract: ``sample_bernoulli`` / ``split_train_holdout`` sample by
DISTINCT key (multi-row keys travel together — that is the point). The
row samplers (``sample_stratified`` / ``sample_fixed`` /
``sample_weighted``) require ``key_col`` to uniquely identify rows (a
row id): rows sharing a key tie on every sort criterion, and which
tied rows survive the cut would then depend on partition order —
exactly the nondeterminism this module exists to rule out.

Registry surface (round 5): sample_bernoulli / sample_stratified /
sample_fixed / sample_split are ORACLED queries() entries in
oracle/queries.py (rotating driver window); the full property
suite — nestedness, join-consistency, split disjointness, weighted
Efraimidis–Spirakis mirror, null-key safety — stays in
tests/test_sampling.py.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, functions as F


def _tmp_name(df: DataFrame, base: str) -> str:
    """A working-column name not already present on ``df`` — withColumn
    REPLACES same-named columns, so an unlucky input column would be
    silently overwritten and dropped."""
    name = base
    while name in df.columns:
        name += "_"
    return name


def _md5_u01(col: Column) -> Column:
    """Uniform [0, 1) from the top 52 bits of md5(key) — deterministic,
    engine-reproducible (DuckDB: md5 -> substring -> 13 hex nibbles
    / 2^52). 52 bits keep the integer exact in a double on both sides."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 13), 16, 10)
        .cast("double")
        / F.lit(float(1 << 52))
    )


def _key_u01(key_col: str, seed: str) -> Column:
    """The sampler's uniform draw for a row's key.

    - The seed is LENGTH-PREFIXED before the '|' separator, so distinct
      (seed, key) pairs can never collide ("a|b"+key "c" vs "a"+key
      "b|c") — without it, nominally independent seeds would be
      perfectly correlated on colliding pairs.
    - NULL keys draw through the marker 'n' while every real key is
      prefixed 'v|' before hashing: no real string value can collide
      with the null draw (a bare sentinel would share its u with any
      key whose string form equals the sentinel), and without the
      coalesce every null-keyed row silently vanishes from Bernoulli
      samples (NULL < f is NULL = false) and from BOTH halves of a
      split — the repo's recurring null-group bug class. The 'v|'
      prefix is part of the hash-input contract: every external mirror
      (DuckDB oracles in oracle/queries.py, tests/test_sampling.py) must
      reproduce it."""
    prefix = f"{len(seed)}|{seed}|"
    key = F.when(F.col(key_col).isNull(), F.lit("n")).otherwise(
        F.concat(F.lit("v|"), F.col(key_col).cast("string"))
    )
    return _md5_u01(F.concat(F.lit(prefix), key))


def sample_bernoulli(
    df: DataFrame,
    fraction: float,
    key_col: str,
    *,
    seed: str = "",
) -> DataFrame:
    """Keep rows whose key hashes under ``fraction`` — deterministic
    Bernoulli(fraction) per DISTINCT key: every row of a sampled key is
    kept (join-consistent across tables sharing the key), and re-running
    at a larger fraction yields a superset (nested samples, the property
    incremental corpus scaling needs). ``seed`` salts the hash to draw
    an independent sample."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    return df.filter(_key_u01(key_col, seed) < fraction)


def sample_stratified(
    df: DataFrame,
    by: Sequence[str],
    k: int,
    key_col: str,
    *,
    seed: str = "",
) -> DataFrame:
    """Exactly ``min(k, group size)`` rows per group, selected by hash
    rank (ties broken by the key itself, so the pick is total and
    deterministic). The per-group rank is a window over the group key —
    one hash-partitioned shuffle, no global sort; a group's quota never
    depends on any other group's contents."""
    from pyspark.sql.window import Window

    u = _key_u01(key_col, seed)
    w = Window.partitionBy(*by).orderBy(u.asc(), F.col(key_col).asc())
    rk = _tmp_name(df, "__rk")
    return (
        df.withColumn(rk, F.row_number().over(w))
        .filter(F.col(rk) <= k)
        .drop(rk)
    )


def sample_fixed(
    df: DataFrame,
    n: int,
    key_col: str,
    *,
    seed: str = "",
) -> DataFrame:
    """Exactly ``min(n, |df|)`` rows globally, by hash order —
    deterministic fixed-size sample. Plan shape: TakeOrderedAndProject
    (local top-n per partition, single merge of the n-row heads), which
    survives any table size as long as n itself is driver-tractable."""
    u = _key_u01(key_col, seed)
    uc = _tmp_name(df, "__u")
    return (
        df.withColumn(uc, u)
        .orderBy(F.col(uc).asc(), F.col(key_col).asc())
        .limit(n)
        .drop(uc)
    )


def sample_weighted(
    df: DataFrame,
    n: int,
    key_col: str,
    weight_col: str,
    *,
    seed: str = "",
) -> DataFrame:
    """Exactly ``min(n, |df|)`` rows, inclusion probability proportional
    to ``weight_col`` — the Efraimidis–Spirakis exponential-keys scheme
    (each row scores ``-ln(u)/w``; the n SMALLEST scores win), made
    deterministic by drawing ``u`` from the key hash. Same
    TakeOrderedAndProject shape as :func:`sample_fixed`: local top-n per
    partition, one n-row merge, no full sort shuffle. Rows with
    non-positive or null weight are excluded (they'd score +inf)."""
    u = _key_u01(key_col, seed)
    w = F.col(weight_col).cast("double")
    score = -F.log(
        # u=0 has probability 2^-52, but Spark's log(0) returns NULL and
        # a NULL score sorts FIRST in ASC — the row would always win
        # regardless of weight; clamp one quantum up
        F.greatest(u, F.lit(2.0 ** -52))
    ) / w
    sc = _tmp_name(df, "__s")
    return (
        # NaN > 0 is TRUE under Spark's ordering semantics — exclude it
        # explicitly or NaN-weighted rows sort last and sneak in when n
        # exceeds the positive-weight row count
        df.filter((w > 0) & ~F.isnan(w))
        .withColumn(sc, score)
        .orderBy(F.col(sc).asc(), F.col(key_col).asc())
        .limit(n)
        .drop(sc)
    )


def split_train_holdout(
    df: DataFrame,
    holdout_fraction: float,
    key_col: str,
    *,
    seed: str = "",
) -> tuple[DataFrame, DataFrame]:
    """Disjoint, exhaustive (train, holdout) split on the key hash — the
    contamination-safe way to carve an eval set out of a training
    corpus: membership depends only on the key, so a document can never
    drift between splits across reruns, shards, or table versions."""
    if not 0.0 <= holdout_fraction <= 1.0:
        raise ValueError(
            f"holdout_fraction must be in [0, 1], got {holdout_fraction}"
        )
    u = _key_u01(key_col, seed)
    return df.filter(u >= holdout_fraction), df.filter(u < holdout_fraction)
