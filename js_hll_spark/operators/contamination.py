"""Benchmark-contamination detection for training-data pipelines.

The decontamination step every LLM data pipeline runs before training:
find training documents that contain evaluation-set content, so they can
be dropped (train/test leakage inflates benchmark scores). Detection is
shingle overlap — a training doc is contaminated to the degree its word
n-gram shingles appear anywhere in the eval corpus (the standard n-gram
decontamination rule; exact-substring is its shingle_n -> inf limit).

Two tiers, same output shape ``(doc_id, n_shingles, n_contaminated,
frac)``:

- ``contamination_exact``: inner-join the training posting table
  against the DISTINCT eval shingle set on 8-byte xxhash64 keys, count
  hits per doc. The eval side of the join is tiny relative to training
  (benchmarks are KBs-to-MBs against TBs), so AQE broadcasts it at
  runtime — no forced hint (an adversarially large eval corpus must
  degrade to a shuffle join, not OOM an executor). This tier is exact
  and DuckDB-reproducible (the registry oracles it).
- ``contamination_bloom``: the 100 TB path — the eval side runs as ONE
  job whose partitions emit their distinct 8-byte shingle hashes; the
  driver np.unique-merges them (8 B per distinct eval shingle of driver
  memory — the small-eval-side assumption the operator rests on),
  auto-sizes the filter from the exact count, and builds the Bloom blob
  locally. The blob broadcasts once, and each side of the operator is
  ONE Arrow map over the Catalyst tokens: the eval kernel windows,
  hashes and dedups its partition's shingles; the probe kernel windows
  each training doc's distinct shingles, hashes them, probes the blob
  and emits one ``(__id, __n, __hit)`` row per doc (its shingle and hit
  counts). No shingle string leaves the Python worker and no stage
  chains a second Python runner, so the eval shingles themselves NEVER
  shuffle and only one small row per doc reaches the aggregate. (With
  an explicit ``n_bits`` the driver-merge build still collects the
  distinct hash set — pick the exact tier instead if eval-side driver
  memory is the constraint.)
  Both tiers share one aggregate tail (``_per_doc``): shingle and hit
  sums per ``__id`` -> ``frac`` -> ``min_frac``, so a NULL or 2^53-scale id
  groups the same way in both. Bloom's one-sided error means
  ``n_contaminated`` can only over-count (never a missed leak — the
  safe direction for decontamination); at the pytest sizing no false
  positive fires and the tier equals the exact one row-for-row.

Shingle universe: distinct word n-gram shingles per doc. Both sides of
both tiers (``dedup.shingle_postings``, ``eval_shingles`` and the Bloom
kernels) come from the same Catalyst ``tokens()`` and the same window
step (``dedup._distinct_shingles``), so an eval doc copied verbatim into training
reports ``frac`` 1.0 whatever its characters, and ``frac`` is a
fraction of the SAME distinct-shingle sets ``ngram_jaccard`` scores.
Docs with NULL text produce no shingles and are never reported
(consistent with count-distinct semantics: nothing to leak).

Hash convention: both tiers key a shingle by Spark's ``xxhash64`` at
seed 42. The exact tier computes it in the JVM (``F.xxhash64``, which
the DuckDB oracle and the plan audits read); the Bloom tier computes
the same value in numpy (``hashing.xxhash64``, bit-identical, asserted
against the JVM in tests) inside its two kernels, so the blob's bits
and every probe derive from one hash of the same shingle string.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BinaryType, LongType, StructField, StructType

from ..core.bloom import BloomFilter
from ..hashing import xxhash64
from .dedup import _distinct_shingles, _postings, _shingle_rows, _token_rows, _token_slices


def _per_doc(tagged: DataFrame, id_col: str, min_frac: float) -> DataFrame:
    """The one aggregate tail of both tiers: ``(__id, __n, __hit)`` rows
    (``__n`` shingles, of which ``__hit`` are eval shingles; a NULL
    ``__hit`` is 0) -> ``(id_col, n_shingles, n_contaminated, frac)`` per
    doc, filtered on the rounded ``frac``."""
    out = (
        tagged.groupBy("__id")
        .agg(
            F.sum("__n").alias("n_shingles"),
            F.sum(F.coalesce("__hit", F.lit(0))).alias("n_contaminated"),
        )
        .select(
            F.col("__id").alias(id_col),
            "n_shingles",
            "n_contaminated",
            F.round(
                F.col("n_contaminated") / F.col("n_shingles"), 6
            ).alias("frac"),
        )
    )
    return out.filter(F.col("frac") >= min_frac)


def eval_shingles(
    eval_df: DataFrame,
    text_col: str = "text",
    *,
    shingle_n: int = 3,
) -> DataFrame:
    """The eval corpus' shingle stream (column ``sh``, per-doc
    distinct), from the same tokenizer and Arrow kernel as the training
    postings (``dedup._shingle_rows``); the exact tier's eval side.
    Deliberately NOT globally distinct: the exact tier dedups on 8-byte
    hashes (a string-keyed distinct would shuffle the shingle text
    itself), so it neither needs nor should pay for a string shuffle
    here."""
    return _shingle_rows(eval_df, text_col, None, shingle_n)


def contamination_exact(
    train: DataFrame | None = None,
    eval_df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    shingle_n: int = 3,
    min_frac: float = 0.0,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Exact contamination fraction per training doc: the share of its
    distinct shingles that appear anywhere in the eval corpus. Returns
    ``(doc_id, n_shingles, n_contaminated, frac)`` for docs with
    rounded ``frac >= min_frac`` (rounded-value filtering — the repo's
    oracle-boundary convention).

    "Exact" carries one stated caveat (ADVICE r5): the join runs on
    8-byte ``xxhash64`` keys, not shingle strings, so a cross-corpus
    hash collision (probability ~2^-64 per train/eval shingle pair)
    would over-count ``n_contaminated`` by one — and, because the
    DuckDB oracle joins the strings themselves, surface as an oracle
    hash mismatch rather than silently. Hashed keys are the point at
    scale (the join shuffles 8 bytes instead of the shingle text); at
    gate scale the collision probability across all pairs is ~1e-11."""
    if eval_df is None:
        raise ValueError("pass eval_df (the evaluation corpus)")
    tr = _postings(train, postings, text_col, id_col, shingle_n).select(
        "__id", F.xxhash64("sh").alias("__h")
    )
    ev = (
        eval_shingles(eval_df, text_col, shingle_n=shingle_n)
        .select(F.xxhash64("sh").alias("__h"))
        .distinct()  # dedup on the 8-byte key, not the shingle string
    )
    # ONE pass over the posting chain: a left join against the (distinct
    # — so never row-multiplying) eval keys tags each posting with a hit
    # flag, and a single aggregate derives both counts. The obvious
    # two-branch formulation (sizes agg + inner-join agg) re-runs the
    # whole scan -> tokenize -> explode chain once per branch — measured
    # ~2x the wall time at sf0.1 for zero benefit.
    tagged = tr.join(
        ev.withColumn("__hit", F.lit(1)), "__h", "left"
    ).withColumn("__n", F.lit(1))  # no broadcast hint: AQE decides (module doc)
    return _per_doc(tagged, id_col, min_frac)


def _eval_hashes(eval_df: DataFrame, text_col: str, shingle_n: int) -> DataFrame:
    """The Bloom tier's eval side, collected as its one job: one Arrow map
    over the eval tokens whose partitions each emit one ``__hs`` blob,
    their distinct shingle hashes as little-endian uint64."""

    def eval_hashes(batches):
        parts = [
            xxhash64(_distinct_shingles(lens, flat, shingle_n)[1])
            for batch in batches
            if batch.num_rows
            for _, lens, flat in _token_slices(batch)
        ]
        if parts:
            arr = np.unique(np.concatenate(parts))
            yield pa.record_batch([pa.array([arr.tobytes()], pa.binary())], ["__hs"])

    return _token_rows(eval_df, text_col, None).mapInArrow(
        eval_hashes, schema=StructType([StructField("__hs", BinaryType())])
    )


def _bloom_probe(blob, shingle_n: int):
    """mapInArrow kernel of the Bloom tier's probe side: ``(__id,
    __toks)`` token rows, or the ``(__id, sh)`` rows of a posting table
    (one shingle per row), in; one ``(__id, __n, __hit)`` row per row
    with any shingle out: its distinct shingle count and how many of
    them the broadcast Bloom ``blob`` holds."""

    def bloom_probe(batches):
        bf = BloomFilter.from_bytes(blob.value)
        for batch in batches:
            if batch.num_rows == 0:
                continue
            if "sh" in batch.schema.names:
                pieces = [(batch, np.arange(batch.num_rows), batch.column("sh"))]
            else:
                pieces = (
                    (part, *_distinct_shingles(lens, flat, shingle_n))
                    for part, lens, flat in _token_slices(batch)
                )
            for part, owner, sh in pieces:
                hit = bf.contains_hashed(xxhash64(sh))
                n_sh = np.bincount(owner, minlength=part.num_rows)
                n_hit = np.bincount(owner, weights=hit, minlength=part.num_rows)
                keep = np.flatnonzero(n_sh)
                yield pa.record_batch(
                    [part.column("__id").take(keep), n_sh[keep], n_hit[keep].astype(np.int64)],
                    names=["__id", "__n", "__hit"],
                )

    return bloom_probe


def contamination_bloom(
    train: DataFrame | None = None,
    eval_df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    shingle_n: int = 3,
    min_frac: float = 0.0,
    n_bits: int | None = None,
    n_hashes: int | None = None,
    fp_target: float = 1e-3,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Bloom-tier contamination: same output shape as
    :func:`contamination_exact`, with the eval shingle set compressed to
    one broadcast Bloom blob and probed executor-side (see module doc).
    Over-counts with the filter's one-sided FP rate; never
    under-counts.

    SIZING: by default (``n_bits=None``) the filter is auto-sized for
    ``fp_target`` from the EXACT distinct eval-shingle count (free with
    the single-job build below). A fixed undersized filter saturates
    silently: at ~1.8M eval shingles into 2^20 bits the per-shingle FP
    rate passes 0.6 and nearly every training doc crosses min_frac
    (measured on the dedup-axis corpus at 1.6M docs). Pass ``n_bits``
    explicitly only for fixed memory budgets you have sized yourself.
    ``n_hashes=None`` derives the optimal count for the filter's size and
    the exact eval count, capped at 30 (a tiny eval corpus against the
    2^14-bit floor would otherwise ask for hundreds of index rows per
    probe batch for no FP benefit); a given ``n_hashes`` is used as is.

    The eval side runs as ONE job (VERDICT r5 #3): one Arrow map per
    partition windows, hashes and dedups the eval shingles and emits
    their distinct 8-byte hashes (:func:`_eval_hashes`); the driver
    merges them with one ``np.unique`` — giving the exact distinct count
    for sizing AND the hash set to build the blob from, locally, with
    zero further jobs. Driver materialization is 8 bytes per distinct
    eval shingle, the same small-eval-side assumption the whole operator
    rests on (MBs for real benchmark suites; the blob itself was already
    a driver collect). The probe side is one Arrow map too
    (:func:`_bloom_probe`), over the training tokens or the rows of a
    ``postings`` table; both sides hash with ``hashing.xxhash64``.
    Construction stays EAGER (the one job fires now): the blob must
    exist before the probe plan can close over its broadcast.
    """
    if eval_df is None:
        raise ValueError("pass eval_df (the evaluation corpus)")
    src = _postings(train, postings, text_col, id_col, shingle_n, shingled=False)
    if postings is not None:
        src = src.select("__id", "sh")
    hash_rows = _eval_hashes(eval_df, text_col, shingle_n).collect()
    hashes = np.unique(
        np.concatenate(
            [np.frombuffer(r[0], dtype=np.uint64) for r in hash_rows]
        )
        if hash_rows
        else [np.empty(0, dtype=np.uint64)]
    )
    n = max(1, len(hashes))
    if n_bits is None:
        # BloomFilter.for_capacity's formula, 8-aligned; floor keeps tiny
        # eval sets from degenerate filters
        n_bits = max(1 << 14, (int(-n * math.log(fp_target) / (math.log(2) ** 2)) + 7) // 8 * 8)
    if n_hashes is None:
        # k derived from the exact n and capped (ADVICE r5: the floor
        # would otherwise blow k up)
        n_hashes = max(1, min(30, round(n_bits / n * math.log(2))))
    bf = BloomFilter(n_bits, n_hashes)
    bf.add_hashed(hashes)
    # ship the ONE KB-sized blob as a TorrentBroadcast variable (a
    # bounded driver action — the index-build step, same contract as the
    # ANN train sample). A crossJoin(broadcast(blob)) would instead
    # stamp the n_bits/8-byte binary onto EVERY posting row through the
    # Arrow boundary — measured as a netty direct-memory OOM at 30M
    # postings x 128 KiB.
    bc = src.sparkSession.sparkContext.broadcast(bf.to_bytes())
    schema = StructType([
        StructField("__id", src.schema["__id"].dataType, True),
        StructField("__n", LongType(), False),
        StructField("__hit", LongType(), False),
    ])
    tagged = src.mapInArrow(_bloom_probe(bc, shingle_n), schema=schema)
    result = _per_doc(tagged, id_col, min_frac)
    # sizing introspection (advisory attributes on the result): what
    # the auto-sizer actually built
    result._bloom_n_bits = n_bits
    result._bloom_n_hashes = n_hashes
    result._bloom_n_distinct = int(len(hashes))
    return result
