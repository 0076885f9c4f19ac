"""Persistent sketch table: build / incremental update / pruned query.

The "aggregate once, query many" pattern (postgresql-hll rollup tables;
/root/reference/README.md:9-14): correctness here means the stored
sketches answer any coarser-grain NDV question exactly as a direct
sketch of the raw data would, incremental loads are idempotent and
partition-scoped, and a partition predicate prunes the scan.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from js_hll_spark.pipelines import sketch_table
from js_hll_spark.spark.agg import hll_ndv


def _build(documents, path, **kw):
    sketch_table.build_sketch_table(
        documents, "text", path, partition_col="source", by=["lang"], log2m=13, **kw
    )


def test_query_matches_direct_sketch(spark, documents, tmp_path):
    path = str(tmp_path / "sk")
    _build(documents, path)
    via_table = {
        (r["lang"]): r["ndv"]
        for r in sketch_table.query_sketch_table(spark, path, ["lang"]).collect()
    }
    direct = {
        r["lang"]: r["ndv"]
        for r in hll_ndv(documents, "text", by=["lang"], log2m=13).collect()
    }
    assert via_table == direct  # unions are lossless: same registers, same estimate


def test_incremental_update_equals_full_rebuild(spark, documents, tmp_path):
    late = ["src17", "src18", "src19"]
    inc, full = str(tmp_path / "inc"), str(tmp_path / "full")
    _build(documents.filter(~F.col("source").isin(late)), inc)
    sketch_table.update_sketch_table(
        documents.filter(F.col("source").isin(late)),
        "text",
        inc,
        partition_col="source",
        by=["lang"],
        log2m=13,
    )
    _build(documents, full)
    q = lambda p: sorted(
        (r["lang"], r["ndv"])
        for r in sketch_table.query_sketch_table(spark, p, ["lang"]).collect()
    )
    assert q(inc) == q(full)
    # idempotent: re-loading the same batch changes nothing
    sketch_table.update_sketch_table(
        documents.filter(F.col("source").isin(late)),
        "text",
        inc,
        partition_col="source",
        by=["lang"],
        log2m=13,
    )
    assert q(inc) == q(full)


def test_update_touches_only_its_partitions(spark, documents, tmp_path):
    path = str(tmp_path / "sk")
    _build(documents, path)
    before = _file_bytes(path)
    # overwrite one partition with a modified batch: only src0 changes
    sketch_table.update_sketch_table(
        documents.filter(F.col("source") == "src0").limit(5),
        "text",
        path,
        partition_col="source",
        by=["lang"],
        log2m=13,
    )
    after = spark.read.parquet(path)
    parts = {os.path.dirname(f) for f in before}
    assert after.select("source").distinct().count() == len(parts)
    # src0 now reflects the 5-row batch (fewer distinct texts than before)
    src0 = sketch_table.query_sketch_table(
        spark, path, [], where=F.col("source") == "src0"
    ).collect()[0]["ndv"]
    assert round(src0) <= 5
    # every other partition keeps exactly its files, byte for byte
    def untouched(files):
        return {f: b for f, b in files.items() if "/source=src0/" not in f}

    assert untouched(before)
    assert untouched(_file_bytes(path)) == untouched(before)


def test_merge_on_write_partial_batches(spark, documents, tmp_path):
    """Three batches that each carry PART of every partition merge into
    the same sketches a one-shot build produces (register unions are
    order- and split-insensitive), and re-merging a batch leaves NDV
    unchanged (idempotent on registers)."""
    path, full = str(tmp_path / "merge"), str(tmp_path / "full")
    batches = [documents.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    for b in batches:
        sketch_table.merge_into_sketch_table(
            b, "text", path, partition_col="source", by=["lang"], log2m=13
        )
    _build(documents, full)
    q = lambda p: sorted(
        (r["lang"], r["ndv"])
        for r in sketch_table.query_sketch_table(spark, p, ["lang"]).collect()
    )
    assert q(path) == q(full)
    sketch_table.merge_into_sketch_table(
        batches[0], "text", path, partition_col="source", by=["lang"], log2m=13
    )
    assert q(path) == q(full)


def test_partition_predicate_prunes_scan(spark, documents, tmp_path):
    path = str(tmp_path / "sk")
    _build(documents, path)
    sk = sketch_table.read_sketch_table(spark, path).filter(
        F.col("source") == "src3"
    )
    plan = sk._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "source" in plan.split("PartitionFilters")[1][:200]


def test_global_rollup_from_table(spark, documents, tmp_path):
    path = str(tmp_path / "sk")
    _build(documents, path)
    got = sketch_table.query_sketch_table(spark, path, []).collect()[0]["ndv"]
    want = hll_ndv(documents, "text", log2m=13).collect()[0]["ndv"]
    assert got == want


def test_stream_into_sketch_table(spark, documents, tmp_path):
    """A 3-file micro-batched replay through stream_into_sketch_table
    ends with the same per-lang NDVs a one-shot batch build produces
    (split-insensitive merges), using the explicit engine so equality
    is exact."""
    indir = str(tmp_path / "in")
    documents.select("source", "lang", "text").repartition(3).write.parquet(indir)
    stream = (
        spark.readStream.schema("source string, lang string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(indir)
    )
    path = str(tmp_path / "tbl")
    q = sketch_table.stream_into_sketch_table(
        stream,
        "text",
        path,
        partition_col="source",
        by=["lang"],
        checkpoint_dir=str(tmp_path / "ckpt"),
        log2m=16,
        engine="explicit",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        (r["lang"], round(r["ndv"]))
        for r in sketch_table.query_sketch_table(spark, path, ["lang"]).collect()
    )
    want = sorted(
        (r["lang"], r["n"])
        for r in documents.groupBy("lang")
        .agg(F.countDistinct("text").alias("n"))
        .collect()
    )
    assert got == want


def test_grain_mismatch_refused(spark, documents, tmp_path):
    """The manifest records the table GRAIN (partition_col/by/value_col)
    alongside the hash convention: a merge or update under a different
    grain used to pass the convention-only check and dynamically
    overwrite accumulated sketches with mixed-schema rows — now it
    fails loudly BEFORE any write."""
    import pytest

    path = str(tmp_path / "grain_sk")
    _build(documents, path)
    batch = documents.limit(50)
    for bad_kw in (
        dict(partition_col="source", by=[]),            # coarser by
        dict(partition_col="source", by=["lang", "source"]),  # wider by
        dict(partition_col="lang", by=["source"]),      # different partition col
    ):
        with pytest.raises(ValueError, match="differs on"):
            sketch_table.merge_into_sketch_table(
                batch, "text", path, log2m=13, **bad_kw
            )
        with pytest.raises(ValueError, match="differs on"):
            sketch_table.update_sketch_table(
                batch, "text", path, log2m=13, **bad_kw
            )
    with pytest.raises(ValueError, match="differs on"):
        sketch_table.merge_into_sketch_table(
            batch, "n_chars", path, partition_col="source", by=["lang"], log2m=13
        )  # different value_col
    # the matching grain still merges fine after all the refusals
    sketch_table.merge_into_sketch_table(
        batch, "text", path, partition_col="source", by=["lang"], log2m=13
    )


def test_merge_into_releases_checkpoints(spark, documents, tmp_path):
    """merge_into_sketch_table is one lazy read-merge-write: it pins no
    block, so stream_into_sketch_table, which runs it per micro-batch,
    cannot leak one table copy per batch (the unbounded-block leak
    class). It also runs fewer Spark jobs per merge than the 8 of the
    two-checkpoint merge it replaced."""
    from js_hll_spark.spark.blocks import persistent_rdd_ids, unpersist_blocks

    path = str(tmp_path / "leak_sk")
    _build(documents, path)
    before = persistent_rdd_ids(spark)
    sc = spark.sparkContext
    for i in range(2):
        sc.setJobGroup(f"merge-{i}", "merge_into_sketch_table")
        try:
            sketch_table.merge_into_sketch_table(
                documents.limit(100), "text", path,
                partition_col="source", by=["lang"], log2m=13,
            )
        finally:
            sc.setJobGroup(None, None)
        jobs = sc.statusTracker().getJobIdsForGroup(f"merge-{i}")
        assert len(jobs) < 8, f"merge ran {len(jobs)} jobs"
    leaked = persistent_rdd_ids(spark) - before
    assert not leaked, f"merge_into leaked {len(leaked)} persistent RDDs"
    unpersist_blocks(spark, before)


def _stored(spark, path, keys):
    """Every stored sketch of the table at ``path``, by its keys."""
    return {
        tuple(r[k] for k in keys): bytes(r["sketch"])
        for r in spark.read.parquet(path).collect()
    }


def _file_bytes(path):
    """Contents of every data file of the table at ``path``, by path."""
    import glob
    from pathlib import Path

    return {
        f: Path(f).read_bytes() for f in glob.glob(os.path.join(path, "*", "*.parquet"))
    }


def test_merge_reads_only_the_batchs_partitions(spark, documents, tmp_path):
    """The stored table is read through a static filter on the batch's
    partition values, so the scan prunes to those directories: a merge
    succeeds although an untouched partition holds an unreadable file,
    and leaves every untouched file byte-identical. (Schema inference
    reads the footer of the first data file in path order, so the
    corrupted file is the last one and the batch merges into the
    first one's partition.)"""
    path = str(tmp_path / "prune_sk")
    _build(documents, path)
    files = sorted(_file_bytes(path))
    assert os.path.dirname(files[0]) != os.path.dirname(files[-1])
    first = os.path.basename(os.path.dirname(files[0])).split("=", 1)[1]
    with open(files[-1], "wb") as f:
        f.write(b"not a parquet file")
    untouched = {
        f: b for f, b in _file_bytes(path).items() if f"source={first}/" not in f
    }
    sketch_table.merge_into_sketch_table(
        documents.filter(F.col("source") == first), "text", path,
        partition_col="source", by=["lang"], log2m=13,
    )
    after = _file_bytes(path)
    assert {f: after.get(f) for f in untouched} == untouched
    got = sketch_table.query_sketch_table(
        spark, path, [], where=F.col("source") == first
    ).collect()[0]["ndv"]
    want = hll_ndv(
        documents.filter(F.col("source") == first), "text", log2m=13
    ).collect()[0]["ndv"]
    assert got == want  # the idempotent re-merge kept the stored union


def test_merge_never_loses_sketches_of_a_changing_batch(spark, tmp_path):
    """The batch is evaluated more than once (its partition values are
    collected before the merge reads it). A batch whose partition column
    changes between evaluations must either merge exactly the union or
    raise; no stored partition may lose a sketch it held. Here the batch
    row lands in 'a' on its first evaluation and in 'b' on every later
    one."""
    from js_hll_spark import codec

    path = str(tmp_path / "guard_sk")
    stored = spark.createDataFrame(
        [(p, f"v{i}") for p in "ab" for i in range(20)], "p string, v string"
    )
    sketch_table.build_sketch_table(stored, "v", path, partition_col="p", log2m=13)
    before = _stored(spark, path, ["p"])
    marker = str(tmp_path / "evaluated")

    def flip():
        try:
            os.close(os.open(marker, os.O_CREAT | os.O_EXCL))
            return "a"
        except FileExistsError:
            return "b"

    part = F.udf(flip, "string").asNondeterministic()
    batch = spark.createDataFrame([("new",)], "v string").withColumn("p", part())
    try:
        sketch_table.merge_into_sketch_table(
            batch, "v", path, partition_col="p", log2m=13
        )
    except Exception as e:  # noqa: BLE001 -- the guard fails the write job
        assert "changed during the merge" in str(e)
        assert _stored(spark, path, ["p"]) == before
    after = _stored(spark, path, ["p"])
    assert set(after) == set(before)
    for k, blob in before.items():
        held = codec.decode(blob).registers()
        assert (codec.decode(after[k]).registers() >= held).all(), k


def test_merge_unions_into_the_null_partition(spark, tmp_path):
    """A stored NULL partition receives the union when a batch carries
    NULL-partition rows, not a replacement by the batch's sketch; a
    batch without NULL rows leaves it untouched."""
    path = str(tmp_path / "null_sk")
    schema = "p string, v string"

    def rows(p, lo, hi):
        return spark.createDataFrame([(p, f"v{i}") for i in range(lo, hi)], schema)

    def merge(batch):
        sketch_table.merge_into_sketch_table(
            batch, "v", path, partition_col="p", log2m=13
        )

    def null_ndv():
        return sketch_table.query_sketch_table(
            spark, path, [], where=F.col("p").isNull()
        ).collect()[0]["ndv"]

    sketch_table.build_sketch_table(
        rows("a", 0, 30).union(rows(None, 0, 30)), "v", path,
        partition_col="p", log2m=13,
    )
    null_files = {
        f: b for f, b in _file_bytes(path).items() if "__HIVE_DEFAULT_PARTITION__" in f
    }
    assert null_files
    merge(rows("a", 30, 40))
    after = _file_bytes(path)
    assert {f: after.get(f) for f in null_files} == null_files
    merge(rows(None, 20, 50))
    want = hll_ndv(rows(None, 0, 50), "v", log2m=13).collect()[0]["ndv"]
    assert null_ndv() == want
    assert round(want) == 50


def test_stage_runner_uri_root(spark, documents, tmp_path):
    """StageRunner manifests route through pyarrow.fs: a URI root
    (file:// here, s3:// in production) keeps the manifest BESIDE the
    stage data, with footer-derived lineage matching the actual rows."""
    from js_hll_spark.plans.checkpoint import StageRunner

    root = f"file://{tmp_path}/uri_stages"
    runner = StageRunner(spark, root)
    calls = []
    out = runner.run(
        "docs_subset",
        lambda: (calls.append(1), documents.select("doc_id", "lang").limit(200))[1],
    )
    assert out.count() == 200
    m = runner.manifest("docs_subset")
    assert m is not None and m["rows"] == 200 and m["bytes"] > 0
    assert sum(p["rows"] for p in m["partitions"]) == 200
    # resume: complete stage is served without re-invoking build
    out2 = runner.run("docs_subset", lambda: (_ for _ in ()).throw(AssertionError))
    assert out2.count() == 200 and calls == [1]
    # manifest physically lives under the URI root
    import os

    assert os.path.exists(
        str(tmp_path / "uri_stages" / "stage=docs_subset" / "_manifest.json")
    )


def test_hash_convention_manifest(spark, documents, tmp_path):
    """ADVICE r3: the AK format does not record the hash function/seed,
    so a table merged under a different hashing convention would union
    into silent garbage. The table writes its convention to _meta.json
    and refuses a mismatched merge/update loudly."""
    import json
    import os

    import pytest

    path = str(tmp_path / "meta_sk")
    _build(documents, path)
    with open(os.path.join(path, "_meta.json")) as f:
        meta = json.load(f)
    assert meta["hash_method"] == "xxhash64" and meta["log2m"] == 13
    # same convention: fine (idempotent)
    sketch_table.merge_into_sketch_table(
        documents.limit(50), "text", path,
        partition_col="source", by=["lang"], log2m=13,
    )
    # different log2m: refused before any write
    with pytest.raises(ValueError, match="hash conventions"):
        sketch_table.merge_into_sketch_table(
            documents.limit(50), "text", path,
            partition_col="source", by=["lang"], log2m=12,
        )
    with pytest.raises(ValueError, match="hash conventions"):
        sketch_table.update_sketch_table(
            documents.limit(50), "text", path,
            partition_col="source", by=["lang"], log2m=13,
            hash_method="murmur3",
        )


def test_ignore_mode_never_relabels_existing_table(spark, documents, tmp_path):
    """mode='ignore' against a pre-existing table silently skips the
    write — the manifest must then stay UNTOUCHED (re-labeling a table
    this call did not produce would mis-declare its convention). The
    pre-existence probe goes through fsio so object-store URIs behave
    the same as local paths."""
    import json
    import os

    path = str(tmp_path / "ignore_sk")
    _build(documents, path)
    with open(os.path.join(path, "_meta.json")) as f:
        before = json.load(f)
    # second build under a DIFFERENT config with mode='ignore': Spark
    # skips the write; the manifest must still describe the first build
    _build(documents.limit(10), path, mode="ignore", regwidth=4)
    with open(os.path.join(path, "_meta.json")) as f:
        after = json.load(f)
    assert after == before
