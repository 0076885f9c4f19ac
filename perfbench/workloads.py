"""The workloads: what each sets up, the operations its loop cycles
through, and how each answer is checked against exact truth.

Sizes are chosen for ``local[4]``: one warm cycle of a workload's
operations takes four to seven seconds, most of it Spark's per-job
overhead.
"""

from __future__ import annotations

import math
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
from common import Op

LOG2M = 13
# a checked NDV may miss the exact count by this many standard errors
# (1.04/sqrt(m)); per check the chance of a false alarm is ~6e-5
HLL_SIGMAS = 4
HLL_BOUND = HLL_SIGMAS * 1.04 / math.sqrt(2**LOG2M)
KLL_RANK_BOUND = 0.025  # k=200, the bound tests/test_sketches.py uses
CMS_WIDTH, CMS_DEPTH = 8192, 5


def _ndv_check(pairs: list) -> tuple:
    """pairs of (estimate, exact): all within the HLL bound."""
    if not pairs:
        return False, None, "no rows"
    worst = max(abs(e - x) / max(x, 1) for e, x in pairs)
    return worst <= HLL_BOUND, worst, "" if worst <= HLL_BOUND else f"rel err {worst:.4f} > {HLL_BOUND:.4f}"


def _keyed_check(rows: list, key, truth: dict) -> tuple:
    got = {key(r): r["ndv"] for r in rows}
    if set(got) != set(truth):
        return False, None, f"groups differ: {len(got)} vs {len(truth)}"
    return _ndv_check([(got[k], truth[k]) for k in truth])


class Workload:
    name = ""
    # seconds one cycle of the operations takes on local[4]; a run
    # measures round(seconds / CYCLE_S) whole cycles, at least one, so
    # the work per run does not depend on how fast the code is
    CYCLE_S: float

    def __init__(self, seed: int, dirs: dict):
        self.seed = seed
        self.data = dirs["data"]

    def cycles(self, seconds: float) -> int:
        return max(1, round(seconds / self.CYCLE_S))

    def setup(self, spark) -> None:
        """Generate the inputs from the seed, write them, compute the
        truth and build what the loop reads; ends with :meth:`attach`."""
        raise NotImplementedError

    def attach(self, spark) -> None:
        """Bind the written inputs to ``spark`` (also after a restart)."""

    def probe_inputs(self) -> dict:
        """Values for the direct calls of the traced run."""
        raise NotImplementedError

    def ops(self, spark) -> list:
        raise NotImplementedError

    def inputs(self) -> dict:
        """Sizes of the generated inputs, for the record."""
        raise NotImplementedError


# ------------------------------------------------------------------ ingest --


class Ingest(Workload):
    """The sketch lifecycle on CC-style page rows: aggregations from raw
    rows to HLL, one of which stores its sketches as a Hive-partitioned
    sketch table; NDV answers served from that table; and a merge of a
    replayed slice of already-loaded rows back into it."""

    name = "ingest"
    ROWS, DAYS, FILES = 300_000, 30, 8
    CYCLE_S = 8.0
    WINDOW, REPLAY_DAYS = 7, 6

    def setup(self, spark) -> None:
        p = gen.pages(self.seed, self.ROWS, self.DAYS)
        self.truth = gen.page_truth(p, self.DAYS)
        rng = np.random.default_rng([self.seed, 9])
        self.window_start = int(rng.integers(0, self.DAYS - self.WINDOW))
        in_window = (p["day"] >= self.window_start) & (p["day"] < self.window_start + self.WINDOW)
        self.truth["window"] = gen.window_truth(p, self.window_start, self.WINDOW)
        self.window_rows = int(in_window.sum())
        table = gen.pages_table(p)
        self.path = os.path.join(self.data, "pages")
        shutil.rmtree(self.path, ignore_errors=True)
        gen.write_parquet(table, self.path, self.FILES)
        # each write replays a quarter of one already-loaded day's rows
        self.replay_days = sorted(rng.choice(self.DAYS, self.REPLAY_DAYS, replace=False).tolist())
        keep = np.isin(p["day"], self.replay_days) & (np.arange(self.ROWS) % 4 == 0)
        self.replay = os.path.join(self.data, "replay.parquet")
        pq.write_table(table.filter(pa.array(keep)), self.replay)
        self.replay_rows = int(keep.sum()) // self.REPLAY_DAYS
        self.url_sample = p["url"].slice(0, 100_000)
        self.table = os.path.join(self.data, "sketch_table")
        self.table_bytes = 0
        self.built: dict = {}
        self.baseline: dict = {}
        self.attach(spark)

    def attach(self, spark) -> None:
        # one split per file, so the scan has more splits than cores
        spark.conf.set("spark.sql.files.minPartitionNum", str(self.FILES))
        self.pages = spark.read.parquet(self.path)
        self.replay_df = spark.read.parquet(self.replay)

    def probe_inputs(self) -> dict:
        blobs = pq.read_table(self.table, columns=["sketch"]).column("sketch").to_pylist()
        return {"strings": self.url_sample, "blobs": blobs,
                "values": np.asarray(pc.utf8_length(self.url_sample), dtype=np.float64)}

    def inputs(self) -> dict:
        return {"rows": self.ROWS, "days": self.DAYS, "files": self.FILES, "langs": len(gen.LANGS),
                "distinct_urls": self.truth["global"],
                "stored_sketches": len(self.truth["by_day_lang"]), "table_bytes": self.table_bytes,
                "window_days": self.WINDOW, "replay_days": self.replay_days,
                "replay_rows": self.replay_rows}

    def _stable(self, name: str, answer, check: tuple) -> tuple:
        """Unions are idempotent, so a read keeps its first answer."""
        if self.baseline.setdefault(name, answer) != answer:
            return False, check[1], "answer changed after a merge"
        return check

    def ops(self, spark) -> list:
        from pyspark.sql import functions as F

        from js_hll_spark.pipelines.sketch_table import (
            build_sketch_table,
            merge_into_sketch_table,
            query_sketch_table,
        )
        from js_hll_spark.spark.agg import hll_ndv
        from js_hll_spark.spark.functions import register_sql_functions

        register_sql_functions(spark)
        t, table = self.truth, self.table
        lo, hi = self.window_start, self.window_start + self.WINDOW

        def global_check(rows):
            return _ndv_check([(rows[0]["ndv"], t["global"])])

        def lang_check(rows):
            return _keyed_check(rows, lambda r: r["lang"], t["by_lang"])

        def store(_plan):
            build_sketch_table(self.pages, "url", table, partition_col="day", by=["lang"], log2m=LOG2M)
            return True

        def stored_estimates() -> dict:
            """Decode every stored sketch and estimate it, by (day, lang)."""
            from js_hll_spark import codec

            st = pq.read_table(table, columns=["day", "lang", "sketch"]).to_pylist()
            return {(r["day"], r["lang"]): codec.decode(r["sketch"]).cardinality() for r in st}

        def stored_check(_ok):
            self.table_bytes = sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, fs in os.walk(table) for f in fs if f.endswith(".parquet")
            )
            self.built = stored_estimates()
            rows = [{"day": d, "lang": lang, "ndv": v} for (d, lang), v in self.built.items()]
            return _keyed_check(rows, lambda r: (r["day"], r["lang"]), t["by_day_lang"])

        def merge_check(day):
            """The replayed rows were already loaded, so after the union
            every stored sketch, of the merged day and of every other day,
            estimates exactly what it did right after this cycle's build."""
            got = stored_estimates()
            if set(got) != set(self.built):
                return False, None, f"day {day}: {len(got)} stored sketches, {len(self.built)} built"
            changed = [k for k in self.built if got[k] != self.built[k]]
            if changed:
                k = changed[0]
                return False, None, f"{len(changed)} sketches changed, {k}: {got[k]} vs {self.built[k]}"
            return True, None, ""

        def window_check(rows):
            return self._stable("window", rows[0]["ndv"], _ndv_check([(rows[0]["ndv"], t["window"])]))

        def sql_check(rows):
            return self._stable("sql_by_lang", sorted((r["lang"], r["ndv"]) for r in rows), lang_check(rows))

        def sql_plan():
            spark.read.parquet(table).createOrReplaceTempView("perfbench_sketches")
            return spark.sql("SELECT lang, hll_ndv_agg(sketch) AS ndv FROM perfbench_sketches GROUP BY lang")

        turn = {"i": 0}

        def replay_batch():
            day = self.replay_days[turn["i"] % len(self.replay_days)]
            turn["i"] += 1
            return day, self.replay_df.filter(F.col("day") == day)

        def merge(batch):
            day, rows = batch
            merge_into_sketch_table(rows, "url", table, partition_col="day",
                                    by=["lang"], log2m=LOG2M)
            return day

        collect = lambda df: df.collect()  # noqa: E731
        n = self.ROWS
        return [
            Op("ndv_global", n, lambda: hll_ndv(self.pages, "url", log2m=LOG2M), collect, global_check),
            Op("ndv_by_lang", n, lambda: hll_ndv(self.pages, "url", by=["lang"], log2m=LOG2M),
               collect, lang_check),
            # hll_sketch by (day, lang), sketches encoded and stored as the
            # table the merge and the reads below work on
            Op("sketch_by_day_lang", n, lambda: None, store, stored_check,
               kind="write"),
            # the merge comes before the reads, so every read is served
            # from a table a merge has just rewritten
            Op("write_merge", self.replay_rows, replay_batch, merge, merge_check, kind="write"),
            Op("read_window", self.window_rows,
               lambda: query_sketch_table(spark, table, where=(F.col("day") >= lo) & (F.col("day") < hi)),
               collect, window_check, kind="read"),
            Op("read_sql_by_lang", n, sql_plan, collect, sql_check, kind="read"),
            Op("ndv_murmur3_by_lang", n,
               lambda: hll_ndv(self.pages, "url", by=["lang"], log2m=LOG2M, hash_method="murmur3"),
               collect, lang_check),
            Op("ndv_shuffled_input", n,
               lambda: hll_ndv(self.pages.groupBy("url", "lang").agg(F.count(F.lit(1)).alias("n")), "url",
                               log2m=LOG2M),
               collect, global_check),
        ]


# ------------------------------------------------------------------ curate --


class Curate(Workload):
    name = "curate"
    DOCS, FILES, EVAL_EVERY = 4_000, 8, 20
    CYCLE_S = 4.8
    TOP_K, JACCARD = 20, 0.5
    QS = (0.5, 0.9, 0.99)

    def setup(self, spark) -> None:
        c = gen.corpus(self.seed, self.DOCS)
        self.corpus = c
        self.truth = gen.corpus_truth(c, self.EVAL_EVERY)
        self.path = os.path.join(self.data, "corpus")
        shutil.rmtree(self.path, ignore_errors=True)
        gen.write_parquet(gen.corpus_table(c), self.path, self.FILES)
        t = self.truth
        texts = c["text"].to_numpy(zero_copy_only=False)
        same: dict = {}
        for i, s in enumerate(texts):
            same.setdefault(s, []).append(i)
        self.keep_id_sum = int(sum(ids[0] for ids in same.values()))
        # identical docs have identical MinHash signatures, so LSH always
        # pairs them and their Jaccard of 1 passes any threshold: the
        # near-duplicate pipeline must return every one of these pairs
        self.exact_pairs = {(a, b) for ids in same.values() for j, a in enumerate(ids) for b in ids[j + 1:]}
        self.token_sample = np.array([f"w{v}" for v in c["tokens"][:100_000]], dtype=object)
        self.length_sample = np.array([len(s) for s in texts], dtype=np.float64)
        self.eps_n = math.e / CMS_WIDTH * t["n_tokens"]
        self.attach(spark)

    def attach(self, spark) -> None:
        self.docs = spark.read.parquet(self.path)

    def probe_inputs(self) -> dict:
        from js_hll_spark import HLL, HLLConfig
        from js_hll_spark.hashing import murmur3_64_bytes

        c = self.corpus
        blobs = []
        for lang in np.unique(c["lang_idx"]):
            toks = c["tokens"][np.repeat(c["lang_idx"] == lang, np.diff(c["offsets"]))]
            h = murmur3_64_bytes(np.unique(toks).astype(str).astype(object))
            blobs.append(HLL(HLLConfig(LOG2M, 5)).add_raw64(h).to_bytes())
        return {"strings": self.token_sample, "blobs": blobs, "values": self.length_sample}

    def inputs(self) -> dict:
        return {"docs": self.DOCS, "files": self.FILES, "tokens": self.truth["n_tokens"],
                "distinct_texts": self.truth["distinct_texts"], "eval_every": self.EVAL_EVERY}

    def ops(self, spark) -> list:
        from pyspark.sql import functions as F

        from js_hll_spark.operators.contamination import contamination_bloom
        from js_hll_spark.operators.dedup import (
            dedup_exact,
            minhash_lsh_candidates_fast,
            ngram_jaccard,
            shingle_postings,
        )
        from js_hll_spark.spark.sketch_agg import approx_quantiles, heavy_hitters

        t = self.truth
        counts = t["token_counts"]
        kth = list(counts.values())[self.TOP_K - 1]

        def hh_check(rows):
            if len(rows) != self.TOP_K:
                return False, None, f"{len(rows)} rows"
            worst = 0.0
            for r in rows:
                true = counts.get(r["value"], 0)
                if not true <= r["est_count"] <= true + self.eps_n:
                    return False, None, f"{r['value']}: est {r['est_count']} true {true}"
                if true < kth - self.eps_n:
                    return False, None, f"{r['value']} is not a top-{self.TOP_K} token"
                worst = max(worst, (r["est_count"] - true) / true)
            return True, worst, ""

        def q_check(rows):
            worst = 0.0
            by_lang = t["lengths_by_lang"]
            if {r["lang"] for r in rows} != set(by_lang):
                return False, None, "languages differ"
            for r in rows:
                v = by_lang[r["lang"]]
                for q in self.QS:
                    x = r[f"q{int(q * 100)}"]
                    lo = np.searchsorted(v, x, "left") / v.size
                    hi = np.searchsorted(v, x, "right") / v.size
                    worst = max(worst, max(0.0, lo - q, q - hi))
            return worst <= KLL_RANK_BOUND, worst, "" if worst <= KLL_RANK_BOUND else f"rank err {worst:.4f}"

        def dedup_check(rows):
            r = rows[0]
            got = (r["groups"], r["docs"], r["keep_sum"])
            want = (t["distinct_texts"], self.DOCS, self.keep_id_sum)
            return got == want, None, "" if got == want else f"{got} != {want}"

        spans: dict = {}

        def near_dup_plan():
            t0 = time.perf_counter()
            p = shingle_postings(self.docs, "text", "doc_id")
            t1 = time.perf_counter()
            cands = minhash_lsh_candidates_fast(postings=p, k=16, bands=4)
            t2 = time.perf_counter()
            pairs = ngram_jaccard(pairs=cands, postings=p, threshold=self.JACCARD)
            spans.update(cands=cands, shingle_postings_build_s=t1 - t0,
                         minhash_lsh_candidates_fast_build_s=t2 - t1,
                         ngram_jaccard_build_s=time.perf_counter() - t2)
            return pairs

        def near_dup_extra(_plan, rows):
            out = {k: v for k, v in spans.items() if k.endswith("_build_s")}
            out["candidate_pairs"] = spans["cands"].count()
            out["verified_pairs"] = len(rows)
            return out

        def near_dup_check(rows):
            sh = t["shingles"]
            missing = self.exact_pairs - {(r["id_a"], r["id_b"]) for r in rows}
            if missing:
                return False, None, f"{len(missing)} of {len(self.exact_pairs)} exact-duplicate pairs missing"
            for r in rows:
                a, b = sh[r["id_a"]], sh[r["id_b"]]
                exact = len(a & b) / len(a | b)
                if abs(exact - r["jaccard"]) > 1e-6 or exact < self.JACCARD:
                    return False, None, f"pair {r['id_a']},{r['id_b']}: {r['jaccard']} vs {exact}"
            return True, None, ""

        def contamination_plan():
            d = self.docs
            return contamination_bloom(
                d.filter(F.col("doc_id") % self.EVAL_EVERY != 0),
                d.filter(F.col("doc_id") % self.EVAL_EVERY == 0),
                "text", "doc_id",
            )

        def contamination_check(rows):
            truth = t["contamination"]
            if len(rows) != len(truth):
                return False, None, f"{len(rows)} rows vs {len(truth)}"
            over = 0
            for r in rows:
                n, hit = truth[r["doc_id"]]
                if r["n_shingles"] != n or r["n_contaminated"] < hit:
                    return False, None, f"doc {r['doc_id']}: {r['n_shingles']}/{r['n_contaminated']} vs {n}/{hit}"
                over += r["n_contaminated"] > hit
            # a 1e-3 false-positive filter over-counts few docs
            ok = over <= 0.05 * len(rows)
            return ok, None, "" if ok else f"{over} docs over-counted"

        collect = lambda df: df.collect()  # noqa: E731
        n = self.DOCS
        return [
            Op("heavy_hitters", n,
               lambda: heavy_hitters(self.docs.select(F.explode(F.split("text", " ")).alias("token")), "token",
                                     k=self.TOP_K, depth=CMS_DEPTH, width=CMS_WIDTH),
               collect, hh_check),
            Op("approx_quantiles", n,
               lambda: approx_quantiles(self.docs.withColumn("length", F.length("text")), "length",
                                        by=["lang"], qs=self.QS),
               collect, q_check),
            Op("dedup_exact", n,
               lambda: dedup_exact(self.docs, "text", "doc_id").agg(
                   F.count(F.lit(1)).alias("groups"), F.sum("n_dups").alias("docs"),
                   F.sum("keep_id").alias("keep_sum")),
               collect, dedup_check),
            Op("near_dup", n, near_dup_plan, collect, near_dup_check,
               extra=near_dup_extra),
            Op("contamination_bloom", n, contamination_plan, collect,
               contamination_check),
        ]


WORKLOADS = {w.name: w for w in (Ingest, Curate)}
