"""Data-axis scaling for the dedup family (VERDICT r3 #7): run the
composed near-dup tiers at growing corpus sizes and report docs/sec per
point, so the 100 TB story rests on a measured curve, not one sf0.1
sample.

Corpus: the webtext generator's 33-word vocabulary saturates at scale
(33^3 ~ 36k possible shingles, so at >100k docs EVERY shingle exceeds a
df cap of 100 and LSH buckets collapse toward all-pairs) — unusable for
dedup realism. This harness generates a purpose-built deterministic
corpus with the structure dedup actually faces:

- vocabulary scales with n (vocab = n/2 tokens), giving a heavy-tailed
  shingle DF distribution: most shingles rare, a few hot
- ~20% exact duplicates (canonical-id redirection, same trick as the
  webtext generator)
- ~5% near-duplicates: one token mutated from the canonical doc
- everything a pure function of row id (splitmix64) — identical at any
  parallelism, no data files needed

Usage: SIZES="100000,400000,1600000" REPS=3 python tools/bench_dedup_axis.py
Prints one JSON line per (size, query) plus a summary table.

Replicates are INTERLEAVED across queries by default (rep-outer,
query-inner — VERDICT r4 #5): host load on this box drifts minute to
minute, so back-to-back replicates of ONE query all land in the same
load regime and medians bracket rather than measure. Interleaving
spreads each query's replicates across the whole wall-clock span; the
per-point JSON carries the min–max range alongside the median so the
confidence band is explicit. INTERLEAVE=0 restores grouped reps.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.types import (  # noqa: E402
    LongType,
    StringType,
    StructField,
    StructType,
)

SIZES = [int(s) for s in os.environ.get("SIZES", "100000,400000,1600000").split(",")]
REPS = int(os.environ.get("REPS", "3"))
INTERLEAVE = os.environ.get("INTERLEAVE", "1") == "1"
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

_U = np.uint64


def _mix(x: np.ndarray, salt: int) -> np.ndarray:
    # the library's splitmix64 stream (seed 42) — reuse, don't re-derive
    from js_hll_spark.sources.webtext import _stream

    return _stream(x, salt)


def dedup_corpus(spark, n_rows: int, partitions: int):
    """Deterministic (row_id, text) with 20% exact dups, 5% near-dups,
    n/2-token vocabulary, ~24 tokens per doc."""
    vocab = max(1000, n_rows // 2)
    n_tok = 24
    schema = StructType(
        [
            StructField("row_id", LongType(), False),
            StructField("text", StringType(), False),
        ]
    )

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            u_dup = (_mix(ids, 1) >> _U(11)).astype(np.float64) / float(1 << 53)
            ref = np.floor(
                (_mix(ids, 2) >> _U(11)).astype(np.float64)
                / float(1 << 53)
                * ids
            ).astype(np.int64)
            canon = np.where((u_dup < 0.20) & (ids > 0), ref, ids)
            near = (u_dup >= 0.20) & (u_dup < 0.25) & (ids > 0)
            canon = np.where(near, ref, canon)
            # token ids: one splitmix stream per (canon, position)
            pos = np.arange(n_tok, dtype=np.int64)
            toks = (
                _mix(canon[:, None] * _U(n_tok) + pos[None, :], 3)
                % _U(vocab)
            ).astype(np.int64)
            # near-dups mutate one position with a row-unique token
            mut_pos = (_mix(ids, 4) % _U(n_tok)).astype(np.int64)
            mut_tok = (_mix(ids, 5) % _U(vocab)).astype(np.int64)
            rows = np.arange(len(ids))
            toks[near, mut_pos[near]] = mut_tok[near]
            texts = [
                " ".join(f"w{t}" for t in toks[i]) for i in rows
            ]
            yield pd.DataFrame({"row_id": ids, "text": texts})

    return spark.range(n_rows, numPartitions=partitions).mapInPandas(
        gen, schema=schema
    )


def main() -> None:
    from js_hll_spark.operators import dedup
    from js_hll_spark.spark.blocks import persistent_rdd_ids, unpersist_blocks
    from oracle.queries import _ship
    from js_hll_spark.spark.session import get_spark

    spark = get_spark(
        "dedup-axis", master=f"local[{CPUS}]", shuffle_partitions=int(CPUS)
    )
    spark.sparkContext.setLogLevel("ERROR")
    _ship(spark)

    # each rep materializes fresh localCheckpoint blocks; without an
    # explicit unpersist they accumulate across reps (Python GC may
    # hold them arbitrarily long), degrading later queries through
    # memory pressure — which showed up as a composed query timing
    # SLOWER than its own superset in the first axis run. The sweep is
    # id-selective: a blanket unpersist sets the cached docs table's
    # buffer RDD to StorageLevel NONE, after which it recomputes every
    # rep WITHOUT re-caching (the earlier rewarm-by-count was a no-op).
    keep = {"ids": frozenset()}

    def timed_once(fn):
        t0 = time.perf_counter()
        rows = fn()
        sec = time.perf_counter() - t0
        unpersist_blocks(spark, keep["ids"])
        return sec, rows

    table = []
    for n in SIZES:
        docs = dedup_corpus(spark, n, partitions=int(CPUS) * 2).cache()
        docs.count()  # materialize, untimed
        keep["ids"] = persistent_rdd_ids(spark)

        def q_exact():
            return dedup.dedup_exact(docs, "text", "row_id").count()

        def q_lsh():
            return dedup.minhash_lsh_candidates_fast(
                docs, "text", "row_id", k=8, bands=4
            ).count()

        def q_pipeline():
            postings = dedup.shingle_postings(docs, "text", "row_id")
            cand = dedup.minhash_lsh_candidates_fast(
                postings=postings, k=8, bands=4
            )
            return dedup.ngram_jaccard(
                pairs=cand,
                postings=postings,
                threshold=0.5,
                max_shingle_df=100,
            ).count()

        def q_clusters():
            postings = dedup.shingle_postings(docs, "text", "row_id")
            cand = dedup.minhash_lsh_candidates_fast(
                postings=postings, k=8, bands=4
            )
            pairs = dedup.ngram_jaccard(
                pairs=cand,
                postings=postings,
                threshold=0.5,
                max_shingle_df=100,
            )
            return dedup.connected_components(
                pairs, nodes=docs.select("row_id"), id_a="id_a", id_b="id_b"
            ).count()

        def q_contamination():
            # decontamination over the same corpus: 1-in-20 docs act as
            # the "benchmark"; exact tier (posting join)
            from js_hll_spark.operators import contamination

            return contamination.contamination_exact(
                docs.filter(F.col("row_id") % 20 != 0),
                docs.filter(F.col("row_id") % 20 == 0),
                "text",
                "row_id",
                min_frac=0.5,
            ).count()

        def q_contamination_bloom():
            from js_hll_spark.operators import contamination

            return contamination.contamination_bloom(
                docs.filter(F.col("row_id") % 20 != 0),
                docs.filter(F.col("row_id") % 20 == 0),
                "text",
                "row_id",
                min_frac=0.5,
            ).count()

        qfns = [
            ("dedup_exact", q_exact),
            ("minhash_lsh_fast", q_lsh),
            ("dedup_pipeline_fast", q_pipeline),
            ("dedup_clusters_fast", q_clusters),
            ("contamination_exact", q_contamination),
            ("contamination_bloom", q_contamination_bloom),
        ]
        only = os.environ.get("AXIS_QUERIES")
        if only:
            wanted = {s.strip() for s in only.split(",")}
            qfns = [(n, f) for n, f in qfns if n in wanted]
        runs: dict[str, list] = {name: [] for name, _ in qfns}
        if INTERLEAVE:
            for _ in range(REPS):
                for name, fn in qfns:
                    runs[name].append(timed_once(fn))
        else:
            for name, fn in qfns:
                for _ in range(REPS):
                    runs[name].append(timed_once(fn))
        for name, _ in qfns:
            rs = sorted(runs[name])
            sec, rows = rs[len(rs) // 2]
            rec = {
                "query": name,
                "n_docs": n,
                "sec": round(sec, 3),
                "sec_range": [round(rs[0][0], 3), round(rs[-1][0], 3)],
                "docs_per_sec": round(n / sec, 1),
                "us_per_doc": round(sec / n * 1e6, 3),
                "us_per_doc_range": [
                    round(rs[0][0] / n * 1e6, 3),
                    round(rs[-1][0] / n * 1e6, 3),
                ],
                "result_rows": rows,
                "reps": REPS,
                "interleaved": INTERLEAVE,
            }
            table.append(rec)
            print(json.dumps(rec), flush=True)
        docs.unpersist()

    print("\n| query | " + " | ".join(f"{n//1000}k docs" for n in SIZES) + " |")
    print("|---|" + "---|" * len(SIZES))
    for name in dict.fromkeys(r["query"] for r in table):
        cells = [
            f"{r['sec']}s ({r['docs_per_sec']/1e3:.0f}k docs/s)"
            for r in table
            if r["query"] == name
        ]
        print(f"| {name} | " + " | ".join(cells) + " |")


if __name__ == "__main__":
    main()
