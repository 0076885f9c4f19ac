"""Local stand-in for the driver's correctness gate: run each registered
query through Spark AND its DuckDB oracle at sf0.01, compare row count,
column names, and an order-insensitive value hash (columns sorted by name,
rows sorted, values stringified with float rounding)."""

from __future__ import annotations

import hashlib
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
# The driver's CORRECTNESS artifact covers exactly the first 50 registry
# entries (hard budget, rounds 2-4). The size lives in
# oracle.queries.DRIVER_WINDOW (which also drives the rotation),
# so the gate and the registry can never disagree; both honor
# SPARK_GRAFT_GATE_WINDOW for local experiments.
from oracle.queries import DRIVER_WINDOW  # noqa: E402
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def canon(v):
    # latent trap (mirrors the driver's pandas-based canonicalization,
    # so it must stay): a DuckDB NULL in a numeric column surfaces as
    # NaN through .df() and canonicalizes as 'NaN', while Spark's None
    # canonicalizes as 'NULL' — an oracle that emits numeric NULLs would
    # false-FAIL. No registered oracle emits NULL; if one ever must,
    # COALESCE it on both sides.
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _spark_kind(dt):
    s = dt.simpleString()
    if s in ("tinyint", "smallint", "int", "bigint"):
        return "i"
    if s in ("float", "double") or s.startswith("decimal"):
        return "f"
    return "O"


def value_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(canon(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main(only=None, json_out=None):
    from oracle.queries import ORACLES, QUERIES
    from js_hll_spark.spark.session import get_spark

    if only:
        # a typo'd name must not let the gate print ALL OK after
        # running nothing
        unknown = set(only) - set(QUERIES)
        if unknown:
            print(f"unknown query names: {sorted(unknown)}")
            return 2

    spark = get_spark("oracle-compare", master="local[4]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    failures = []
    report = {}
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {str(e)[:200]}")
            failures.append(name)
            report[name] = {"err": f"spark error: {str(e)[:300]}"}
            continue
        if name not in ORACLES:
            print(f"rows  {name}: {len(srows)} rows (no oracle)")
            report[name] = {
                "rows_only": True,
                "spark_rows": len(srows),
                "err": None,
            }
            continue
        try:
            cur = con.sql(ORACLES[name])
            dcols = [d[0] for d in cur.description]
            # fetch through pandas like the driver does: DuckDB HUGEINT
            # (e.g. sum(int)) becomes float64 here, which fetchall() would
            # mask by returning Python ints (CORRECTNESS_r01 lesson)
            ddf = cur.df()
            drows = [tuple(r) for r in ddf.itertuples(index=False)]
            dkinds = {c: ddf[c].dtype.kind for c in ddf.columns}
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {str(e)[:200]}")
            failures.append(name)
            report[name] = {"err": f"duckdb error: {str(e)[:300]}"}
            continue
        ok_cols = sorted(scols) == sorted(dcols)
        ok_count = len(srows) == len(drows)
        sh, dh = value_hash(scols, srows), value_hash(dcols, drows)
        ok_hash = sh == dh
        # numeric-kind parity: an int64 Spark column vs a float64 oracle
        # column hashes equal under %.6g but diverges under stricter
        # driver canonicalization (str(64437) vs str(64437.0))
        skinds = {f.name: _spark_kind(f.dataType) for f in sdf.schema.fields}
        type_diffs = [
            c
            for c in scols
            if c in dkinds
            and skinds.get(c) in ("i", "f")
            and dkinds[c] in ("i", "f")
            and skinds[c] != dkinds[c]
        ]
        ok_types = not type_diffs
        status = (
            "OK  " if (ok_cols and ok_count and ok_hash and ok_types) else "FAIL"
        )
        report[name] = {
            "rows_match": ok_count,
            "schema_match": ok_cols,
            "hash_match": ok_hash and ok_types,
            "spark_rows": len(srows),
            "oracle_rows": len(drows),
            "err": None,
        }
        print(
            f"{status}  {name}: spark {len(srows)}x{len(scols)}"
            f" duck {len(drows)}x{len(dcols)}"
            f" cols={'=' if ok_cols else 'DIFF'}"
            f" hash={'=' if ok_hash else 'DIFF ' + sh + ' vs ' + dh}"
        )
        if status == "FAIL":
            failures.append(name)
            if not ok_cols:
                print(f"      spark cols: {sorted(scols)}")
                print(f"      duck  cols: {sorted(dcols)}")
            if type_diffs:
                print(
                    "      numeric-kind mismatch (spark vs oracle): "
                    + ", ".join(
                        f"{c}: {skinds[c]} vs {dkinds[c]}" for c in type_diffs
                    )
                )
    spark.stop()
    names = list(QUERIES)
    beyond = names[DRIVER_WINDOW:]
    oracled_beyond = [n for n in beyond if n in ORACLES]
    expected_excess = max(0, len(ORACLES) - DRIVER_WINDOW)
    if beyond:
        print(
            f"\nbeyond driver window ({DRIVER_WINDOW} rows), "
            f"skipped by the driver gate: {beyond}"
        )
    if len(oracled_beyond) > expected_excess:
        print(
            "WARNING: more ORACLED queries outside the driver window than "
            f"the rotation excess ({len(oracled_beyond)} > {expected_excess} "
            f"— reorder QUERIES!): {oracled_beyond}"
        )
    elif oracled_beyond:
        print(
            f"rotation: {len(oracled_beyond)} oracled entries beyond the "
            f"window this round (= the excess over {DRIVER_WINDOW}; they "
            f"rotate back in next rounds): {oracled_beyond}"
        )
    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump(report, f, indent=2)
        print(f"wrote {json_out} ({len(report)} entries)")
    print("\nFAILURES:" if failures else "\nALL OK", ", ".join(failures))
    return 1 if failures else 0


if __name__ == "__main__":
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        if i + 1 >= len(args):
            print("usage: compare_oracle.py [--json OUT.json] [names...]")
            sys.exit(2)
        json_out = args[i + 1]
        args = args[:i] + args[i + 2 :]
    sys.exit(main(set(args) or None, json_out=json_out))
