"""Every eager or Connect-hostile Spark call in the library is a known
site: a ``localCheckpoint`` materializes data when a library call should
only build a plan, and ``sparkContext`` and ``.rdd`` have no Spark
Connect equivalent. Each occurrence under ``js_hll_spark/`` is listed by
module, top-level function and attribute, and the list must equal the
allowlist below (which has no entry for the sketch-table pipeline or the
streaming NDV store); a new site fails here until it is argued for and
added.

The same walk lists every direct filesystem call (``open``, ``os``
file operations, ``shutil``) outside ``fsio.py``: table and state files
go through ``fsio`` so that a table root may be a filesystem URI, and
only files that are local by nature may bypass it."""

from __future__ import annotations

import ast
import os
from collections import Counter

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "js_hll_spark")

ATTRS = ("localCheckpoint", "sparkContext", "rdd")

# (module, top-level function, attribute) -> occurrences
ALLOWED = Counter({
    # pins the df-capped and all-pairs Jaccard stages and SimHash signatures
    ("operators/dedup.py", "_mat", "localCheckpoint"): 1,
    # iterative label propagation: each round's edges and labels
    ("operators/dedup.py", "connected_components", "localCheckpoint"): 5,
    # the query side's lists and LUTs, read by every probe
    ("operators/ann.py", "ann_ivfpq", "localCheckpoint"): 1,
    # the Bloom filter blob the probe closes over
    ("operators/contamination.py", "contamination_bloom", "sparkContext"): 1,
    # the unkeyed coalesce target
    ("spark/agg.py", "hll_sketch_sql", "sparkContext"): 1,
    # ships the package zip to the workers
    ("spark/session.py", "ship_package", "sparkContext"): 1,
    # the persistent-block lifecycle helpers
    ("spark/blocks.py", "_iter_persistent", "sparkContext"): 1,
    ("spark/blocks.py", "checkpoint_rdd_id", "rdd"): 1,
})

FS_CALLS = {
    "open",
    "os.replace",
    "os.rename",
    "os.remove",
    "os.listdir",
    "os.makedirs",
    "os.stat",
    "os.path.exists",
    "os.path.isdir",
    "os.path.isfile",
}

# (module, top-level function, call) -> occurrences; fsio.py is exempt
ALLOWED_FS = Counter({
    # publishes the package zip into the local temp dir
    ("spark/session.py", "package_zip", "os.replace"): 1,
    # stamps a zip archive on the worker's own import path
    ("_worker.py", "_wrap_invalidate_caches", "os.stat"): 1,
})


def _is_fs_call(name: str) -> bool:
    return name in FS_CALLS or name.startswith("shutil.")


def _sites() -> tuple[Counter, Counter]:
    found: Counter = Counter()
    fs: Counter = Counter()
    for d, _, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(d, name)
            module = os.path.relpath(path, PKG).replace(os.sep, "/")
            with open(path) as f:
                tree = ast.parse(f.read())
            for top in tree.body:
                scope = getattr(top, "name", None)
                for node in ast.walk(top):
                    if isinstance(node, ast.Attribute) and node.attr in ATTRS:
                        found[(module, scope, node.attr)] += 1
                    if (
                        isinstance(node, ast.Call)
                        and module != "fsio.py"
                        and _is_fs_call(ast.unparse(node.func))
                    ):
                        fs[(module, scope, ast.unparse(node.func))] += 1
    return found, fs


def test_eager_and_connect_hostile_sites_are_allowlisted():
    found, _ = _sites()
    assert found == ALLOWED, (
        f"new: {dict(found - ALLOWED)}; gone: {dict(ALLOWED - found)}"
    )


def test_direct_filesystem_calls_are_allowlisted():
    _, found = _sites()
    assert found == ALLOWED_FS, (
        f"new: {dict(found - ALLOWED_FS)}; gone: {dict(ALLOWED_FS - found)}"
    )
