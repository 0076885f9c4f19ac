"""The library reads no repository file at import: importing every
``js_hll_spark`` module touches no path under the checkout outside the
package itself (the query registry and its round artifacts live beside
the library, in ``oracle/``, not in it)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in a fresh interpreter. The audit hook records every file open,
# directory listing and glob; events raised by the import machinery
# itself (finding and reading the package's own sources) are not the
# library's I/O and are skipped by their calling frame.
_AUDIT = r"""
import importlib, json, os, pkgutil, sys

root = sys.argv[1]
sys.path.insert(0, root)
seen = []

def hook(event, args):
    if event not in ("open", "os.listdir", "os.scandir", "glob.glob") or not args:
        return
    caller = sys._getframe(1).f_code.co_filename
    if caller.startswith("<frozen importlib"):
        return
    path = args[0]
    if path is None or isinstance(path, int):
        return
    seen.append((event, os.path.abspath(os.fsdecode(path))))

sys.addaudithook(hook)
import js_hll_spark
names = [m.name for m in pkgutil.walk_packages(js_hll_spark.__path__, "js_hll_spark.")]
for name in names:
    importlib.import_module(name)
print(json.dumps({"modules": names, "events": seen}))
"""


def test_importing_the_library_reads_no_repo_file(tmp_path):
    out = subprocess.run(
        [sys.executable, "-c", _AUDIT, ROOT],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        check=True,
        env={**os.environ, "PYTHONDONTWRITEBYTECODE": "1"},
    )
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert "js_hll_spark.operators.contamination" in result["modules"]
    pkg = os.path.join(ROOT, "js_hll_spark")
    repo_io = [
        (event, path)
        for event, path in result["events"]
        if path.startswith(ROOT + os.sep)
        and path != pkg
        and not path.startswith(pkg + os.sep)
    ]
    assert repo_io == []
