"""The Python worker daemon (qalsh_spark/daemon.py) and the per-task costs
it removes.

The daemon's zipimport patch replaces a method on `zipimport.zipimporter`
for the whole process, and its `gc.freeze()` freezes the heap, so neither
runs in the pytest process: the invalidation test patches a subprocess,
and the Spark test asks a forked worker what it inherited.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pandas as pd
import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Builds an archive of three nested packages (so three zipimporters share
# it), imports from it, then counts `_read_directory` calls across
# importlib.invalidate_caches() with and without the daemon's patch.
_PROBE = textwrap.dedent(
    """
    import importlib, json, sys, zipfile, zipimport

    arch, patched = sys.argv[1], sys.argv[2] == "1"

    def write(files):
        with zipfile.ZipFile(arch, "w") as z:
            for name, src in files.items():
                z.writestr(name, src)

    files = {
        "zpkg/__init__.py": "",
        "zpkg/sub/__init__.py": "",
        "zpkg/sub/a.py": "A = 1\\n",
    }
    write(files)
    sys.path.insert(0, arch)
    import zpkg.sub.a
    if patched:
        from qalsh_spark.daemon import patch_zip_invalidation

        patch_zip_invalidation()

    reads = []
    real = zipimport._read_directory
    zipimport._read_directory = lambda path: reads.append(path) or real(path)
    importers = sum(
        isinstance(v, zipimport.zipimporter) and v.archive == arch
        for v in sys.path_importer_cache.values()
    )
    for _ in range(5):
        importlib.invalidate_caches()
    unchanged = len(reads)

    files["zpkg/sub/b.py"] = "B = 2\\n"
    write(files)
    importlib.invalidate_caches()
    rewritten = len(reads) - unchanged
    import zpkg.sub.b
    importlib.invalidate_caches()
    print(json.dumps({
        "importers": importers,
        "unchanged": unchanged,
        "rewritten": rewritten,
        "after": len(reads) - unchanged - rewritten,
        "b": zpkg.sub.b.B,
    }))
    """
)


def _probe(tmp_path, patched: bool) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, str(tmp_path / "mods.zip"), str(int(patched))],
        cwd=REPO,
        env={**os.environ, "PYTHONPATH": REPO},
        capture_output=True,
        text=True,
        timeout=120,
        check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="3.13+ zipimport already re-reads lazily; the daemon does not patch it",
)
def test_zip_invalidation_rereads_only_changed_archives(tmp_path):
    """Stock 3.11/3.12 re-reads the archive once per zipimporter on every
    importlib.invalidate_caches(), which pyspark calls at the start of each
    task.  Under the daemon's patch an unchanged archive is never re-read;
    a rewritten one is re-read once (not once per importer), and the module
    added by the rewrite imports."""
    stock = _probe(tmp_path, patched=False)
    assert stock["importers"] == 3
    assert stock["unchanged"] == 5 * stock["importers"], stock

    got = _probe(tmp_path, patched=True)
    assert got == {"importers": 3, "unchanged": 0, "rewritten": 1, "after": 0, "b": 2}


def test_spark_workers_run_the_daemon(spark):
    """A get_spark session forks its Python workers from qalsh_spark.daemon:
    a pandas UDF sees the frozen preloaded heap and, below 3.13, the
    daemon's zip invalidation."""

    @F.pandas_udf("string")
    def report(s: pd.Series) -> pd.Series:
        import gc
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        source = fn.__code__.co_filename if hasattr(fn, "__code__") else repr(fn)
        return s.map(lambda _: f"{gc.get_freeze_count()}|{source}")

    rows = spark.range(0, 8, 1, numPartitions=4).select(report("id")).collect()
    for (r,) in rows:
        freeze, source = r.split("|", 1)
        assert int(freeze) > 0, r
        if sys.version_info < (3, 13):
            assert source.endswith(os.path.join("qalsh_spark", "daemon.py")), r
