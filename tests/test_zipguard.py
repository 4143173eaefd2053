"""The Python-worker zip guard (``torchtrajectory_spark.zipguard``):
an archive is re-read by ``importlib.invalidate_caches()`` only when it
changed; the guard is active in workers that ran an engine UDF and never
on the driver."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipimport

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# runs in a fresh interpreter: installing the guard in the test process
# would change the driver importers the last test checks
_SCRIPT = textwrap.dedent("""
    import importlib, os, sys, zipfile, zipimport
    sys.path.insert(0, {root!r})
    from torchtrajectory_spark import zipguard

    arc = {arc!r}
    def write(value, pad):
        with zipfile.ZipFile(arc, "w") as zf:
            zf.writestr("zgmod.py", f"VALUE = {{value}}\\n# {{'x' * pad}}\\n")

    reads = []
    real = zipimport._read_directory
    def counted(path):
        reads.append(path)
        return real(path)
    zipimport._read_directory = counted

    write(1, 0)
    sys.path.insert(0, arc)
    import zgmod
    assert zgmod.VALUE == 1
    zipguard.install()
    assert zipguard.installed()

    def n_reads():
        return sum(p == arc for p in reads)

    base = n_reads()
    importlib.invalidate_caches()  # first guarded call reads once
    assert n_reads() == base + 1, (reads, base)
    for _ in range(3):
        importlib.invalidate_caches()  # unchanged: not re-read
    assert n_reads() == base + 1, reads

    st = os.stat(arc)
    write(22, 64)  # new size ...
    os.utime(arc, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))  # ... and mtime
    importlib.invalidate_caches()
    assert n_reads() == base + 2, reads
    del sys.modules["zgmod"]
    import zgmod
    assert zgmod.VALUE == 22
    print("OK")
""")


@pytest.mark.skipif(sys.version_info < (3, 10),
                    reason="zipimporter.invalidate_caches exists from 3.10")
def test_guard_rereads_only_changed_archives(tmp_path):
    script = _SCRIPT.format(root=ROOT, arc=str(tmp_path / "mods.zip"))
    r = subprocess.run([sys.executable, "-c", script], capture_output=True,
                       text=True, timeout=120)
    assert r.returncode == 0 and r.stdout.strip().endswith("OK"), r.stderr


def test_guard_on_engine_workers_not_driver(spark, tmp_path):
    """After an engine query, every Python worker that imported the
    package has the guard; the driver's importer method is untouched."""
    from torchtrajectory_spark import zipguard
    from torchtrajectory_spark.engine import Engine

    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i % 7}") for i in range(40)],
        "doc_id long, text string")
    eng = Engine.build(spark, docs, str(tmp_path / "zg_idx"), id_col="doc_id",
                       text_col="text", analyzer="ws", n_segments=2,
                       buckets=4)
    assert eng.find_topk(["alpha", "w3"], 5).collect()

    def probe(batches):
        # imports nothing from the package: it only reports
        import os as _os
        import sys as _sys
        import zipimport as _zi

        import pandas as _pd

        for _ in batches:
            yield _pd.DataFrame({
                "pid": [_os.getpid()],
                "pkg": ["torchtrajectory_spark" in _sys.modules],
                "guard": [_zi.zipimporter.invalidate_caches.__name__],
            })

    rows = spark.range(8, numPartitions=8).mapInPandas(
        probe, "pid long, pkg boolean, guard string").collect()
    with_pkg = [r for r in rows if r["pkg"]]
    assert with_pkg, rows
    assert all(r["guard"] == "_guarded_invalidate" for r in with_pkg), rows
    assert not zipguard.installed()
    assert zipimport.zipimporter.invalidate_caches \
        is not zipguard._guarded_invalidate
