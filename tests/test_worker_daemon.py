"""The Python worker daemon: zip importers re-read only changed archives."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = textwrap.dedent(
    """
    import importlib, sys, zipfile

    import ocr_spark.pyworker as pyworker

    archive = sys.argv[1]
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("mod_a.py", "A = 1\\n")
    sys.path.insert(0, archive)
    import mod_a

    imp = sys.path_importer_cache[archive]
    importlib.invalidate_caches()  # the first call reads and stamps
    files = imp._files
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert imp._files is files, "unchanged archive was re-read"

    # The stdlib method re-reads on every call; the check above can fail.
    pyworker._stdlib_invalidate_caches(imp)
    assert imp._files is not files
    files = imp._files

    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("mod_a.py", "A = 1\\n")
        z.writestr("mod_b.py", "B = 2\\n")
    importlib.invalidate_caches()
    assert imp._files is not files, "rewritten archive was not re-read"
    import mod_b

    assert mod_b.B == 2
    assert "pyspark" not in sys.modules
    print("ok")
    """
)

# A driver outside the checkout, as under spark-submit --py-files: the
# workers must still find the daemon module.
_OUTSIDE = textwrap.dedent(
    """
    import sys

    sys.path.insert(0, sys.argv[1])
    from ocr_spark.session import get_spark

    def probe(batches):
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        where = zipimport.zipimporter.invalidate_caches.__code__.co_filename
        yield pa.RecordBatch.from_pydict({"where": [where]})

    spark = get_spark(cores=1, extra_conf={"spark.ui.showConsoleProgress": "false"})
    print(spark.range(1, numPartitions=1).mapInArrow(probe, "where string").first().where)
    spark.stop()
    """
)


def test_unchanged_zip_is_not_reread_and_changed_zip_is(tmp_path):
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, str(tmp_path / "lib.zip")],
        env=env, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"


def test_get_spark_workers_fork_from_the_daemon(spark):
    def probe(batches):
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        where = zipimport.zipimporter.invalidate_caches.__code__.co_filename
        yield pa.RecordBatch.from_pydict({"where": [where]})

    rows = spark.range(1, numPartitions=1).mapInArrow(probe, "where string").collect()
    assert [r.where for r in rows] == [os.path.join(REPO, "ocr_spark", "pyworker.py")]


def test_workers_find_the_daemon_from_outside_the_checkout(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", _OUTSIDE, REPO],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == os.path.join(REPO, "ocr_spark", "pyworker.py")
