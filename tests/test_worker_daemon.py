"""worker_daemon: the stat-guarded zipimporter cache and its installation."""

import os
import subprocess
import sys
import textwrap

import pyarrow as pa

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in a fresh interpreter with no Spark, so this process's importers
# are untouched. Two importers read one archive: the root and the `pkg/`
# sub-package prefix.
_GUARD_SCRIPT = textwrap.dedent(
    """
    import importlib, os, sys, zipfile, zipimport

    from tts_etl_pipeline_spark import worker_daemon

    tmp, = sys.argv[1:]
    archive = os.path.join(tmp, "lib.zip")

    def build(modules):
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("pkg/__init__.py", "")
            for name, body in modules.items():
                z.writestr(f"pkg/{name}.py", body)

    build({"old": "X = 1\\n"})
    sys.path.insert(0, archive)
    import pkg.old

    importers = [v for k, v in sys.path_importer_cache.items()
                 if isinstance(v, zipimport.zipimporter) and k.startswith(archive)]
    assert len(importers) == 2, sys.path_importer_cache

    reads = []
    original_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return original_read(path)

    zipimport._read_directory = counting_read
    worker_daemon.install()
    assert zipimport.zipimporter.invalidate_caches.__module__ == (
        "tts_etl_pipeline_spark.worker_daemon")

    importlib.invalidate_caches()  # first call per importer stamps it
    assert len(reads) == 2, reads
    for _ in range(5):
        importlib.invalidate_caches()
    assert len(reads) == 2, f"unchanged archive re-read: {reads}"

    size = os.path.getsize(archive)
    build({"old": "X = 1\\n", "new": "Y = 'a longer module body'\\n"})
    assert os.path.getsize(archive) != size
    importlib.invalidate_caches()
    assert len(reads) == 4, f"changed archive not re-read by both importers: {reads}"
    import pkg.new
    assert pkg.new.Y == "a longer module body"
    importlib.invalidate_caches()
    assert len(reads) == 4, reads
    print("GUARD OK")
    """
)


def test_guard_rereads_only_changed_archives_per_importer(tmp_path):
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    ))
    out = subprocess.run(
        [sys.executable, "-c", _GUARD_SCRIPT, str(tmp_path)],
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "GUARD OK"


def test_get_spark_workers_run_the_daemon(spark):
    def guard_module(batches):
        import zipimport

        for _ in batches:
            mod = zipimport.zipimporter.invalidate_caches.__module__
            yield pa.RecordBatch.from_pydict({"module": [mod]})

    rows = spark.range(2, numPartitions=2).mapInArrow(guard_module, "module string")
    assert {r.module for r in rows.collect()} == {
        "tts_etl_pipeline_spark.worker_daemon"
    }
