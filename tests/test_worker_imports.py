"""What a Python task imports: the stat-keyed zipimport invalidation the
package installs (``transilien_api_etl_spark._zipimport_cache``) and the
package zip that ``session.ship_package`` sends to the workers.

The patch is process-global and the stale-zip case needs a driver of its
own, so both run in subprocesses; the ``addPyFile`` case runs on the
shared session's warmed workers."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import uuid
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ZIPIMPORT_SCRIPT = textwrap.dedent(
    """
    import importlib, json, os, sys, tempfile, zipfile, zipimport
    sys.path.insert(0, sys.argv[1])
    import transilien_api_etl_spark

    zp = os.path.join(tempfile.mkdtemp(dir=sys.argv[2]), "probe.zip")

    def write(**modules):
        with zipfile.ZipFile(zp, "w") as zf:
            for name, value in modules.items():
                zf.writestr(f"{name}.py", f"VALUE = {value!r}\\n")

    write(probe_a=1)
    sys.path.insert(0, zp)
    import probe_a

    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        if archive == zp:
            reads.append(archive)
        return read_directory(archive)

    zipimport._read_directory = counting
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    unchanged = len(reads)

    write(probe_a=1, probe_b="rewritten")
    importlib.invalidate_caches()
    import probe_b

    method = zipimport.zipimporter.invalidate_caches
    patch = getattr(transilien_api_etl_spark, "_zipimport_cache", None)
    if patch is not None:
        importlib.reload(patch).install()
    idempotent = patch is not None and zipimport.zipimporter.invalidate_caches is method

    os.remove(zp)
    importlib.invalidate_caches()  # the stat fails: falls back, no raise
    print(json.dumps({
        "unchanged": unchanged, "rewritten": len(reads) - unchanged,
        "probe_b": probe_b.VALUE, "idempotent": idempotent,
    }))
    """
)

STALE_ZIP_SCRIPT = textwrap.dedent(
    """
    import os, sys, tempfile, zipfile
    sys.path.insert(0, sys.argv[1])
    # What an earlier process with this pid could have left behind.
    stale = os.path.join(tempfile.gettempdir(), f"transilien_api_etl_spark-{os.getpid()}.zip")
    with zipfile.ZipFile(stale, "w") as zf:
        zf.writestr("transilien_api_etl_spark/__init__.py", "STALE = True\\n")
    from transilien_api_etl_spark.session import build_session, ship_package

    spark = build_session(
        app_name="stale-zip", master="local[1]",
        extra_conf={"spark.driver.memory": "512m"},
    )
    ship_package(spark)

    def probe(it):
        import transilien_api_etl_spark as pkg
        yield (getattr(pkg, "STALE", False), hasattr(pkg, "_zipimport_cache"))

    print("WORKER-SEES", spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect())
    spark.stop()
    """
)


def _run(script: str, tmp_path) -> subprocess.CompletedProcess:
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    return subprocess.run(
        [sys.executable, "-c", script, REPO, str(tmp_path)],
        capture_output=True, text=True, timeout=300, env=env,
        # Not the repo: a worker's sys.path[0] is its cwd, which would
        # shadow the shipped zip.
        cwd=tmp_path,
    )


def test_invalidate_caches_rereads_a_zip_only_when_it_changed(tmp_path):
    proc = _run(ZIPIMPORT_SCRIPT, tmp_path)
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["unchanged"] == 0  # CPython < 3.13 re-read it on every call
    assert out["rewritten"] >= (1 if sys.version_info < (3, 13) else 0)
    assert out["probe_b"] == "rewritten"
    assert out["idempotent"]


def test_shipped_package_ignores_a_leftover_zip_at_the_pid_path(tmp_path):
    proc = _run(STALE_ZIP_SCRIPT, tmp_path)
    assert "WORKER-SEES [(False, True)]" in proc.stdout, (
        f"stdout={proc.stdout[-2000:]}\nstderr={proc.stderr[-2000:]}"
    )


def test_addpyfile_after_warm_workers_is_importable(spark, tmp_path):
    """The invalidation setup_spark_files runs per task exists so that a
    zip added after the workers started is importable; the patch must keep
    that on workers that already imported the package."""
    from transilien_api_etl_spark.session import ship_package

    ship_package(spark)
    sc = spark.sparkContext
    n = sc.defaultParallelism

    def warm(it):
        import zipimport

        import transilien_api_etl_spark  # noqa: F401  (installs the patch)

        yield getattr(zipimport.zipimporter.invalidate_caches, "_stat_keyed", False)

    patched = sc.parallelize(range(n), n).mapPartitions(warm).collect()
    assert patched == [sys.version_info < (3, 13)] * n

    name = f"graft_probe_{uuid.uuid4().hex[:12]}"
    zp = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(zp, "w") as zf:
        zf.writestr(f"{name}.py", "VALUE = 42\n")
    sc.addPyFile(str(zp))

    def probe(it):
        import importlib

        yield importlib.import_module(name).VALUE

    assert sc.parallelize(range(n), n).mapPartitions(probe).collect() == [42] * n
