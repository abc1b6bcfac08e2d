"""The engine's Python worker daemon (kafka_cassandra_plugin_spark.worker_daemon).

The gate tests run in-process with no Spark: they build zip archives,
import from them and count how often the original
``zipimporter.invalidate_caches`` re-reads an archive's directory.  The
Spark tests check that a session's workers run the gate and that they
start from any working directory.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql.functions import pandas_udf

from kafka_cassandra_plugin_spark import worker_daemon as WD
from kafka_cassandra_plugin_spark.session import DAEMON_MODULE, session_confs

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GATED = sys.version_info < (3, 12)


def _write_zip(path, files: dict[str, str]) -> None:
    """Rewrite ``path`` in place with ``files`` and move its mtime on,
    so the new stamp differs even on a coarse-clock filesystem."""
    old = os.stat(path).st_mtime_ns if os.path.exists(path) else 0
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in files.items():
            zf.writestr(name, src)
    ns = max(os.stat(path).st_mtime_ns, old + 1_000_000_000)
    os.utime(path, ns=(ns, ns))


@pytest.fixture
def reads(monkeypatch):
    """Every importer the original invalidate_caches re-reads, in order."""
    seen = []
    original = WD._reread

    def counted(importer):
        seen.append(importer)
        original(importer)

    monkeypatch.setattr(WD, "_reread", counted)
    return seen


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding package ``kcpgate`` (VALUE = 1), with the
    gate installed for the test; the package is forgotten afterwards."""
    path = str(tmp_path / "gate.zip")
    _write_zip(path, {"kcpgate/__init__.py": "",
                      "kcpgate/mod.py": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(path)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        WD.gated_invalidate_caches)
    yield path
    for name in [m for m in sys.modules if m.split(".")[0] == "kcpgate"]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]


def _importers(path):
    """The root importer of ``path`` and the one for its ``kcpgate``
    subpackage, as the path hooks made them during the import."""
    return (sys.path_importer_cache[path],
            sys.path_importer_cache[os.path.join(path, "kcpgate")])


@pytest.mark.skipif(not GATED, reason="Python >= 3.12 re-reads lazily")
class TestGate:
    def test_unchanged_archive_is_not_read(self, archive, reads):
        assert importlib.import_module("kcpgate.mod").VALUE == 1
        root, sub = _importers(archive)
        assert sub.prefix and not root.prefix
        importlib.invalidate_caches()  # first call stamps: one read each
        assert [i for i in reads if i in (root, sub)] == [root, sub]
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
            WD.gated_invalidate_caches(sub)
        assert [i for i in reads if i in (root, sub)] == []

    def test_rewrite_rereads_every_importer(self, archive, reads):
        assert importlib.import_module("kcpgate.mod").VALUE == 1
        root, sub = _importers(archive)
        importlib.invalidate_caches()
        reads.clear()
        _write_zip(archive, {"kcpgate/__init__.py": "",
                             "kcpgate/mod.py": "VALUE = 2\n",
                             "kcpgate/extra.py": "NEW = True\n"})
        importlib.invalidate_caches()
        assert [i for i in reads if i in (root, sub)] == [root, sub]
        # each instance holds its own stamp: the next call reads nothing
        reads.clear()
        importlib.invalidate_caches()
        assert [i for i in reads if i in (root, sub)] == []
        del sys.modules["kcpgate.mod"]
        assert importlib.import_module("kcpgate.mod").VALUE == 2
        assert importlib.import_module("kcpgate.extra").NEW is True

    def test_install_patches_the_class(self, monkeypatch):
        monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                            zipimport.zipimporter.invalidate_caches)
        assert WD.install() is True
        assert (zipimport.zipimporter.invalidate_caches
                is WD.gated_invalidate_caches)


def test_nothing_patched_from_python_312(monkeypatch):
    before = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    assert WD.install() is False
    assert zipimport.zipimporter.invalidate_caches is before


def test_daemon_import_skips_engine_and_operators():
    code = ("import sys, kafka_cassandra_plugin_spark.worker_daemon; "
            "print(sorted(m for m in sys.modules if m.startswith("
            "'kafka_cassandra_plugin_spark.')))")
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                         capture_output=True, text=True, check=True)
    assert out.stdout.strip() == (
        "['kafka_cassandra_plugin_spark.worker_daemon']")


@pytest.mark.skipif(not GATED, reason="Python >= 3.12 re-reads lazily")
def test_session_workers_run_the_gate(spark):
    @pandas_udf("string")
    def probe(s: pd.Series) -> pd.Series:
        import zipimport as zi
        f = zi.zipimporter.invalidate_caches
        name = f"{f.__qualname__}@{os.path.basename(f.__code__.co_filename)}"
        return s.map(lambda _: name)

    got = spark.range(1).select(probe("id")).first()[0]
    assert got == "gated_invalidate_caches@worker_daemon.py"


@pytest.mark.parametrize("master,local", [
    ("local", True), ("local[*]", True), ("local-cluster[2,1,1024]", True),
    ("spark://head:7077", False), ("k8s://https://head:443", False),
    ("yarn", False)])
def test_engine_daemon_only_on_local_masters(master, local):
    # elsewhere executors get the package by pip or --py-files, and a
    # --py-files archive is not on the path when the daemon starts
    assert session_confs(master).get(DAEMON_MODULE) == (
        WD.__name__ if local else None)
    chosen = {DAEMON_MODULE: WD.__name__}  # e.g. package pip-installed
    assert session_confs(master, chosen)[DAEMON_MODULE] == WD.__name__


def test_workers_start_outside_the_repo(tmp_path):
    """A session started from an unrelated working directory with no
    PYTHONPATH still finds the daemon: get_spark ships the package root
    on the workers' PYTHONPATH, ahead of a deployment's own
    spark.executorEnv.PYTHONPATH (here from spark-defaults.conf), which
    the workers keep."""
    deployed = tmp_path / "deployed"
    deployed.mkdir()
    (deployed / "kcp_deployed.py").write_text("VALUE = 10\n")
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text(
        f"spark.executorEnv.PYTHONPATH {deployed}\n")
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import pandas as pd
        from pyspark.sql.functions import pandas_udf
        from kafka_cassandra_plugin_spark import get_spark

        spark = get_spark("daemon-cwd", master="local[1]",
                          overrides={{"spark.driver.memory": "1g"}})

        @pandas_udf("long")
        def plus_one(s: pd.Series) -> pd.Series:
            import kcp_deployed
            return s + kcp_deployed.VALUE

        rows = spark.range(3).select(plus_one("id")).collect()
        print("RESULT", sorted(r[0] for r in rows))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_CONF_DIR"] = str(conf_dir)
    out = subprocess.run([sys.executable, "-c", script], cwd=str(tmp_path),
                         env=env, capture_output=True, text=True,
                         timeout=600)
    assert "RESULT [10, 11, 12]" in out.stdout, out.stderr[-3000:]
