"""qs_spark.pydaemon: the stat-guarded zipimporter.invalidate_caches and the
session wiring that makes every Python worker run under it."""

import json
import os
import subprocess
import sys
import textwrap
import types
import zipfile
import zipimport

import pytest

from qs_spark import pydaemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# interpreters whose zipimporter re-reads eagerly (3.10, 3.11): install() patches
EAGER = "invalidate_caches" in vars(zipimport.zipimporter) and not hasattr(
    zipimport.zipimporter, "_get_files"
)


@pytest.fixture
def fresh_caches(monkeypatch):
    monkeypatch.setattr(zipimport, "_zip_directory_cache", {})


def _counting_stub():
    calls = []

    def read(self):
        calls.append(self.archive)
        self._files = {"entry": len(calls)}
        zipimport._zip_directory_cache[self.archive] = self._files

    return read, calls


def test_unchanged_archive_is_read_once(tmp_path, fresh_caches):
    path = tmp_path / "lib.zip"
    path.write_bytes(b"x" * 100)
    read, calls = _counting_stub()
    guarded = pydaemon.guard(read)
    first = types.SimpleNamespace(archive=str(path), _files=None)
    guarded(first)
    guarded(first)
    assert len(calls) == 1
    # a second importer over the same archive adopts the same directory
    second = types.SimpleNamespace(archive=str(path), _files=None)
    guarded(second)
    assert len(calls) == 1
    assert second._files is first._files


def test_rewritten_archive_is_read_again(tmp_path, fresh_caches):
    path = tmp_path / "lib.zip"
    path.write_bytes(b"x" * 100)
    read, calls = _counting_stub()
    guarded = pydaemon.guard(read)
    imp = types.SimpleNamespace(archive=str(path), _files=None)
    guarded(imp)
    path.write_bytes(b"x" * 101)  # new size
    guarded(imp)
    assert len(calls) == 2
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))  # new mtime
    guarded(imp)
    assert len(calls) == 3
    assert imp._files == {"entry": 3}
    guarded(imp)
    assert len(calls) == 3


def test_guard_keeps_the_stdlib_contract(tmp_path, fresh_caches):
    """A real zipimporter sees a module added to its archive after the
    guarded invalidate_caches, as with the stdlib method."""
    path = str(tmp_path / "pkg.zip")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("a.py", "A = 1\n")
    imp = zipimport.zipimporter(path)
    guarded = pydaemon.guard(zipimport.zipimporter.invalidate_caches)
    guarded(imp)
    assert imp.find_spec("a") is not None and imp.find_spec("b") is None
    with zipfile.ZipFile(path, "a") as z:
        z.writestr("b.py", "B = 2\n")
    guarded(imp)
    assert imp.find_spec("b") is not None


_WORKER_PROBE = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, {repo!r})
    from qs_spark.session import get_spark

    def probe(batches):
        import pyarrow as pa
        from qs_spark import pydaemon
        for b in batches:
            yield pa.RecordBatch.from_pydict({{
                "guarded": [pydaemon.installed()] * b.num_rows,
            }})

    spark = get_spark("pydaemon_probe", cores=2, shuffle_partitions=2)
    rows = (spark.range(4, numPartitions=2)
            .mapInArrow(probe, "guarded boolean").collect())
    print(json.dumps([r.asDict() for r in rows]))
    spark.stop()
    """
)


def test_workers_run_guarded_from_a_neutral_cwd(tmp_path):
    """No PYTHONPATH and a cwd without qs_spark: the daemon still imports
    (get_spark puts qs_spark on the executor path) and every worker runs the
    guarded invalidate_caches."""
    script = tmp_path / "probe.py"
    script.write_text(_WORKER_PROBE.format(repo=REPO))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["QS_DRIVER_MEM"] = "1g"
    r = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-4000:]
    rows = json.loads(r.stdout.strip().splitlines()[-1])
    assert len(rows) == 4
    assert all(row["guarded"] == EAGER for row in rows), rows
