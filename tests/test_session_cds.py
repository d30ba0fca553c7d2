"""The driver JVM's class-data-sharing archive (``session._class_archive``).

The unit tests drive the launch decision and the publishing step over a
fake JDK, a fake Spark home and a cache dir under ``tmp_path``; no JVM
starts. The subprocess test launches three real drivers against one
fresh cache: ``write_class_archive`` writes the archive, an ordinary
start maps it, and a start over the archive cut short is a normal one."""

from __future__ import annotations

import os
import struct
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

from etl_example_spark import session
from etl_example_spark.session import _class_archive, _publish

ROOT = Path(__file__).resolve().parent.parent


def _archive_bytes(used: int = 8192) -> bytes:
    """A JDK 17 dynamic-archive header with one region of ``used`` bytes
    at offset 4096, padded to the full file."""
    head = bytearray(4096)
    struct.pack_into("<Iii", head, 0, 0xF00BABA8, 0, 11)
    struct.pack_into("<QxxxxxxxxQ", head, 16 + 24, 4096, used)
    return bytes(head) + b"\1" * used


def _write(path: Path, data: bytes, mode: int = 0o444) -> Path:
    path.write_bytes(data)
    path.chmod(mode)
    return path


@pytest.fixture
def box(tmp_path, monkeypatch):
    """(environ, spark_home, cache dir) over a fake JDK 17 and Spark;
    ``get_spark``'s decision (:func:`_mapped`) sees the same."""
    jdk = tmp_path / "jdk"
    (jdk / "lib").mkdir(parents=True)
    (jdk / "lib" / "modules").write_bytes(b"modules")
    (jdk / "release").write_text('IMPLEMENTOR="x"\nJAVA_VERSION="17.0.20"\n')
    spark_home = tmp_path / "spark"
    (spark_home / "jars").mkdir(parents=True)
    (spark_home / "jars" / "spark-core.jar").write_bytes(b"jar")
    (spark_home / "conf").mkdir()
    (spark_home / "conf" / "spark-defaults.conf.template").write_text("# template\n")
    environ = {"JAVA_HOME": str(jdk), "XDG_CACHE_HOME": str(tmp_path / "xdg")}
    for name in ("SPARK_CONF_DIR", *session._CDS_SKIP_ENV):
        monkeypatch.delenv(name, raising=False)
    for name, value in environ.items():
        monkeypatch.setenv(name, value)
    monkeypatch.setattr(session, "_find_spark_home", lambda: str(spark_home))
    # as in a process that has not started its JVM
    monkeypatch.setattr(session, "SparkContext", SimpleNamespace(_gateway=None))
    return environ, str(spark_home), tmp_path / "xdg" / "etl_example_spark"


def _mapped() -> Path | None:
    """The archive ``get_spark``'s launch maps."""
    archive = session._mapped_archive({})
    return None if archive is None else Path(archive.path)


def test_conf_dir_with_real_config_launches_as_today(box):
    environ, spark_home, cache = box
    Path(spark_home, "conf", "spark-defaults.conf").write_text("spark.foo bar\n")
    before = dict(os.environ)
    assert _class_archive(environ, spark_home, create=True) is None
    assert dict(os.environ) == before
    assert not cache.exists()


def test_an_ordinary_launch_without_an_archive_writes_nothing(box):
    environ, spark_home, cache = box
    assert _class_archive(environ, spark_home) is None
    assert not cache.exists()

    archive = _class_archive(environ, spark_home, create=True)
    path = Path(archive.path)
    assert path.parent == cache and path.name.startswith("driver-")
    assert path.suffix == ".jsa" and not path.exists()
    # the launch swaps in an empty conf dir of the cache's own
    assert archive.env == {"SPARK_CONF_DIR": str(cache / "conf")}
    assert os.listdir(cache) == ["conf"] and os.listdir(cache / "conf") == []
    assert (cache.stat().st_mode & 0o777) == 0o700
    assert _mapped() is None


def test_a_whole_dump_is_published_and_everything_else_deleted(box):
    """Publishing needs no word from the JVM that wrote the dump: the
    JVM writes the header last, so a whole header and regions mean a
    finished dump. Other keys' archives and a killed writer's dump go."""
    environ, spark_home, cache = box
    archive = _class_archive(environ, spark_home, create=True)
    part = _write(cache / "driver-0123.abcd.part", _archive_bytes())
    stray = _write(cache / "driver-0123.ef01.part", bytes(100))
    old = _write(cache / "driver-4567.jsa", _archive_bytes())
    assert _publish(archive, str(part)) == archive.path
    assert _mapped() == Path(archive.path)
    assert Path(archive.path).read_bytes() == _archive_bytes()
    assert sorted(os.listdir(cache)) == ["conf", Path(archive.path).name]
    assert not part.exists() and not stray.exists() and not old.exists()


def test_an_unfinished_dump_is_deleted_not_published(box):
    """A JVM killed while dumping leaves a file without its header; one
    cut short after the header has regions past its end (mapping that
    one kills the JVM with SIGBUS)."""
    environ, spark_home, cache = box
    archive = _class_archive(environ, spark_home, create=True)
    for data in (bytes(len(_archive_bytes())), _archive_bytes()[:6000]):
        part = _write(cache / "driver-0123.abcd.part", data)
        assert _publish(archive, str(part)) is None
        assert not part.exists()
        assert os.listdir(cache) == ["conf"]


def test_an_archive_cut_short_is_not_mapped(box):
    environ, spark_home, cache = box
    archive = _class_archive(environ, spark_home, create=True)
    _write(Path(archive.path), _archive_bytes()[:6000])
    assert _mapped() is None


def test_a_group_writable_archive_is_ignored(box):
    environ, spark_home, cache = box
    archive = _class_archive(environ, spark_home, create=True)
    _write(Path(archive.path), _archive_bytes(), mode=0o664)
    assert _mapped() is None
    Path(archive.path).chmod(0o444)
    assert _mapped() == Path(archive.path)


def test_a_new_jdk_ignores_the_old_archive_and_its_publish_deletes_it(box):
    environ, spark_home, cache = box
    old = Path(_class_archive(environ, spark_home, create=True).path)
    _write(old, _archive_bytes())
    assert _mapped() == old

    modules = Path(environ["JAVA_HOME"], "lib", "modules")
    os.utime(modules, ns=(0, modules.stat().st_mtime_ns + 10**9))
    assert _mapped() is None
    archive = _class_archive(environ, spark_home)
    assert Path(archive.path) != old and old.exists()

    part = _write(cache / (Path(archive.path).stem + ".abcd.part"), _archive_bytes(4096))
    _publish(archive, str(part))
    assert not old.exists()
    assert [p.name for p in cache.glob("*.jsa")] == [Path(archive.path).name]


def test_other_jdks_and_longer_class_paths_launch_as_today(box):
    environ, spark_home, cache = box
    _write(Path(_class_archive(environ, spark_home, create=True).path), _archive_bytes())
    assert _mapped() is not None
    assert session._mapped_archive({"spark.driver.extraClassPath": "/x.jar"}) is None
    assert _class_archive({**environ, "HADOOP_CONF_DIR": "/etc/hadoop"}, spark_home) is None
    release = Path(environ["JAVA_HOME"], "release")
    release.write_text('JAVA_VERSION="21.0.4"\n')
    assert _class_archive(environ, spark_home, create=True) is None


_DRIVER = """
import sys
from etl_example_spark.session import get_spark, write_class_archive

if sys.argv[1] == "write":
    print("archive", write_class_archive(), flush=True)
    sys.exit()
extra = {}
if len(sys.argv) > 2:
    extra["spark.driver.extraJavaOptions"] = f"-Xlog:class+load=info:file={sys.argv[2]}"
spark = get_spark(app_name="cds-test", extra_conf=extra)
print("rows", spark.range(100).count(), flush=True)
print("options", spark.sparkContext.getConf().get("spark.driver.defaultJavaOptions"), flush=True)
spark.stop()
"""


def _run_driver(env, *args) -> str:
    proc = subprocess.run(
        [sys.executable, "-c", _DRIVER, *args],
        capture_output=True, text=True, timeout=400, env=env, cwd=str(ROOT),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    # neither the writing nor the mapping nor a refusing JVM says a word
    # about CDS (nor crashes: an archive cut short used to SIGBUS it)
    for line in (proc.stdout + proc.stderr).splitlines():
        if line.startswith(("options ", "archive ")):
            continue
        assert "cds" not in line.lower() and "sharedarchive" not in line.lower(), line
    return proc.stdout


def test_written_archive_is_mapped_and_a_cut_short_one_gives_a_normal_start(tmp_path):
    env = {
        **os.environ,
        "XDG_CACHE_HOME": str(tmp_path / "xdg"),
        "SPARK_GRAFT_CPUS": "2",
        "PYTHONPATH": os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
    }
    if _class_archive(env, session._find_spark_home(), create=True) is None:
        pytest.skip("this box launches the driver without an archive (JDK, conf dir or class path)")
    cache = tmp_path / "xdg" / "etl_example_spark"

    out = _run_driver(env, "write")
    [archive] = cache.glob("driver-*")
    assert f"archive {archive}" in out and archive.suffix == ".jsa"

    classes = tmp_path / "classes.log"
    out = _run_driver(env, "map", str(classes))
    assert "rows 100" in out and f"-XX:SharedArchiveFile={archive}" in out
    assert "source: shared objects file (top)" in classes.read_text()

    archive.chmod(0o644)
    with open(archive, "r+b") as fh:
        fh.truncate(archive.stat().st_size // 2)
    archive.chmod(0o444)
    # the archive cut short is skipped; the start is the normal one and
    # writes nothing
    out = _run_driver(env, "map")
    assert "rows 100" in out and "options None" in out
    assert sorted(p.name for p in cache.iterdir()) == sorted(["conf", archive.name])
