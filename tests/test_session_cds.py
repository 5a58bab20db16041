"""Cold start from a class-data-sharing archive (``session.get_spark``).

The option composition, the key and the promotion of temp archives run
without Spark, on fake files. The session tests start real driver JVMs in
subprocesses, each over its own cache directory: only the garbage-archive
one is in the default tier.
"""

import json
import os
import struct
import subprocess
import sys

import pytest
from pyspark.find_spark_home import _find_spark_home

from svoe_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def cache(tmp_path, monkeypatch):
    """An empty user cache, a plain environment and the real SPARK_HOME."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for var in session._CLASS_PATH_ENV:
        monkeypatch.delenv(var, raising=False)
    return tmp_path / "cache" / "svoe_spark" / "cds"


def fake_archive(path, size=8192, used=4096, offset=4096):
    """A file with a JDK 17 archive header whose one region ends at
    ``offset + used``, padded with zeros to ``size`` bytes."""
    head = struct.pack("<IiI", session._MAGIC, 0, session._VERSION).ljust(16, b"\0")
    region = b"\0" * 24 + struct.pack("<QQQ", offset, 0, used)
    head += region.ljust(session._REGION_BYTES, b"\0") + b"\0" * ((session._REGIONS - 1) * session._REGION_BYTES)
    path.write_bytes(head.ljust(size, b"\0"))
    return path


def dead_pid():
    proc = subprocess.Popen([sys.executable, "-c", "pass"])
    proc.wait()
    return proc.pid


def test_flag_is_appended_to_the_callers_java_options(cache):
    share = session._class_share("local[2]", {session._JAVA_OPTS: "-Dx=1 -Xms1g"})
    assert share is not None and share.dumping
    assert share.flags.startswith(f"-XX:ArchiveClassesAtExit={cache}{os.sep}{share.key}.{os.getpid()}.tmp")
    assert os.path.isdir(share.conf_dir) and not os.listdir(share.conf_dir)

    fake_archive(cache / f"{share.key}.jsa")
    share = session._class_share("local[2]", {})
    assert share.flags == f"-XX:SharedArchiveFile={cache / share.key}.jsa" and not share.dumping


@pytest.mark.parametrize("opts", ["-Xshare:off", "-XX:SharedArchiveFile=/x.jsa", "-XX:ArchiveClassesAtExit=/x.jsa"])
def test_caller_sharing_flag_means_no_flag_added(cache, opts):
    assert session._class_share("local[2]", {session._JAVA_OPTS: f"-Dx=1 {opts}"}) is None


@pytest.mark.parametrize("master", ["spark://host:7077", "yarn", None])
def test_non_local_master_gets_no_archive(cache, master):
    assert session._class_share(master, {}) is None


def test_user_conf_dir_gets_no_archive(cache, monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    assert session._class_share("local[2]", {}) is None


def fake_spark_home(root, conf_files):
    (root / "jars").mkdir(parents=True)
    (root / "jars" / "a.jar").write_bytes(b"a" * 10)
    (root / "conf").mkdir()
    for name in conf_files:
        (root / "conf" / name).write_text("")
    return root


def test_non_template_spark_conf_gets_no_archive(cache, monkeypatch, tmp_path):
    home = fake_spark_home(tmp_path / "spark", ["spark-defaults.conf.template"])
    monkeypatch.setattr(session, "_find_spark_home", lambda: str(home))
    assert session._class_share("local[2]", {}) is not None
    (home / "conf" / "spark-defaults.conf").write_text("spark.driver.memory 2g\n")
    assert session._class_share("local[2]", {}) is None


def test_key_changes_with_a_jar_size(tmp_path):
    home = fake_spark_home(tmp_path / "spark", [])
    key = session._archive_key(str(home))
    assert key is not None and session._archive_key(str(home)) == key
    with open(home / "jars" / "a.jar", "ab") as f:
        f.write(b"b")
    assert session._archive_key(str(home)) != key


def test_whole_archive_needs_header_and_every_region(tmp_path):
    assert session._whole_archive(fake_archive(tmp_path / "ok"))
    assert not session._whole_archive(fake_archive(tmp_path / "cut", size=6000))
    (tmp_path / "hole").write_bytes(b"\0" * 8192)  # the header is written last
    assert not session._whole_archive(tmp_path / "hole")
    assert not session._whole_archive(tmp_path / "missing")


def test_promote_skips_a_live_writer(tmp_path):
    writer = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    try:
        tmp = fake_archive(tmp_path / f"k.{writer.pid}.tmp")
        session._promote(str(tmp_path), "k")
        assert tmp.exists() and not (tmp_path / "k.jsa").exists()
    finally:
        writer.kill()
        writer.wait(timeout=10)
    session._promote(str(tmp_path), "k")
    assert not tmp.exists() and session._whole_archive(tmp_path / "k.jsa")


def test_promote_renames_a_whole_archive_of_an_exited_writer(tmp_path):
    fake_archive(tmp_path / f"k.{os.getpid()}.tmp", size=9000)
    fake_archive(tmp_path / f"other.{dead_pid()}.tmp")
    session._promote(str(tmp_path), "k", exited=(os.getpid(),))
    assert sorted(p.name for p in tmp_path.iterdir()) == ["k.jsa", next(tmp_path.glob("other.*")).name]
    assert (tmp_path / "k.jsa").stat().st_size == 9000


def test_promote_removes_a_partial_archive(tmp_path):
    (tmp_path / f"k.{dead_pid()}.tmp").write_bytes(b"\0" * 8192)
    session._promote(str(tmp_path), "k")
    assert list(tmp_path.iterdir()) == []


def test_promote_never_rewrites_the_final_archive(tmp_path):
    final = fake_archive(tmp_path / "k.jsa", size=8192)
    before = final.stat()
    with open(final, "rb") as mapped:
        fake_archive(tmp_path / f"k.{dead_pid()}.tmp", size=12288)
        session._promote(str(tmp_path), "k")
        assert os.fstat(mapped.fileno()).st_size == 8192
    after = final.stat()
    assert (after.st_ino, after.st_size, after.st_mtime_ns) == (before.st_ino, before.st_size, before.st_mtime_ns)
    assert [p.name for p in tmp_path.iterdir()] == ["k.jsa"]


PROBE = """
import json, sys
from svoe_spark.session import get_spark
spark = get_spark("cds_probe", master="local[1]", extra_conf={"spark.ui.enabled": "false"})
assert spark.range(10).selectExpr("sum(id)").first()[0] == 45
pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
with open(f"/proc/{pid}/maps") as f:
    mapped = sorted({line.split()[-1] for line in f if "/svoe_spark/cds/" in line})
print(json.dumps({"pid": pid, "mapped": mapped}))
"""


def probe_session(cache_home, dumps):
    """Run a one-query session in a subprocess over ``cache_home``: the
    driver JVM's pid and the archives it mapped."""
    env = {k: v for k, v in os.environ.items() if k not in session._CLASS_PATH_ENV}
    env.update(XDG_CACHE_HOME=str(cache_home), SPARK_GRAFT_CPUS="1",
               PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p))
    proc = subprocess.run([sys.executable, "-c", PROBE], env=env, cwd=ROOT, capture_output=True,
                          text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    if dumps:  # the Python process waited for its JVM to write the archive
        assert not os.path.exists(f"/proc/{out['pid']}")
    return out


def key_archive(cache_home):
    cds = os.path.join(cache_home, "svoe_spark", "cds")
    return os.path.join(cds, f"{session._archive_key(_find_spark_home())}.jsa")


def test_garbage_archive_still_runs_and_is_replaced(tmp_path):
    archive = key_archive(tmp_path)
    os.makedirs(os.path.dirname(archive))
    with open(archive, "wb") as f:
        f.write(os.urandom(1 << 20))
    assert probe_session(tmp_path, dumps=True)["mapped"] == []
    # the session dumped a new archive, and it replaced the garbage
    assert session._whole_archive(archive)
    assert [n for n in os.listdir(os.path.dirname(archive)) if n.endswith(".tmp")] == []


@pytest.fixture(scope="module")
def dumped(tmp_path_factory):
    """A cache whose key's archive was dumped by a one-query session."""
    home = tmp_path_factory.mktemp("cds")
    probe_session(home, dumps=True)
    assert session._whole_archive(key_archive(home))
    return home


@pytest.mark.heavy
def test_whole_archive_is_mapped_by_the_driver_jvm(dumped):
    assert probe_session(dumped, dumps=False)["mapped"] == [key_archive(dumped)]


@pytest.mark.heavy
def test_truncated_archive_still_runs(dumped, tmp_path):
    archive = key_archive(tmp_path)
    os.makedirs(os.path.dirname(archive))
    with open(key_archive(dumped), "rb") as src, open(archive, "wb") as dst:
        dst.write(src.read(os.path.getsize(key_archive(dumped)) // 3))
    assert probe_session(tmp_path, dumps=True)["mapped"] == []
    assert session._whole_archive(archive)
