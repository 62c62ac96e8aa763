"""The driver JVM's class-data-sharing archive (``session.get_spark``).

A fresh JVM maps the install's archive; a miss builds it once in a
``warmup`` child; a bad archive still gives a working session and one
warning, and is removed so that the next session rebuilds it. Each case
that needs its own JVM launch runs in a child process with a private
``XDG_CACHE_HOME``; a child stubs out the build unless the build is what
the test checks.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import textwrap

import pytest

from file_indexer_spark import session
from file_indexer_spark.cli import main

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MEMORY = os.environ.get("SPARK_DRIVER_MEMORY") or session.default_driver_memory()

# Starts a session with the build stubbed out ("stub"), failing ("fail")
# or real ("real"); "again" asks for the session a second time and
# "unchecked" trusts every archive's header. Reports what get_spark
# warned and whether it touched SPARK_CONF_DIR, then asks for the archive
# the next launch would use. If get_spark raises, reports only that.
CHILD = textwrap.dedent("""
    import json, os, sys, warnings
    from file_indexer_spark import session

    builds = []
    if sys.argv[1] == "stub":
        session._build_archive = lambda archive: (builds.append(archive.path) or "stubbed", None)
    elif sys.argv[1] == "fail":
        session._run_warmup = lambda archive, work: builds.append(work) or "boom"
    if "unchecked" in sys.argv:
        session._check_archive = lambda path, jvm_version: None
    conf = os.environ.get("SPARK_CONF_DIR")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        try:
            spark = session.get_spark("archive-test", shuffle_partitions=1, cpus=1)
        except Exception as exc:
            print(json.dumps({"raised": type(exc).__name__, "builds": len(builds)}))
            sys.exit(0)
        if "again" in sys.argv:
            session.get_spark("archive-test", shuffle_partitions=1, cpus=1)
    report = {
        "rows": spark.range(3).count(),
        "warnings": [str(w.message) for w in caught if "NOT applied" in str(w.message)],
        "conf_unchanged": os.environ.get("SPARK_CONF_DIR") == conf,
        "marker": spark.conf.get("spark.fis.test.marker", None),
    }
    session.stop_jvm(spark)
    launched = len(builds)
    session._prepare_archive(os.environ.get("SPARK_DRIVER_MEMORY") or session.default_driver_memory())
    report["next_launch_builds"] = len(builds) - launched
    print(json.dumps(report))
""")


def _env(cache: str, **extra: str) -> dict:
    env = {**os.environ, "XDG_CACHE_HOME": cache, **extra}
    env["PYTHONPATH"] = os.pathsep.join(filter(None, (REPO, env.get("PYTHONPATH"))))
    return env


def _child(cache: str, cwd: str, *args: str, **extra: str) -> subprocess.Popen:
    return subprocess.Popen([sys.executable, "-c", CHILD, *(args or ("stub",))], cwd=cwd,
                            env=_env(cache, **extra), stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True)


def _report(proc: subprocess.Popen) -> dict:
    out, err = proc.communicate(timeout=900)
    assert proc.returncode == 0, err[-3000:]
    return json.loads(out.strip().splitlines()[-1])


def _plan(monkeypatch, cache: str) -> session._Archive:
    monkeypatch.setenv("XDG_CACHE_HOME", cache)
    archive, why_not = session._archive_plan(MEMORY)
    if archive is None:
        pytest.skip(f"no class-data-sharing archive here: {why_not}")
    return archive


@pytest.fixture(scope="module")
def foreign_archive(tmp_path_factory) -> bytes:
    """A whole archive from this JDK for another classpath: what a JVM
    dumps that ran Spark's launcher from its jar alone (it exits with a
    usage error)."""
    from pyspark.find_spark_home import _find_spark_home

    path = tmp_path_factory.mktemp("foreign") / "launcher.jsa"
    java = os.path.join(session._java_home(), "bin", "java")
    jar = glob.glob(os.path.join(_find_spark_home(), "jars", "spark-launcher*.jar"))[0]
    subprocess.run([java, f"-XX:ArchiveClassesAtExit={path}", "-Xlog:disable", "-cp", jar,
                    "org.apache.spark.launcher.Main"], capture_output=True)
    return path.read_bytes()


def _bad_archives(foreign: bytes, jvm_version: str) -> dict[str, bytes]:
    other_build = foreign.replace(f"({jvm_version})".encode(), f"({jvm_version[:-1]}X)".encode())
    return {
        "zero_length": b"",
        "wrong_magic": b"\0" * 8192,
        "truncated": foreign[: len(foreign) // 2],
        "stale": other_build,  # left by another build of the JDK
        "another_key": foreign,  # the JVM itself rejects this one
    }


def test_check_archive_names_each_defect(tmp_path, monkeypatch, foreign_archive):
    archive = _plan(monkeypatch, str(tmp_path))
    path = tmp_path / "a.jsa"
    path.write_bytes(foreign_archive)
    assert session._check_archive(str(path), archive.jvm_version) is None
    expected = {"zero_length": "shorter than an archive header",
                "wrong_magic": "not a JDK 17 dynamic archive",
                "truncated": "truncated", "stale": "another JVM build"}
    for case, data in _bad_archives(foreign_archive, archive.jvm_version).items():
        path.write_bytes(data)
        problem = session._check_archive(str(path), archive.jvm_version)
        if case == "another_key":
            assert problem is None  # only the JVM's classpath check sees it
        else:
            assert expected[case] in problem, (case, problem)


def test_archive_key_follows_cache_home_and_heap_regime(tmp_path, monkeypatch):
    archive = _plan(monkeypatch, str(tmp_path / "xdg"))
    assert archive.path.startswith(str(tmp_path / "xdg" / "file_indexer_spark") + os.sep)
    assert session._archive_plan("16g")[0] == session._archive_plan("16384m")[0]
    # no compressed oops from 32 GiB on: the JVM would reject the archive
    assert session._archive_plan("31g")[0] != session._archive_plan("32g")[0]
    monkeypatch.delenv("XDG_CACHE_HOME")
    monkeypatch.setenv("HOME", str(tmp_path / "home"))
    assert session.cache_dir() == str(tmp_path / "home" / ".cache" / "file_indexer_spark")


@pytest.mark.parametrize("mem_total_kib,heap", [
    (16479424, "7g"),  # a 15.7 GiB host: half, rounded down to whole GiB
    (64 * 2**20, "16g"),  # capped
    (2**20, "1g"),  # a 1 GiB host still gets 1g
    (3 * 2**20 - 1, "1g"),
    (None, "16g"),  # no MemTotal line: the old default
])
def test_default_heap_is_half_the_host(tmp_path, mem_total_kib, heap):
    meminfo = tmp_path / "meminfo"
    lines = ["MemFree:         1000 kB"]
    if mem_total_kib is not None:
        lines.insert(0, f"MemTotal:       {mem_total_kib} kB")
    meminfo.write_text("\n".join(lines) + "\n")
    assert session.default_driver_memory(str(meminfo)) == heap
    assert session.default_driver_memory(str(tmp_path / "absent")) == "16g"
    # both regimes sit under 32 GiB, so they share one archive key
    assert session._archive_plan(heap)[0] == session._archive_plan("16g")[0]


@pytest.mark.parametrize("case",
                         ["zero_length", "wrong_magic", "truncated", "stale", "another_key"])
def test_bad_archive_gives_a_session_one_warning_and_a_rebuild(
        case, tmp_path, monkeypatch, foreign_archive):
    archive = _plan(monkeypatch, str(tmp_path / "xdg"))
    os.makedirs(os.path.dirname(archive.path))
    with open(archive.path, "wb") as fh:
        fh.write(_bad_archives(foreign_archive, archive.jvm_version)[case])
    report = _report(_child(str(tmp_path / "xdg"), str(tmp_path)))
    assert report["rows"] == 3
    assert len(report["warnings"]) == 1, report["warnings"]
    assert "class-data-sharing archive" in report["warnings"][0]
    assert "the next session rebuilds it" in report["warnings"][0]
    assert not os.path.exists(archive.path)
    assert report["next_launch_builds"] == 1
    assert report["conf_unchanged"]


def test_archive_that_crashes_the_jvm_falls_back_to_a_plain_launch(
        tmp_path, monkeypatch, foreign_archive):
    """The header check is what keeps a truncated archive from the JVM,
    which dies of SIGBUS mapping it; should a damaged archive get past
    it, the session still starts, without the archive."""
    archive = _plan(monkeypatch, str(tmp_path / "xdg"))
    os.makedirs(os.path.dirname(archive.path))
    with open(archive.path, "wb") as fh:
        fh.write(_bad_archives(foreign_archive, archive.jvm_version)["truncated"])
    report = _report(_child(str(tmp_path / "xdg"), str(tmp_path), "stub", "unchecked"))
    assert report["rows"] == 3
    [warning] = report["warnings"]
    assert "the JVM failed to start with" in warning
    assert not os.path.exists(archive.path)
    assert report["next_launch_builds"] == 1


def test_failed_build_warns_once_and_is_not_retried(tmp_path, monkeypatch):
    archive = _plan(monkeypatch, str(tmp_path / "xdg"))
    report = _report(_child(str(tmp_path / "xdg"), str(tmp_path), "fail"))
    assert report["rows"] == 3
    [warning] = report["warnings"]
    assert "building it failed: boom" in warning
    assert os.path.exists(archive.path + ".failed") and not os.path.exists(archive.path)
    # the marker stops every later session from paying for the build again
    assert report["next_launch_builds"] == 0
    assert [n for n in os.listdir(os.path.dirname(archive.path)) if n.startswith("build-")] == []


def test_misspelled_gc_option_is_reported(tmp_path):
    """Spark's launcher adds -XX:+IgnoreUnrecognizedVMOptions, so a
    misspelled flag starts a JVM without it: the session works, and its
    one warning names the flag but not the options the JVM holds."""
    opts = "-XX:+UseParalelGC -XX:MaxGCPauseMillis=150"
    report = _report(_child(str(tmp_path / "xdg"), str(tmp_path), SPARK_GRAFT_GC_OPTS=opts))
    assert report["rows"] == 3
    [warning] = report["warnings"]
    assert "GC opt -XX:+UseParalelGC (no such VM option)" in warning
    assert "MaxGCPauseMillis" not in warning


def test_real_conf_dir_skips_the_archive_and_is_honoured(tmp_path, monkeypatch):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.fis.test.marker  honoured\n")
    (conf / "log4j2.properties.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    if session._archive_plan(MEMORY)[1].startswith("JDK"):
        pytest.skip("no class-data-sharing archive on this JDK")
    report = _report(_child(str(tmp_path / "xdg"), str(tmp_path), "stub", "again",
                            SPARK_CONF_DIR=str(conf)))
    assert report["marker"] == "honoured"
    assert report["conf_unchanged"]
    # one warning per get_spark: the launch says why it skipped the
    # archive, the second call that the running JVM has none
    first, second = report["warnings"]
    assert "spark-defaults.conf" in first and "non-empty directory" in first
    assert "the running JVM was started without one" in second
    assert not os.path.exists(tmp_path / "xdg")
    assert report["next_launch_builds"] == 0


def test_concurrent_first_sessions_build_one_archive(tmp_path, monkeypatch):
    """Two processes miss at once: one builds, the other waits for it,
    both map the result, and only the archive and the empty conf dir are
    left behind. The builds run for real."""
    archive = _plan(monkeypatch, str(tmp_path / "xdg"))
    cwd, tmp = tmp_path / "cwd", tmp_path / "tmp"
    cwd.mkdir()
    tmp.mkdir()
    children = [_child(str(tmp_path / "xdg"), str(cwd), "real", TMPDIR=str(tmp))
                for _ in range(2)]
    for report in [_report(c) for c in children]:
        assert report["rows"] == 3
        assert report["warnings"] == []  # both launches mapped the archive
        assert report["conf_unchanged"]
        assert report["next_launch_builds"] == 0
    cache = os.path.dirname(archive.path)
    assert sorted(os.listdir(cache)) == sorted([os.path.basename(archive.path), "empty-conf"])
    assert os.listdir(archive.conf_dir) == []
    assert session._check_archive(archive.path, archive.jvm_version) is None
    assert os.listdir(cwd) == [] and os.listdir(tmp) == []


def test_cli_stdout_holds_only_its_own_lines(spark, tmp_path, monkeypatch, capsys, foreign_archive):
    """A JVM that rejects its archive says so on stderr, never in the
    middle of a command's output; a user's own -Xlog files still fill."""
    tree = tmp_path / "tree"
    tree.mkdir()
    for i in range(3):
        (tree / f"f{i}.txt").write_text("x" * (i + 1))
    db = str(tmp_path / "db")
    assert main(["index", str(tree), "--db", db], spark=spark) == 0
    capsys.readouterr()
    assert main(["stats", "--db", db], spark=spark) == 0
    expected = capsys.readouterr().out
    archive = _plan(monkeypatch, str(tmp_path / "xdg"))
    os.makedirs(os.path.dirname(archive.path))
    with open(archive.path, "wb") as fh:
        fh.write(foreign_archive)
    logs = {"SPARK_GRAFT_GC_OPTS": f"-XX:+UseParallelGC -Xlog:gc:file={tmp_path}/gc.log",
            "JAVA_TOOL_OPTIONS": f"-Xlog:gc+init:file={tmp_path}/init.log"}
    proc = subprocess.run([sys.executable, "-m", "file_indexer_spark", "stats", "--db", db],
                          cwd=str(tmp_path), env=_env(str(tmp_path / "xdg"), **logs),
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout == expected
    assert "Unable to use shared archive" in proc.stderr
    assert "the JVM rejected" in proc.stderr
    assert "Using Parallel" in (tmp_path / "gc.log").read_text()
    assert "[gc,init]" in (tmp_path / "init.log").read_text()


def test_unusable_cache_gives_a_session_and_one_warning(tmp_path):
    """A cache that cannot be created (here its parent is a file, which
    holds also for root, unlike a read-only dir) costs only the archive."""
    (tmp_path / "not-a-dir").write_text("")
    xdg = str(tmp_path / "not-a-dir" / "xdg")
    if session._archive_plan(MEMORY)[1].startswith("JDK"):
        pytest.skip("no class-data-sharing archive on this JDK")
    report = _report(_child(xdg, str(tmp_path), "real"))
    assert report["rows"] == 3
    [warning] = report["warnings"]
    assert "is not usable" in warning and "Not a directory" in warning
    assert report["conf_unchanged"]


def test_failed_marker_that_cannot_be_written_costs_only_the_archive(tmp_path, monkeypatch):
    """As when the disk is full: the build fails, and so does writing
    its marker; get_spark still gets its answer instead of an OSError."""
    archive = _plan(monkeypatch, str(tmp_path / "xdg"))

    def fail(archive, work):
        os.mkdir(archive.path + ".failed")  # open(..., "w") on it raises
        return "boom"

    monkeypatch.setattr(session, "_run_warmup", fail)
    mapped, why_not, marker = session._prepare_archive(MEMORY)
    assert mapped is None and marker is None
    assert "is not usable" in why_not and "Is a directory" in why_not
    assert not [n for n in os.listdir(os.path.dirname(archive.path)) if n.startswith("build-")]


def test_launch_that_fails_without_the_archive_too_keeps_it(tmp_path, monkeypatch,
                                                             foreign_archive):
    """A broken launch environment is not the archive's fault: the
    archive stays, and a failed build's marker is taken back, so the
    build runs again once the environment is mended."""
    archive = _plan(monkeypatch, str(tmp_path / "xdg"))
    bad = {"SPARK_GRAFT_GC_OPTS": "-XX:+UseParallelGC -XX:+UseG1GC"}  # the JVM refuses both
    os.makedirs(os.path.dirname(archive.path))
    with open(archive.path, "wb") as fh:
        fh.write(foreign_archive)
    report = _report(_child(str(tmp_path / "xdg"), str(tmp_path), "stub", "unchecked", **bad))
    assert report["raised"] == "PySparkRuntimeError"
    assert open(archive.path, "rb").read() == foreign_archive
    os.remove(archive.path)
    report = _report(_child(str(tmp_path / "xdg"), str(tmp_path), "fail", **bad))
    assert report == {"raised": "PySparkRuntimeError", "builds": 1}
    assert not os.path.exists(archive.path + ".failed")


def test_installed_archive_evicts_older_keys(tmp_path, monkeypatch, foreign_archive):
    archive = _plan(monkeypatch, str(tmp_path / "xdg"))
    cache = os.path.dirname(archive.path)
    os.makedirs(cache)
    for name, mtime in [("driver-old1.jsa", 1000), ("driver-old2.jsa", 2000),
                        ("driver-old1.jsa.failed", 3000), ("other-file", 1000)]:
        path = os.path.join(cache, name)
        open(path, "w").close()
        os.utime(path, (mtime, mtime))

    def build(archive, work):
        with open(os.path.join(work, "classes.jsa"), "wb") as fh:
            fh.write(foreign_archive)

    monkeypatch.setattr(session, "_run_warmup", build)
    assert session._build_archive(archive) == (None, None)
    # the newest other key stays: a 32 GiB+ heap has a key of its own
    assert sorted(os.listdir(cache)) == sorted(
        [os.path.basename(archive.path), "driver-old2.jsa", "empty-conf", "other-file"])
