"""Write-path tests: scanning, incremental + two-phase indexing,
checksum semantics, cleanup, and the bucketed table.

Ports the semantics of the reference's test suite
(/root/reference/tests/test_indexer.py — canonical tree at :37-55,
incremental/reuse at :260-349, two-phase at :495-786, cleanup at
:1112-1497) and the phase-2 work-selection regression test
(/root/reference/tests/test_script_checksum_validation.py:30-152).
"""

from __future__ import annotations

import hashlib
import itertools
import os
import stat

import pytest
from pyspark.sql import functions as F

from file_indexer_spark.indexer import scan, two_phase
from file_indexer_spark.indexer.checksum import add_checksums
from file_indexer_spark.indexer.cleanup import (
    cleanup_deleted_files,
    cleanup_empty_directories,
    probe_deleted_files,
)
from file_indexer_spark.indexer.files_table import BUCKET_COL, FilesTable
from file_indexer_spark.indexer.scan import scan_directory, scan_with_counters
from file_indexer_spark.indexer.two_phase import phase2_checksums, two_phase_index, update_index
from file_indexer_spark.operators.stats import phase2_work_selection


@pytest.fixture()
def tree(tmp_path):
    """The reference's canonical tree (test_indexer.py:37-55): two files
    sharing content, one unique, one in a subdir, one empty."""
    root = tmp_path / "tree"
    (root / "subdir").mkdir(parents=True)
    (root / "file1.txt").write_text("Hello World")
    (root / "file2.txt").write_text("Hello World")
    (root / "file3.txt").write_text("different content")
    (root / "subdir" / "file4.txt").write_text("nested file data")
    (root / "empty.txt").write_text("")
    return root


@pytest.fixture()
def table(spark, tmp_path):
    return FilesTable(spark, str(tmp_path / "files_db"))


# ------------------------------------------------------------- scanning

def test_scan_finds_regular_files(spark, tree):
    rows = scan_directory(spark, str(tree)).collect()
    assert {r["filename"] for r in rows} == {
        "file1.txt", "file2.txt", "file3.txt", "file4.txt", "empty.txt"
    }
    by_name = {r["filename"]: r for r in rows}
    assert by_name["file1.txt"]["file_size"] == 11
    assert by_name["empty.txt"]["file_size"] == 0
    assert by_name["file4.txt"]["path"].endswith("subdir")


def test_scan_non_recursive(spark, tree):
    rows = scan_directory(spark, str(tree), recursive=False).collect()
    assert {r["filename"] for r in rows} == {
        "file1.txt", "file2.txt", "file3.txt", "empty.txt"
    }


def test_scan_counts_symlinks_and_special_files(spark, tree):
    os.symlink(str(tree / "file1.txt"), str(tree / "link.txt"))
    os.mkfifo(str(tree / "pipe.fifo"))
    files, counters = scan_with_counters(spark, str(tree))
    assert counters["symlinks_skipped"] == 1
    assert counters["special_files_skipped"] == 1
    assert counters["files_found"] == 5
    assert counters["scan_errors"] == 0
    assert files.count() == 5


def _local_walk(root: str, recursive: bool):
    """(regular files as (path, filename, size), counters) from a local
    os.walk — the oracle of the distributed walk."""
    files, errors = set(), []
    counters = {"symlinks_skipped": 0, "special_files_skipped": 0, "scan_errors": 0}
    for d, dirnames, filenames in os.walk(root, onerror=errors.append):
        # os.walk lists symlinks to directories among the directories
        counters["symlinks_skipped"] += sum(os.path.islink(os.path.join(d, n)) for n in dirnames)
        for name in filenames:
            st = os.lstat(os.path.join(d, name))
            if stat.S_ISLNK(st.st_mode):
                counters["symlinks_skipped"] += 1
            elif stat.S_ISREG(st.st_mode):
                files.add((d, name, st.st_size))
            else:
                counters["special_files_skipped"] += 1
        if not recursive:
            break
    counters["scan_errors"] = len(errors)
    counters["files_found"] = len(files)
    return files, counters


@pytest.fixture()
def walk_tree(tmp_path):
    """Three levels of fan-out, symlinks to a file and to a directory, a
    FIFO, and a directory whose path is too long to list (ENAMETOOLONG
    fails the listing even for root)."""
    root = tmp_path / "walk"
    for i in range(3):
        for j in range(3):
            d = root / f"a{i}" / f"b{j}"
            d.mkdir(parents=True)
            for k in range(2):
                (d / f"f{k}.txt").write_text("x" * (i * 10 + j + k))
    (root / "top.txt").write_text("top")
    os.symlink(str(root / "top.txt"), str(root / "link.txt"))
    os.symlink(str(root / "a0"), str(root / "a1" / "dirlink"))
    os.mkfifo(str(root / "a2" / "pipe"))
    fd = os.open(str(root / "a2"), os.O_RDONLY)
    try:
        for _ in range(20):  # 20 x 250 chars > PATH_MAX
            os.mkdir("d" * 250, dir_fd=fd)
            child = os.open("d" * 250, os.O_RDONLY, dir_fd=fd)
            os.close(fd)
            fd = child
    finally:
        os.close(fd)
    return str(root)


@pytest.mark.parametrize("recursive", [True, False])
def test_scan_multi_round_walk_equals_local_walk(spark, walk_tree, monkeypatch, recursive):
    """A walk budget of 2 entries per task forces many rounds; the
    result and every counter must still equal a local os.walk."""
    monkeypatch.setattr(scan, "WALK_BUDGET", 2)
    want_files, want_counters = _local_walk(walk_tree, recursive)
    files, counters = scan_with_counters(spark, walk_tree, recursive)
    got = {(r["path"], r["filename"], r["file_size"]) for r in files.collect()}
    assert got == want_files
    assert counters == want_counters
    if recursive:
        assert counters["scan_errors"] == 1 and counters["special_files_skipped"] == 1
        assert counters["symlinks_skipped"] == 2


def test_scan_never_truncates_deep_chain(spark, tmp_path, monkeypatch):
    """A 300-level chain is found; a round cap reached with directories
    still pending raises instead of dropping them."""
    deep = tmp_path / "chain" / os.path.join(*["d"] * 300)
    deep.mkdir(parents=True)
    (deep / "bottom.txt").write_text("bottom")
    rows = scan_directory(spark, str(tmp_path / "chain")).collect()
    assert [(r["path"], r["filename"]) for r in rows] == [(str(deep), "bottom.txt")]

    monkeypatch.setattr(scan, "WALK_BUDGET", 2)
    monkeypatch.setattr(scan, "MAX_ROUNDS", 3)
    with pytest.raises(RuntimeError, match="not listed"):
        scan_directory(spark, str(tmp_path / "chain"))


def test_scan_rounds_do_not_grow_with_width(spark, tmp_path, monkeypatch):
    """Each round lists every directory the previous one handed on, so
    a tree of three levels (root, 40 dirs, 40 leaves) takes three rounds
    even when a task's budget covers only two entries."""
    root = tmp_path / "flat"
    expected = set()
    for i in range(40):
        d = root / f"d{i}" / "leaf"
        d.mkdir(parents=True)
        (d / "f.txt").write_text(str(i))
        expected.add((str(d), "f.txt"))
    monkeypatch.setattr(scan, "WALK_BUDGET", 2)
    monkeypatch.setattr(scan, "MAX_ROUNDS", 3)
    rows = scan_directory(spark, str(root)).collect()
    assert {(r["path"], r["filename"]) for r in rows} == expected


def test_scan_job_count_does_not_grow_with_depth(spark, tmp_path):
    """A depth-4 tree is scanned in a fixed small number of jobs, not
    one (or more) per tree level."""
    root = tmp_path / "depth4"
    for parts in itertools.product(range(2), repeat=4):
        d = root.joinpath(*(f"l{n}" for n in parts))
        d.mkdir(parents=True)
        (d / "f.txt").write_text("f")
    sc = spark.sparkContext
    sc.setJobGroup("scan-job-guard", "scan job-count guard")
    try:
        _, counters = scan_with_counters(spark, str(root))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert counters["files_found"] == 16
    assert len(sc.statusTracker().getJobIdsForGroup("scan-job-guard")) <= 3


# ----------------------------------------------------------- checksums

def test_checksums_match_hashlib(spark, tree, table):
    update_index(spark, table, str(tree))
    got = {r["filename"]: r["checksum"] for r in table.read().collect()}
    assert got["file1.txt"] == hashlib.sha256(b"Hello World").hexdigest()
    assert got["file1.txt"] == got["file2.txt"]
    assert got["file3.txt"] != got["file1.txt"]
    assert got["empty.txt"] is None  # skip_empty_files default


def test_max_checksum_size_cap(spark, tree, table):
    stats = update_index(spark, table, str(tree), max_checksum_size=12)
    # only the 11-byte twins fit under the cap
    assert stats.checksums_calculated == 2
    got = {r["filename"]: r["checksum"] for r in table.read().collect()}
    assert got["file1.txt"] is not None and got["file3.txt"] is None


def test_zero_means_no_cap(spark, tree, table):
    stats = update_index(spark, table, str(tree), max_checksum_size=0)
    assert stats.checksums_calculated == 4  # everything non-empty


# ----------------------------------------------- incremental (D1 / D7)

def test_update_index_counts(spark, tree, table):
    stats = update_index(spark, table, str(tree))
    assert stats.files_inserted == 5
    assert stats.files_updated == 0
    assert stats.checksums_calculated == 4
    assert stats.extra["hash_errors"] == 0


def test_update_index_with_hashing_off_builds_no_hash_stage(spark, tree, table, monkeypatch):
    """max_checksum_size < 0 (phase 1) skips the hashing stage and its
    counts altogether."""

    def no_hashing(*args, **kwargs):
        raise AssertionError("hashing stage built with hashing off")

    monkeypatch.setattr(two_phase, "add_checksums", no_hashing)
    stats = update_index(spark, table, str(tree), max_checksum_size=-1)
    assert stats.files_inserted == 5
    assert stats.checksums_calculated == 0 and stats.extra["hash_errors"] == 0
    assert {r["checksum"] for r in table.read().collect()} == {None}


def test_update_index_counts_unreadable_files_as_hash_errors(spark, tree, table):
    scanned = scan_directory(spark, str(tree))
    ghost = scanned.filter(F.col("filename") == "file1.txt").withColumn(
        "filename", F.lit("vanished.txt")
    )
    stats = update_index(spark, table, str(tree), scanned=scanned.unionByName(ghost))
    assert stats.files_inserted == 6
    assert stats.checksums_calculated == 4
    assert stats.extra["hash_errors"] == 1


def test_rerun_reuses_checksums(spark, tree, table):
    update_index(spark, table, str(tree))
    stats = update_index(spark, table, str(tree))
    assert stats.files_inserted == 0
    assert stats.files_unchanged == 5
    assert stats.checksums_calculated == 0
    # reference indexer.py:~303: only non-NULL stored checksums count as
    # reuse — the empty file's NULL must not inflate the counter
    assert stats.checksums_reused == 4


def test_modified_file_is_rehashed(spark, tree, table):
    update_index(spark, table, str(tree))
    (tree / "file3.txt").write_text("changed content!!")
    os.utime(tree / "file3.txt", (2000000000, 2000000000))
    stats = update_index(spark, table, str(tree))
    assert stats.files_updated == 1
    assert stats.files_unchanged == 4
    assert stats.checksums_calculated == 1
    got = {r["filename"]: r["checksum"] for r in table.read().collect()}
    assert got["file3.txt"] == hashlib.sha256(b"changed content!!").hexdigest()


# ------------------------------------------------- two-phase (D2 / A7)

def test_two_phase_hashes_only_duplicate_sizes(spark, tree, table):
    stats = two_phase_index(spark, table, str(tree))
    assert stats.files_inserted == 5
    # phase 2 hashes only the same-size group (the 11-byte twins)
    assert stats.checksums_calculated == 2
    got = {r["filename"]: r["checksum"] for r in table.read().collect()}
    assert got["file1.txt"] == got["file2.txt"] is not None
    assert got["file3.txt"] is None  # unique size: never hashed
    assert got["empty.txt"] is None


def test_phase2_work_selection_semantics(spark):
    """Port of the reference's SQL-logic regression test
    (test_script_checksum_validation.py:80-115): sizes qualify only with
    >1 file AND >=1 missing checksum; empty files are excluded."""
    rows = [
        # size 100: two files, one missing checksum -> selected
        ("/d", "a1", None, 100),
        ("/d", "a2", "c1", 100),
        # size 200: two files, both have checksums -> NOT selected
        ("/d", "b1", "c2", 200),
        ("/d", "b2", "c2", 200),
        # size 300: single file missing checksum -> NOT selected
        ("/d", "c1", None, 300),
        # size 0: two empty files missing checksums -> excluded
        ("/d", "e1", None, 0),
        ("/d", "e2", None, 0),
        # size 400: three files, two missing -> selected
        ("/d", "f1", None, 400),
        ("/d", "f2", None, 400),
        ("/d", "f3", "c3", 400),
    ]
    files = spark.createDataFrame(
        [(p, f, c, s) for p, f, c, s in rows],
        "path string, filename string, checksum string, file_size long",
    ).withColumn("modification_datetime", F.lit("2024-01-01").cast("timestamp")) \
     .withColumn("indexed_at", F.lit("2024-01-01").cast("timestamp"))
    got = {
        (r["file_size"], r["file_count"], r["files_without_checksum"])
        for r in phase2_work_selection(files).collect()
    }
    assert got == {(100, 2, 1), (400, 3, 2)}


def test_phase2_checksums_fills_only_selected(spark, tree, table):
    update_index(spark, table, str(tree), max_checksum_size=-1)  # phase-1 style
    assert table.read().filter(F.col("checksum").isNotNull()).count() == 0
    n = phase2_checksums(spark, table)
    assert n == 2  # the twins


# --------------------------------------------------- cleanup (D3 / D4)

def test_cleanup_deleted_files(spark, tree, table):
    update_index(spark, table, str(tree))
    (tree / "file3.txt").unlink()
    n = cleanup_deleted_files(spark, table, str(tree))
    assert n == 1
    assert table.read().count() == 4


def test_probe_mode_detects_deletions(spark, tree, table):
    update_index(spark, table, str(tree))
    (tree / "file1.txt").unlink()
    import shutil

    shutil.rmtree(tree / "subdir")  # whole-dir deletion: no per-file stat
    stale = {(r["path"], r["filename"]) for r in probe_deleted_files(table).collect()}
    assert stale == {
        (str(tree), "file1.txt"),
        (str(tree / "subdir"), "file4.txt"),
    }


def test_probe_rows_fixed_at_probe_time(spark, tree, table):
    """The CLI counts the probe's rows and then deletes them; a file
    deleted in between must change neither, or the printed count and
    the rows removed disagree."""
    update_index(spark, table, str(tree))
    (tree / "file1.txt").unlink()
    stale = probe_deleted_files(table)
    (tree / "file3.txt").unlink()
    assert {(r["path"], r["filename"]) for r in stale.collect()} == {(str(tree), "file1.txt")}
    assert stale.count() == 1


def test_cleanup_empty_directories(spark, tree, table):
    update_index(spark, table, str(tree))
    import shutil

    shutil.rmtree(tree / "subdir")
    n = cleanup_empty_directories(spark, table)
    assert n == 1
    assert table.read().filter(F.col("filename") == "file4.txt").count() == 0


# ------------------------------------------------- hash-error handling

def test_unreadable_file_yields_null_checksum(spark):
    df = spark.createDataFrame(
        [("/nonexistent-dir", "ghost.txt", 10)],
        "path string, filename string, file_size long",
    )
    rows = add_checksums(df).collect()
    assert rows[0]["checksum"] is None  # D6: error -> NULL, not a crash


# ------------------------------------------- bucketed table (scale fix)

@pytest.fixture()
def bucketed(spark, tmp_path):
    return FilesTable(spark, str(tmp_path / "bucketed_db"), buckets=8)


def _mk_rows(spark, rows):
    return spark.createDataFrame(
        [(p, f, c, "2024-01-01 00:00:00", s, "2024-06-01 00:00:00") for p, f, c, s in rows],
        "path string, filename string, checksum string, mtime string, file_size long, ia string",
    ).select(
        "path",
        "filename",
        "checksum",
        F.col("mtime").cast("timestamp").alias("modification_datetime"),
        "file_size",
        F.col("ia").cast("timestamp").alias("indexed_at"),
    )


def test_bucketed_upsert_rewrites_only_touched_partitions(spark, bucketed):
    initial = _mk_rows(
        spark, [(f"/dir{i}", f"f{j}", f"c{i}{j}", 10 * i + j) for i in range(20) for j in range(3)]
    )
    bucketed.overwrite(initial)
    assert bucketed.read().count() == 60

    # the manifest maps bucket -> immutable data dir; an upsert must
    # remap ONLY the touched bucket (untouched dirs are never rewritten)
    def entries():
        import json

        with open(os.path.join(bucketed.location, "_MANIFEST")) as fh:
            return json.load(fh)["entries"]

    before = entries()
    assert len(before) > 1  # paths actually spread over buckets

    updates = _mk_rows(spark, [("/dir3", "f0", "NEW", 999), ("/dir3", "fX", "ins", 1)])
    bucketed.upsert(updates)

    after = entries()
    assert set(after) == set(before)
    changed = [b for b in before if before[b] != after[b]]
    assert len(changed) == 1  # exactly the bucket /dir3 hashes to

    got = {(r["path"], r["filename"]): (r["checksum"], r["file_size"]) for r in bucketed.read().collect()}
    assert len(got) == 61
    assert got[("/dir3", "f0")] == ("NEW", 999)
    assert got[("/dir3", "fX")] == ("ins", 1)
    assert got[("/dir0", "f0")] == ("c00", 0)


def test_plain_parquet_location_is_rejected(spark, tmp_path):
    """A location that holds data but no manifest is not a FilesTable:
    opening it raises instead of reading as an empty table. A location
    holding only what a crashed first commit leaves behind (staging
    dirs, manifest temps, the log dir) is still a fresh table."""
    loc = str(tmp_path / "plain_parquet")
    rows = _mk_rows(spark, [(f"/p{i}", "f", f"c{i}", i) for i in range(6)])
    rows.write.parquet(loc)  # data directly at the root, no _MANIFEST
    assert not os.path.exists(os.path.join(loc, "_MANIFEST"))
    with pytest.raises(ValueError, match="not a FilesTable"):
        FilesTable(spark, loc)

    crashed = tmp_path / "crashed_first_commit"
    (crashed / "data-0badc0de").mkdir(parents=True)
    (crashed / FilesTable._MANIFEST_LOG).mkdir()
    (crashed / f"{FilesTable._MANIFEST}.tmp-1234").write_text("")
    t = FilesTable(spark, str(crashed), buckets=4)
    assert not t.exists() and t.read().count() == 0


def test_crash_mid_commit_leaves_consistent_table(spark, bucketed, monkeypatch):
    """Crash-injection for the manifest protocol: kill the writer at
    every window — (a) after staging, before any commit step; (b) at
    the put-if-absent arbiter link itself (pre-commit: old generation
    must survive exactly); (c) between the arbiter link and the cache
    refresh (POST-commit: the log entry IS the commit, so reads must
    self-heal to the NEW generation). A retried upsert then lands, and
    vacuum() reclaims the crashed attempts' orphan staging dirs."""
    import file_indexer_spark.indexer.files_table as ft

    rows = [(f"/d{i}", f"f{j}", f"c{i}{j}", i + j) for i in range(8) for j in range(2)]
    bucketed.overwrite(_mk_rows(spark, rows))
    committed = {(r["path"], r["filename"]): r["checksum"] for r in bucketed.read().collect()}
    assert len(committed) == 16

    class Boom(RuntimeError):
        pass

    updates = _mk_rows(spark, [("/d1", "f0", "NEW", 999), ("/dNEW", "fN", "ins", 1)])

    # window (a): staging written, commit never reached
    monkeypatch.setattr(
        ft.FilesTable,
        "_commit_manifest",
        lambda self, entries, expected_generation=None: (_ for _ in ()).throw(Boom()),
    )
    with pytest.raises(Boom):
        bucketed.upsert(updates)
    monkeypatch.undo()
    got = {(r["path"], r["filename"]): r["checksum"] for r in bucketed.read().collect()}
    assert got == committed, "crash before commit must not change reads"

    # window (b): crash inside the arbiter link — still PRE-commit
    real_link = os.link

    def exploding_link(src, dst):
        raise Boom()

    monkeypatch.setattr(ft.os, "link", exploding_link)
    with pytest.raises(Boom):
        bucketed.upsert(updates)
    monkeypatch.undo()
    got = {(r["path"], r["filename"]): r["checksum"] for r in bucketed.read().collect()}
    assert got == committed, "failed arbiter link must not change reads"

    # both crashed attempts left orphan staging dirs; vacuum reclaims
    # them without touching live data
    orphans = bucketed.vacuum()
    assert len(orphans) >= 2
    assert {
        (r["path"], r["filename"]): r["checksum"] for r in bucketed.read().collect()
    } == committed

    # window (c): cache refresh fails after the arbiter link — the log
    # entry IS the commit, so the write SUCCEEDS (a propagated error
    # here would make callers roll back live data) and the table must
    # read the NEW rows via self-healing resolution (the Delta
    # crash-after-log-write shape)
    real_replace = os.replace

    def exploding_replace(src, dst):
        if os.path.basename(dst) == "_MANIFEST":
            raise Boom()
        return real_replace(src, dst)

    monkeypatch.setattr(ft.os, "replace", exploding_replace)
    bucketed.upsert(updates)  # must NOT raise: commit became durable
    monkeypatch.undo()
    assert bucketed._read_manifest_cache()["generation"] < bucketed._current_generation()
    got = {(r["path"], r["filename"]): r["checksum"] for r in bucketed.read().collect()}
    assert got[("/d1", "f0")] == "NEW" and got[("/dNEW", "fN")] == "ins"
    assert len(got) == 17, "post-arbiter crash must read as committed"

    # the retry (idempotent upsert, no injection) also refreshes the
    # manifest cache past the healed generation
    gen_healed = bucketed._current_generation()
    bucketed.upsert(updates)
    assert bucketed._read_manifest_cache()["generation"] == gen_healed + 1
    got = {(r["path"], r["filename"]): r["checksum"] for r in bucketed.read().collect()}
    assert got[("/d1", "f0")] == "NEW" and got[("/dNEW", "fN")] == "ins"
    assert len(got) == 17


def test_bucketed_delete_and_delete_paths(spark, bucketed):
    bucketed.overwrite(
        _mk_rows(spark, [(f"/dir{i}", f"f{j}", None, i + j) for i in range(5) for j in range(2)])
    )
    bucketed.delete(_mk_rows(spark, [("/dir1", "f0", None, 0)]))
    assert bucketed.read().count() == 9
    bucketed.delete_paths(_mk_rows(spark, [("/dir2", "x", None, 0)]))
    got = {(r["path"], r["filename"]) for r in bucketed.read().collect()}
    assert len(got) == 7 and ("/dir2", "f0") not in got


@pytest.mark.parametrize("buckets", [None, 4])
@pytest.mark.parametrize("touch", ["clustered", "wide"])
@pytest.mark.parametrize("op", ["upsert", "delete", "delete_paths"])
def test_merge_path_matches_model(spark, tmp_path, monkeypatch, buckets, touch, op):
    """upsert, delete and delete_paths are one merge. On both layouts
    and both touch widths: the rows equal a Python model, the history
    row carries the public operation's label, the operation resolves
    the manifest at most 3 times (snapshot, read, commit check), and a
    clustered bucketed merge remaps only the touched bucket's entry."""
    t = FilesTable(spark, str(tmp_path / "merge_db"), buckets=buckets)
    model = {(f"/m{i}", f"f{j}"): (f"c{i}{j}", i + j) for i in range(16) for j in range(2)}
    t.overwrite(_mk_rows(spark, [(p, f, c, s) for (p, f), (c, s) in model.items()]))
    paths = ["/m3"] if touch == "clustered" else [f"/m{i}" for i in range(12)]
    if op == "upsert":
        new = {(p, f): ("NEW", 99) for p in paths for f in ("f0", "fX")}
        arg = _mk_rows(spark, [(p, f, c, s) for (p, f), (c, s) in new.items()])
        model.update(new)
    elif op == "delete":
        arg = _mk_rows(spark, [(p, "f0", None, 0) for p in paths]).select("path", "filename")
        model = {k: v for k, v in model.items() if not (k[0] in paths and k[1] == "f0")}
    else:
        arg = spark.createDataFrame([(p,) for p in paths], "path string")
        model = {k: v for k, v in model.items() if k[0] not in paths}
    touched = t._touched_buckets(arg) if buckets else []
    if buckets:
        assert len(touched) == (1 if touch == "clustered" else buckets)
    before = t._load_manifest()["entries"]

    resolutions = []
    load = t._load_manifest
    monkeypatch.setattr(t, "_load_manifest", lambda: resolutions.append(1) or load())
    getattr(t, op)(arg)
    monkeypatch.undo()
    assert len(resolutions) <= 3, len(resolutions)

    got = {
        (r["path"], r["filename"]): (r["checksum"], r["file_size"])
        for r in t.read().collect()
    }
    assert got == model
    assert t.history().orderBy(F.desc("generation")).first()["operation"] == op.upper()
    if buckets and touch == "clustered":
        after = t._load_manifest()["entries"]
        moved = {k for k in set(before) | set(after) if before.get(k) != after.get(k)}
        assert moved == {str(touched[0])}


@pytest.mark.parametrize("buckets", [None, 4])
def test_frame_resolved_before_commit_raises_not_partial(spark, tmp_path, buckets):
    """The module's concurrency contract: a no-history commit deletes
    the dirs it replaced, so a DataFrame resolved before the commit
    raises when it runs — never returns the rows of the surviving dirs
    only. Bucketed, the upsert is clustered: one bucket dir of four
    goes away."""
    t = FilesTable(spark, str(tmp_path / "stale_frame"), buckets=buckets)
    t.overwrite(_mk_rows(spark, [(f"/s{i}", "f", "c", i) for i in range(16)]))
    df = t.read()
    t.upsert(_mk_rows(spark, [("/s3", "f", "NEW", 99)]))
    with pytest.raises(Exception, match="FILE_NOT_EXIST"):
        df.collect()


def test_scan_wide_tree_distributed(spark, tmp_path):
    """Distributed walk rounds: many dirs across several levels, no
    driver-side walk (VERDICT r1 #9). Output must equal a local walk."""
    root = tmp_path / "wide"
    expected = set()
    for i in range(40):
        for j in range(10):
            d = root / f"top{i}" / f"mid{j}"
            d.mkdir(parents=True)
            (d / "f.txt").write_text(f"{i}-{j}")
            expected.add((str(d), "f.txt"))
    got = {(r["path"], r["filename"]) for r in scan_directory(spark, str(root)).collect()}
    assert got == expected  # 400 dirs x 1 file, depth 3


def test_bucket_mismatch_rejected(spark, tmp_path):
    loc = str(tmp_path / "bdb")
    t8 = FilesTable(spark, loc, buckets=8)
    t8.overwrite(_mk_rows(spark, [("/d", "f", None, 1)]))
    with pytest.raises(ValueError, match="buckets=8"):
        FilesTable(spark, loc, buckets=16)
    with pytest.raises(ValueError, match="buckets=8"):
        FilesTable(spark, loc)  # unbucketed open of a bucketed table
    # correct reopen works
    assert FilesTable(spark, loc, buckets=8).read().count() == 1
    # bucketed open of a plain table also rejected
    plain = FilesTable(spark, str(tmp_path / "plain"))
    plain.overwrite(_mk_rows(spark, [("/d", "f", None, 1)]))
    with pytest.raises(ValueError, match="buckets=None"):
        FilesTable(spark, str(tmp_path / "plain"), buckets=4)


def test_wide_update_falls_back_to_full_rewrite(spark, tmp_path):
    """An update touching >= half the buckets takes the single-rewrite
    plan (measured faster than per-directory swaps) and must leave a
    valid bucketed layout behind so later clustered ops still prune."""
    import pyspark.sql.functions as F

    from file_indexer_spark.indexer.files_table import FilesTable, FILES_SCHEMA

    loc = str(tmp_path / "wide_db")
    t = FilesTable(spark, loc, buckets=4)
    base = spark.range(200).select(
        F.concat(F.lit("/d/p"), F.col("id").cast("string")).alias("path"),
        F.lit("f.bin").alias("filename"),
        F.lit(None).cast("string").alias("checksum"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("modification_datetime"),
        F.col("id").cast("long").alias("file_size"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("indexed_at"),
    )
    t.overwrite(base)
    upd = base.withColumn("checksum", F.lit("c"))  # hits every bucket
    assert t._wide(t._touched_buckets(upd))
    t.upsert(upd)
    assert t.read().filter("checksum = 'c'").count() == 200
    # layout still bucketed: a clustered delete prunes to one bucket
    one = base.filter("path = '/d/p7'")
    assert len(t._touched_buckets(one)) == 1
    t.delete(one.select("path", "filename"))
    assert t.read().count() == 199


def test_time_travel_generations(spark, tmp_path):
    """keep_history=True: every commit is a retained generation —
    read_at() reproduces each snapshot exactly, vacuum(retain) prunes
    the tail and read_at() on a vacuumed generation fails loudly."""
    t = FilesTable(spark, str(tmp_path / "hist_db"), keep_history=True)

    t.overwrite(_mk_rows(spark, [("/a", "f1", "v1", 1), ("/a", "f2", "v1", 2)]))
    t.upsert(_mk_rows(spark, [("/a", "f1", "v2", 1), ("/b", "f3", "v2", 3)]))
    t.delete(_mk_rows(spark, [("/a", "f2", "x", 0)]).select("path", "filename"))
    assert t.generations() == [1, 2, 3]

    def snap(gen):
        return {
            (r["path"], r["filename"]): r["checksum"]
            for r in t.read_at(gen).collect()
        }

    assert snap(1) == {("/a", "f1"): "v1", ("/a", "f2"): "v1"}
    assert snap(2) == {("/a", "f1"): "v2", ("/a", "f2"): "v1", ("/b", "f3"): "v2"}
    assert snap(3) == {("/a", "f1"): "v2", ("/b", "f3"): "v2"}
    # the live read is generation 3
    assert snap(3) == {
        (r["path"], r["filename"]): r["checksum"] for r in t.read().collect()
    }

    removed = t.vacuum(retain_generations=2)
    assert removed, "generation 1's dir should be reclaimed"
    assert t.generations() == [2, 3]
    assert snap(2) and snap(3)  # retained generations still read
    with pytest.raises(ValueError, match="not retained"):
        t.read_at(1)

    # a table WITHOUT history keeps the inline-GC behavior: only the
    # LATEST arbiter entry is retained (it is the commit record, not a
    # history), old generations are not readable, vacuum(1) is the
    # default no-op on a clean table
    plain = FilesTable(spark, str(tmp_path / "plain_db"))
    plain.overwrite(_mk_rows(spark, [("/p", "f", "c", 1)]))
    plain.upsert(_mk_rows(spark, [("/p", "f", "c2", 1)]))
    assert plain.generations() == [2]
    with pytest.raises(ValueError, match="not retained"):
        plain.read_at(1)
    assert plain.vacuum() == []


def test_time_travel_bucketed_partial_commits(spark, tmp_path):
    """History composes with bucketed partial commits: untouched
    buckets' dirs are SHARED between generations (no copy), and
    read_at still reproduces the pre-upsert snapshot."""
    t = FilesTable(spark, str(tmp_path / "hist_bucketed"), buckets=8, keep_history=True)
    rows = [(f"/d{i}", f"f{j}", f"c{i}{j}", i + j) for i in range(8) for j in range(2)]
    t.overwrite(_mk_rows(spark, rows))
    t.upsert(_mk_rows(spark, [("/d1", "f0", "NEW", 99)]))
    before = {
        (r["path"], r["filename"]): r["checksum"] for r in t.read_at(1).collect()
    }
    after = {
        (r["path"], r["filename"]): r["checksum"] for r in t.read_at(2).collect()
    }
    assert before[("/d1", "f0")] == "c10" and after[("/d1", "f0")] == "NEW"
    assert len(before) == 16 and len(after) == 16
    assert {k: v for k, v in after.items() if k != ("/d1", "f0")} == {
        k: v for k, v in before.items() if k != ("/d1", "f0")
    }


def test_compact_rewrites_fragmented_buckets(spark, tmp_path):
    """compact() must shrink per-dir file counts to the target without
    changing a single row, commit through the manifest (crash-safe),
    and compose with history (older generations stay readable)."""
    import glob

    t = FilesTable(spark, str(tmp_path / "frag_db"), buckets=4, keep_history=True)
    rows = [(f"/d{i}", f"f{j}", f"c{i}{j}", i + j) for i in range(16) for j in range(4)]
    # force fragmentation: many shuffle partitions -> many files per dir
    t.overwrite(_mk_rows(spark, rows).repartition(16))
    before = {(r["path"], r["filename"]): r["checksum"] for r in t.read().collect()}

    def files_per_dir():
        m = t._load_manifest()
        return {
            rel: len(glob.glob(os.path.join(t.location, rel, "*.parquet")))
            for rel in m["entries"].values()
        }

    assert any(n > 1 for n in files_per_dir().values()), "fixture must fragment"
    rewritten = t.compact(files_per_bucket=1)
    assert rewritten, "fragmented dirs should be rewritten"
    assert all(n == 1 for n in files_per_dir().values())
    after = {(r["path"], r["filename"]): r["checksum"] for r in t.read().collect()}
    assert after == before, "compaction must not change rows"
    # compaction is a generation like any other: the pre-compact
    # snapshot still reads, and a second compact is a no-op
    gens = t.generations()
    assert len(gens) == 2
    pre = {
        (r["path"], r["filename"]): r["checksum"]
        for r in t.read_at(gens[0]).collect()
    }
    assert pre == before
    assert t.compact(files_per_bucket=1) == []


def test_manifest_log_ignores_stray_files(spark, tmp_path):
    """generations()/vacuum() must skip log-dir files that are not
    ``<generation>.json`` (editor temps, partial writes) instead of
    raising ValueError and bricking table maintenance."""
    t = FilesTable(spark, str(tmp_path / "stray_db"), keep_history=True)
    t.overwrite(_mk_rows(spark, [("/a", "f1", "v1", 1)]))
    t.upsert(_mk_rows(spark, [("/a", "f1", "v2", 1)]))
    log_dir = os.path.join(t.location, t._MANIFEST_LOG)
    for stray in (".DS_Store", "2.json.tmp-abc", "notes.txt"):
        with open(os.path.join(log_dir, stray), "w") as fh:
            fh.write("junk")
    assert t.generations() == [1, 2]
    assert t.vacuum(retain_generations=2) == []  # must not raise
    assert {(r["checksum"]) for r in t.read_at(1).collect()} == {"v1"}


def test_vacuum_reclaims_dead_bucket_subdirs(spark, tmp_path):
    """Bucketed history: a replaced pk_bucket subdir whose root is
    still shared by retained generations must be reclaimed once no
    retained generation references it (space leak otherwise)."""
    t = FilesTable(spark, str(tmp_path / "leak_db"), buckets=8, keep_history=True)
    rows = [(f"/d{i}", f"f{j}", f"c{i}{j}", i + j) for i in range(8) for j in range(2)]
    t.overwrite(_mk_rows(spark, rows))  # gen 1: one root, 8 subdirs
    gen1_entries = dict(t._load_manifest()["entries"])
    # two successive partial commits to the SAME key's bucket
    t.upsert(_mk_rows(spark, [("/d1", "f0", "v2", 99)]))  # gen 2
    t.upsert(_mk_rows(spark, [("/d1", "f0", "v3", 100)]))  # gen 3
    bucket = str(t._touched_buckets(_mk_rows(spark, [("/d1", "f0", "x", 0)]))[0])
    dead_rel = gen1_entries[bucket]  # gen 1's subdir for that bucket
    assert os.path.isdir(os.path.join(t.location, dead_rel))

    removed = t.vacuum(retain_generations=2)  # keeps gens 2 and 3
    # gen 1's replaced bucket subdir is dead even though its root is
    # still live via the 7 untouched buckets gens 2/3 share
    assert dead_rel in removed, (dead_rel, removed)
    assert not os.path.isdir(os.path.join(t.location, dead_rel))
    root = dead_rel.split("/", 1)[0]
    assert os.path.isdir(os.path.join(t.location, root)), "shared root survives"
    # retained snapshots are intact
    for gen, want in [(2, "v2"), (3, "v3")]:
        got = {
            (r["path"], r["filename"]): r["checksum"] for r in t.read_at(gen).collect()
        }
        assert len(got) == 16 and got[("/d1", "f0")] == want


def test_crash_mid_vacuum_keeps_retained_generations(spark, tmp_path, monkeypatch):
    """Crash-injection for the VACUUM window (w7b's maintenance path):
    killing vacuum between the log prune and the data-dir reclaim must
    leave the live table and every RETAINED generation fully readable
    (the pruned tail fails loudly, never half-reads), and a re-run
    vacuum completes the reclaim."""
    import file_indexer_spark.indexer.files_table as ft

    t = FilesTable(spark, str(tmp_path / "vac_db"), buckets=4, keep_history=True)
    rows = [(f"/d{i}", f"f{j}", f"c{i}{j}", i + j) for i in range(4) for j in range(2)]
    t.overwrite(_mk_rows(spark, rows))
    for gen in (2, 3, 4, 5):
        t.upsert(_mk_rows(spark, [("/d1", "f0", f"G{gen}", 99 + gen)]))
    assert t.generations() == [1, 2, 3, 4, 5]

    def snap(gen):
        return {
            (r["path"], r["filename"]): r["checksum"]
            for r in t.read_at(gen).collect()
        }

    live_before = snap(5)
    gen4_before = snap(4)

    class Boom(RuntimeError):
        pass

    real_rmtree = ft.shutil.rmtree
    calls = {"n": 0}

    def exploding_rmtree(path, **kw):
        calls["n"] += 1
        raise Boom()  # crash on the FIRST data-dir reclaim

    monkeypatch.setattr(ft.shutil, "rmtree", exploding_rmtree)
    with pytest.raises(Boom):
        t.vacuum(retain_generations=2)
    monkeypatch.undo()
    assert calls["n"] == 1

    # live + retained generations intact after the crash
    assert {
        (r["path"], r["filename"]): r["checksum"] for r in t.read().collect()
    } == live_before
    assert snap(5) == live_before and snap(4) == gen4_before
    # pruned tail fails loudly (log entries removed before the crash)
    for gen in (1, 2, 3):
        with pytest.raises(ValueError, match="not retained"):
            t.read_at(gen)

    # re-run completes the reclaim; reads unchanged
    removed = t.vacuum(retain_generations=2)
    assert removed, "crashed attempt's unreclaimed dirs must be swept"
    assert t.generations() == [4, 5]
    assert snap(5) == live_before and snap(4) == gen4_before


# ------------------------------------------------ w9: writer conflicts

def _w9_rows(spark, names, size=10):
    import datetime as dt

    rows = [
        ("/w9", n, None, dt.datetime(2024, 1, 1), size, dt.datetime(2024, 1, 2))
        for n in names
    ]
    from file_indexer_spark.indexer.files_table import FILES_SCHEMA

    return spark.createDataFrame(rows, FILES_SCHEMA)


def test_two_writer_race_is_detected_and_loser_rolls_back(spark, tmp_path, monkeypatch):
    """w9: writer A snapshots the table, writer B commits mid-flight,
    A's commit must FAIL with ConcurrentWriteError; the table holds
    exactly B's commit (never a torn mix or a lost update) and A's
    staged dir is rolled back."""
    from file_indexer_spark.indexer.files_table import ConcurrentWriteError

    loc = str(tmp_path / "w9_tbl")
    a = FilesTable(spark, loc)
    b = FilesTable(spark, loc)
    a.overwrite(_w9_rows(spark, ["base.txt"]))

    orig_read = a.read

    def read_then_lose_race():
        df = orig_read()
        b.upsert(_w9_rows(spark, ["from_b.txt"], size=99))  # B wins mid-A
        return df

    monkeypatch.setattr(a, "read", read_then_lose_race)
    with pytest.raises(ConcurrentWriteError, match="generation"):
        a.upsert(_w9_rows(spark, ["from_a.txt"], size=50))
    monkeypatch.undo()

    names = {r["filename"] for r in a.read().collect()}
    assert names == {"base.txt", "from_b.txt"}, "B's commit must survive intact"
    # loser's staging rolled back: only the live generation's dirs remain
    m = a._load_manifest()
    live_roots = {rel.split("/", 1)[0] for rel in m["entries"].values()}
    on_disk = {n for n in os.listdir(loc) if n.startswith("data-")}
    assert on_disk == live_roots
    # A retries on a fresh snapshot and succeeds
    a.upsert(_w9_rows(spark, ["from_a.txt"], size=50))
    assert {r["filename"] for r in a.read().collect()} == {
        "base.txt", "from_b.txt", "from_a.txt",
    }


def test_two_writer_race_detected_on_bucketed_partial_commit(spark, tmp_path, monkeypatch):
    """w9 on the bucketed path: the partial-commit plan (_commit_buckets)
    must detect a competing commit too, and the retry must see B's rows
    (no lost update through the pruned read)."""
    from file_indexer_spark.indexer.files_table import ConcurrentWriteError

    loc = str(tmp_path / "w9_bucketed")
    a = FilesTable(spark, loc, buckets=8)
    b = FilesTable(spark, loc, buckets=8)
    a.overwrite(_w9_rows(spark, [f"f{i}.txt" for i in range(20)]))

    orig_slice = a._read_slice

    def slice_then_lose_race(touched):
        df = orig_slice(touched)
        b.upsert(_w9_rows(spark, ["f3.txt"], size=77))
        return df

    monkeypatch.setattr(a, "_read_slice", slice_then_lose_race)
    with pytest.raises(ConcurrentWriteError, match="generation"):
        a.upsert(_w9_rows(spark, ["f3.txt"], size=11))
    monkeypatch.undo()

    sizes = {r["filename"]: r["file_size"] for r in a.read().collect()}
    assert sizes["f3.txt"] == 77 and len(sizes) == 20


def test_arbiter_closes_toctou_race_both_writers_pass_check(spark, tmp_path, monkeypatch):
    """The w9 snapshot check is check-then-act: two writers that BOTH
    read generation G pass it. The put-if-absent arbiter must let
    exactly one own G+1 — inject B's full commit AFTER A's generation
    check (inside A's commit, at the arbiter link), so A's only
    defense is the atomic link; A must get ConcurrentWriteError, B's
    rows must survive, and no lost update is possible."""
    import file_indexer_spark.indexer.files_table as ft
    from file_indexer_spark.indexer.files_table import ConcurrentWriteError

    loc = str(tmp_path / "arbiter_tbl")
    a = FilesTable(spark, loc)
    b = FilesTable(spark, loc)
    a.overwrite(_w9_rows(spark, ["base.txt"]))

    real_link = os.link
    state = {"armed": True}

    def b_commits_first(src, dst):
        if state["armed"]:
            state["armed"] = False  # only intercept A's first commit
            b.upsert(_w9_rows(spark, ["from_b.txt"], size=99))
        return real_link(src, dst)

    monkeypatch.setattr(ft.os, "link", b_commits_first)
    with pytest.raises(ConcurrentWriteError, match="concurrently"):
        a.upsert(_w9_rows(spark, ["from_a.txt"], size=50))
    monkeypatch.undo()

    names = {r["filename"] for r in a.read().collect()}
    assert names == {"base.txt", "from_b.txt"}, "B's commit must survive intact"
    # A retries on a fresh snapshot and succeeds
    a.upsert(_w9_rows(spark, ["from_a.txt"], size=50))
    assert {r["filename"] for r in a.read().collect()} == {
        "base.txt", "from_b.txt", "from_a.txt",
    }


def test_stale_cache_resolves_to_logged_commit(spark, tmp_path):
    """_MANIFEST is a cache: if a (crashed) writer committed a newer
    generation to the log without refreshing it, readers and the next
    writer must resolve the LOGGED generation — and history pruning on
    no-history tables must keep the latest arbiter entry only."""
    import json

    loc = str(tmp_path / "heal_tbl")
    t = FilesTable(spark, loc)
    t.overwrite(_w9_rows(spark, ["base.txt"]))
    gen = t._current_generation()

    # fabricate a crashed writer's commit: newer log entry, stale cache
    m = dict(t._load_manifest())
    m["generation"] = gen + 1
    log_dir = os.path.join(loc, FilesTable._MANIFEST_LOG)
    with open(os.path.join(log_dir, f"{gen + 1}.json"), "w") as fh:
        json.dump(m, fh)

    assert t._current_generation() == gen + 1
    assert t._read_manifest_cache()["generation"] == gen  # cache IS stale
    # next commit builds on the healed generation and refreshes the cache
    t.upsert(_w9_rows(spark, ["next.txt"]))
    assert t._read_manifest_cache()["generation"] == gen + 2
    # no-history pruning keeps exactly the latest arbiter entry
    assert [g for g, _ in t._log_generations()] == [gen + 2]


def test_overwrite_refuses_a_stale_expected_generation(spark, tmp_path):
    """w9 for a caller that passes its own read snapshot: once the table
    moved past ``expected_generation``, overwrite raises and leaves no
    staging behind; at the current generation it commits."""
    from file_indexer_spark.indexer.files_table import ConcurrentWriteError

    t = FilesTable(spark, str(tmp_path / "stale_overwrite"))
    t.overwrite(_w9_rows(spark, ["a.txt"]))
    gen = t._current_generation()
    t.upsert(_w9_rows(spark, ["b.txt"]))
    names = sorted(os.listdir(t.location))
    with pytest.raises(ConcurrentWriteError, match="generation"):
        t.overwrite(_w9_rows(spark, ["c.txt"]), expected_generation=gen)
    assert sorted(os.listdir(t.location)) == names
    assert {r["filename"] for r in t.read().collect()} == {"a.txt", "b.txt"}
    t.overwrite(_w9_rows(spark, ["c.txt"]), expected_generation=gen + 1)
    assert {r["filename"] for r in t.read().collect()} == {"c.txt"}


# ------------------------------------------------- schema evolution (w11)

def test_add_column_is_metadata_only_and_null_fills(spark, tmp_path):
    """w11: ADD COLUMN commits a new generation without touching any
    data dir; existing rows read the new column as NULL, and writes
    lacking the column keep working (null-filled by _conform)."""
    t = FilesTable(spark, str(tmp_path / "evo_db"))
    t.overwrite(_mk_rows(spark, [("/a", "f1", "c1", 1), ("/a", "f2", "c2", 2)]))
    data_dirs = sorted(
        n for n in os.listdir(t.location) if n.startswith("data-")
    )
    t.add_column("category", "string")
    # metadata-only: same data dirs, no new staging
    assert sorted(
        n for n in os.listdir(t.location) if n.startswith("data-")
    ) == data_dirs
    assert t._cols() == [
        "path", "filename", "checksum", "modification_datetime",
        "file_size", "indexed_at", "category",
    ]
    rows = {r["filename"]: r for r in t.read().collect()}
    assert rows["f1"]["category"] is None and rows["f2"]["category"] is None
    # a pre-evolution writer (no category column) still works
    t.upsert(_mk_rows(spark, [("/a", "f3", "c3", 3)]))
    assert {r["filename"]: r["category"] for r in t.read().collect()} == {
        "f1": None, "f2": None, "f3": None,
    }
    # and an evolved writer sets it
    t.upsert(
        _mk_rows(spark, [("/a", "f1", "c1", 1)]).withColumn(
            "category", F.lit("doc")
        )
    )
    assert {r["filename"]: r["category"] for r in t.read().collect()} == {
        "f1": "doc", "f2": None, "f3": None,
    }


def test_add_column_time_travel_reads_old_schema(spark, tmp_path):
    """read_at() replays a PRE-evolution generation under its own
    column set — the evolved column is absent, not null-filled."""
    t = FilesTable(spark, str(tmp_path / "evo_hist_db"), keep_history=True)
    t.overwrite(_mk_rows(spark, [("/a", "f1", "c1", 1)]))   # gen 1
    t.add_column("category", "string")                       # gen 2
    t.upsert(
        _mk_rows(spark, [("/a", "f2", "c2", 2)]).withColumn(
            "category", F.lit("doc")
        )
    )                                                        # gen 3
    assert t.read_at(1).columns == [
        "path", "filename", "checksum", "modification_datetime",
        "file_size", "indexed_at",
    ]
    assert t.read_at(1).count() == 1
    g2 = t.read_at(2)
    assert "category" in g2.columns and g2.count() == 1
    assert [r["category"] for r in g2.collect()] == [None]
    g3 = {r["filename"]: r["category"] for r in t.read_at(3).collect()}
    assert g3 == {"f1": None, "f2": "doc"}
    # vacuum to the live generation: old generations become unreadable
    # loudly, the evolved live table is unaffected
    t.vacuum(retain_generations=1)
    with pytest.raises(ValueError):
        t.read_at(1)
    assert {r["filename"] for r in t.read().collect()} == {"f1", "f2"}


def test_add_column_rejections_and_conflict_detection(spark, tmp_path):
    """Duplicate names are rejected; the evolution commit is w9
    conflict-detected like any write."""
    from file_indexer_spark.indexer.files_table import ConcurrentWriteError

    t = FilesTable(spark, str(tmp_path / "evo_rej_db"))
    t.overwrite(_mk_rows(spark, [("/a", "f1", "c1", 1)]))
    with pytest.raises(ValueError, match="already exists"):
        t.add_column("checksum", "string")
    # a competing writer advances the generation between the evolver's
    # snapshot and its commit => ConcurrentWriteError, schema unchanged
    snapshot_doc = t._load_manifest()
    t.upsert(_mk_rows(spark, [("/a", "f2", "c2", 2)]))
    with pytest.raises(ConcurrentWriteError):
        t._commit_manifest(
            dict(snapshot_doc["entries"]),
            snapshot_doc["generation"],
            schema=t.schema().add("category", "string"),
        )
    assert "category" not in t._cols()


def test_evolved_column_survives_compaction_and_bucketed_merge(spark, tmp_path):
    """The evolved column rides through the bucketed merge path and
    compact() (both read with the live schema)."""
    t = FilesTable(spark, str(tmp_path / "evo_bkt_db"), buckets=4)
    t.overwrite(
        _mk_rows(
            spark,
            [(f"/d{i}", f"f{i}", f"c{i}", i) for i in range(12)],
        ).repartition(6)
    )
    t.add_column("category", "string")
    t.upsert(
        _mk_rows(spark, [("/d0", "f0", "c0", 0)]).withColumn(
            "category", F.lit("hot")
        )
    )
    t.compact(files_per_bucket=1)
    rows = {r["filename"]: r["category"] for r in t.read().collect()}
    assert rows["f0"] == "hot"
    assert all(v is None for k, v in rows.items() if k != "f0")


def test_read_for_keys_prunes_to_touched_buckets(spark, sf_smoke, tmp_path):
    """w12: a key probe opens ONLY the buckets the keys hash to — the
    physical read is pinned via inputFiles(), and the rows equal a
    full-scan semi-join."""
    import os

    from file_indexer_spark.tables import files_df

    t = FilesTable(spark, str(tmp_path / "db"), buckets=16)
    original = files_df(spark, sf_smoke)
    t.overwrite(original)
    probe = original.orderBy("path", "filename").limit(3).select("path", "filename")
    out = t.read_for_keys(probe)
    dirs = {os.path.dirname(f) for f in out.inputFiles()}
    assert 1 <= len(dirs) <= 3 < 16
    got = sorted((r["path"], r["filename"]) for r in out.collect())
    want = sorted(
        (r["path"], r["filename"])
        for r in original.join(probe, ["path", "filename"], "left_semi").collect()
    )
    assert got == want and len(got) == 3


def test_point_lookup_opens_one_bucket_dir(spark, sf_smoke, tmp_path):
    import os

    from file_indexer_spark.tables import files_df

    t = FilesTable(spark, str(tmp_path / "db"), buckets=16)
    original = files_df(spark, sf_smoke)
    t.overwrite(original)
    key = original.orderBy("path", "filename").first()
    out = t.point_lookup(key["path"], key["filename"])
    assert len({os.path.dirname(f) for f in out.inputFiles()}) == 1
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["checksum"] == key["checksum"]


def test_read_for_keys_unbucketed_fallback(spark, sf_smoke, tmp_path):
    from file_indexer_spark.tables import files_df

    t = FilesTable(spark, str(tmp_path / "db"))
    original = files_df(spark, sf_smoke)
    t.overwrite(original)
    key = original.orderBy("path", "filename").first()
    rows = t.point_lookup(key["path"], key["filename"]).collect()
    assert len(rows) == 1 and rows[0]["file_size"] == key["file_size"]


def test_read_for_keys_path_only_probe_matches_directory(spark, sf_smoke, tmp_path):
    """A path-only probe (no filename column) returns every file in the
    directory — the D4 shape — still pruned to the path's bucket."""
    from file_indexer_spark.tables import files_df

    t = FilesTable(spark, str(tmp_path / "db"), buckets=16)
    original = files_df(spark, sf_smoke)
    t.overwrite(original)
    some_path = original.orderBy("path", "filename").first()["path"]
    probe = spark.createDataFrame([(some_path,)], "path string")
    got = sorted(r["filename"] for r in t.read_for_keys(probe).collect())
    want = sorted(
        r["filename"] for r in original.filter(F.col("path") == some_path).collect()
    )
    assert got == want and len(got) >= 1


def test_change_feed_classification_and_pruning(spark, tmp_path):
    """w14 semantics on a crafted history: inserts/deletes/update
    image pairs classified exactly; no-op rewrites emit nothing; and
    the diff physically reads ONLY buckets whose manifest entries
    moved between the two generations."""
    t = FilesTable(spark, str(tmp_path / "cdf_db"), buckets=8, keep_history=True)
    initial = _mk_rows(
        spark,
        [(f"/d{i}", f"f{j}", f"c{i}{j}", 10 * i + j) for i in range(8) for j in range(2)],
    )
    t.overwrite(initial)
    # gen 2: one value update, one brand-new PK, one no-op rewrite
    batch = _mk_rows(
        spark,
        [("/d0", "f0", "UPDATED", 10), ("/d0", "fNEW", "NEW", 99), ("/d1", "f0", "c10", 10)],
    )
    t.upsert(batch)
    feed = t.changes(1, 2)
    rows = {(r["change_type"], r["path"], r["filename"]): r for r in feed.collect()}
    assert set(rows) == {
        ("update_preimage", "/d0", "f0"),
        ("update_postimage", "/d0", "f0"),
        ("insert", "/d0", "fNEW"),
    }
    assert rows[("update_preimage", "/d0", "f0")]["checksum"] == "c00"
    assert rows[("update_postimage", "/d0", "f0")]["checksum"] == "UPDATED"
    # pruning: only the touched buckets' dirs are opened
    import json as _json

    docs = {
        g: _json.load(open(os.path.join(t.location, t._MANIFEST_LOG, f"{g}.json")))
        for g in (1, 2)
    }
    changed_rels = {
        r
        for k in set(docs[1]["entries"]) | set(docs[2]["entries"])
        if docs[1]["entries"].get(k) != docs[2]["entries"].get(k)
        for r in (docs[1]["entries"].get(k), docs[2]["entries"].get(k))
        if r
    }
    opened = {os.path.relpath(os.path.dirname(f.replace("file:", "")), t.location)
              for f in t.changes(1, 2).inputFiles()}
    assert opened <= changed_rels, (opened, changed_rels)
    assert len(opened) < len(docs[2]["entries"]) + len(docs[1]["entries"])


def test_change_feed_endpoint_semantics(spark, tmp_path):
    """The feed diffs ENDPOINTS: update-then-delete across the window
    collapses to a delete carrying the g_from image; insert-then-delete
    inside the window emits nothing; and a feed spanning a schema
    evolution null-fills old images for the added column."""
    t = FilesTable(spark, str(tmp_path / "cdf_ep"), buckets=4, keep_history=True)
    t.overwrite(_mk_rows(spark, [("/a", "f1", "c1", 1), ("/a", "f2", "c2", 2)]))
    # gen 2: update f1 + insert f3; gen 3: delete f1 and f3
    t.upsert(_mk_rows(spark, [("/a", "f1", "MUT", 1), ("/a", "f3", "c3", 3)]))
    t.delete(
        spark.createDataFrame(
            [("/a", "f1"), ("/a", "f3")], "path string, filename string"
        )
    )
    rows = {(r["change_type"], r["filename"]): r for r in t.changes(1, 3).collect()}
    assert set(rows) == {("delete", "f1")}
    assert rows[("delete", "f1")]["checksum"] == "c1"  # g_from image, not MUT
    # schema evolution inside the window (w11 interplay)
    t.add_column("tag", "string")
    t.upsert(
        t.read().filter(F.col("filename") == "f2").withColumn("tag", F.lit("T"))
    )
    evo = {(r["change_type"]): r for r in t.changes(3, t.generations()[-1]).collect()}
    assert set(evo) == {"update_preimage", "update_postimage"}
    assert evo["update_preimage"]["tag"] is None
    assert evo["update_postimage"]["tag"] == "T"


def test_change_feed_guards(spark, tmp_path):
    """Bad windows fail loudly: reversed endpoints, unretained
    generations, and vacuumed-away data."""
    t = FilesTable(spark, str(tmp_path / "cdf_g"), buckets=4, keep_history=True)
    t.overwrite(_mk_rows(spark, [("/a", "f1", "c1", 1)]))
    t.upsert(_mk_rows(spark, [("/a", "f1", "c2", 1)]))
    with pytest.raises(ValueError, match="g_from < g_to"):
        t.changes(2, 1)
    with pytest.raises(ValueError, match="not retained"):
        t.changes(1, 9)
    t.upsert(_mk_rows(spark, [("/a", "f1", "c3", 1)]))
    t.vacuum(retain_generations=1)
    with pytest.raises(ValueError, match="vacuumed|not retained"):
        t.changes(1, 3)


def test_clone_isolation_and_zero_copy(spark, tmp_path):
    """w13: the clone is bit-identical at clone time, fully isolated
    from BOTH directions of later mutation (including the source's
    inline GC of replaced dirs), survives a source vacuum, and shares
    inodes rather than copying bytes."""
    t = FilesTable(spark, str(tmp_path / "src"), buckets=4, keep_history=True)
    rows = _mk_rows(
        spark, [(f"/d{i}", f"f{j}", f"c{i}{j}", 10 * i + j) for i in range(6) for j in range(2)]
    )
    t.overwrite(rows)
    clone = t.clone_to(str(tmp_path / "clone"))
    assert clone.read().count() == 12
    # zero-copy: every cloned parquet file shares its inode with source
    import glob

    src_inodes = {
        os.stat(p).st_ino
        for p in glob.glob(str(tmp_path / "src" / "data-*" / "**" / "*.parquet"), recursive=True)
    }
    clone_files = glob.glob(
        str(tmp_path / "clone" / "data-*" / "**" / "*.parquet"), recursive=True
    )
    assert clone_files and all(os.stat(p).st_ino in src_inodes for p in clone_files)
    # source mutation + vacuum must not leak into (or break) the clone
    t.upsert(_mk_rows(spark, [("/d0", "f0", "MUT", 10)]))
    t.delete(spark.createDataFrame([("/d1", "f0")], "path string, filename string"))
    t.vacuum(retain_generations=1)
    got = {(r["path"], r["filename"]): r["checksum"] for r in clone.read().collect()}
    assert len(got) == 12 and got[("/d0", "f0")] == "c00"
    # clone mutation must not leak back
    clone.delete(spark.createDataFrame([("/d2", "f0")], "path string, filename string"))
    assert t.read().count() == 11  # 12 - source delete
    assert clone.read().count() == 11  # 12 - clone delete
    # refuse to clobber a non-empty destination
    with pytest.raises(ValueError, match="not empty"):
        t.clone_to(str(tmp_path / "clone"))
    # a clone of a clone works (it's a normal manifest table)
    c2 = clone.clone_to(str(tmp_path / "clone2"))
    assert c2.read().count() == 11


def test_cdf_view_refresh_equals_recompute(spark, tmp_path):
    """w15 semantics on a crafted history: a band-crossing size update
    lands as a (-1, +1) pair, a deletion empties its band (the band
    DROPS, matching recompute), and the refreshed view equals the
    from-scratch histogram of the final table."""
    from file_indexer_spark.operators import stats as st

    t = FilesTable(spark, str(tmp_path / "mv_db"), buckets=4, keep_history=True)
    # one tiny file (<1KB band, alone there), two mid files (1KB-1MB)
    t.overwrite(_mk_rows(spark, [
        ("/a", "small", "c1", 500),
        ("/a", "mid1", "c2", 2048),
        ("/a", "mid2", "c3", 4096),
    ]))
    # small jumps bands (500 -> 2MB... stays 1KB-1MB? 2_000_000 > 1048576 -> 1MB-1GB)
    t.upsert(_mk_rows(spark, [("/a", "small", "c1", 2_000_000)]))
    t.delete(spark.createDataFrame([("/a", "mid1")], "path string, filename string"))
    refreshed = st.incremental_histogram_refresh(
        st.size_histogram(t.read_at(1)), t.changes(1, 3)
    )
    recomputed = st.size_histogram(t.read())
    got = {(r["size_range"], r["count"], r["total_size"]) for r in refreshed.collect()}
    want = {(r["size_range"], r["count"], r["total_size"]) for r in recomputed.collect()}
    assert got == want
    assert not any(band == "< 1KB" for band, _, _ in got)  # emptied band dropped
    assert ("1MB - 1GB", 1, 2_000_000) in got


def test_restore_is_metadata_only_and_history_labels(spark, tmp_path):
    """w16: restore re-references the restored generation's entry map
    VERBATIM (zero data movement), history labels every public
    operation (outermost label wins through upsert's overwrite
    fallback), restore survives later vacuum while retained, and a
    vacuumed target refuses loudly."""
    import json as _json

    t = FilesTable(spark, str(tmp_path / "rst_db"), buckets=4, keep_history=True)
    t.overwrite(_mk_rows(spark, [("/a", "f1", "c1", 1), ("/a", "f2", "c2", 2)]))
    t.upsert(_mk_rows(spark, [("/a", "f1", "MUT", 1)]))
    t.delete(spark.createDataFrame([("/a", "f2")], "path string, filename string"))
    t.restore(1)

    def doc(g):
        return _json.load(
            open(os.path.join(t.location, t._MANIFEST_LOG, f"{g}.json"))
        )

    assert doc(4)["entries"] == doc(1)["entries"]  # metadata-only
    hist = {r["generation"]: r["operation"] for r in t.history().collect()}
    assert hist == {1: "OVERWRITE", 2: "UPSERT", 3: "DELETE", 4: "RESTORE"}
    assert all(r["committed_at"] is not None for r in t.history().collect())
    got = {(r["filename"], r["checksum"]) for r in t.read().collect()}
    assert got == {("f1", "c1"), ("f2", "c2")}
    # vacuum keeping only the live (restored) generation: its dirs are
    # generation 1's — they must survive; the mutated gens' dirs go
    t.vacuum(retain_generations=1)
    assert {(r["filename"], r["checksum"]) for r in t.read().collect()} == got
    with pytest.raises(ValueError, match="vacuumed|not retained"):
        t.restore(2)


def test_classify_files_routes_every_row_exactly_once(spark):
    """w19: the classification partitions the input (accepted +
    quarantined == input, no loss, no double-count); a row-level-bad
    row never shadows a clean row of the same PK; among clean
    duplicates the FIRST in (file_size, checksum NULLS FIRST, mtime)
    order is kept."""
    import datetime as dt

    from file_indexer_spark.indexer.quality import classify_files, split_valid

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # clean singleton
        ("/a", "ok", "c1", t0, 10, t0),
        # negative-size row sorts FIRST in the PK group (size -5 < 7)
        # but must NOT shadow the clean row
        ("/a", "shadow", "c2", t0, -5, t0),
        ("/a", "shadow", "c3", t0, 7, t0),
        # clean duplicate pair: smaller size kept, larger quarantined
        ("/a", "dup", "c4", t0, 3, t0),
        ("/a", "dup", "c5", t0, 4, t0),
        # null key
        ("/a", None, "c6", t0, 1, t0),
        # the other two declared NOT NULL columns (r11 verdict #1: a
        # NULL size made `file_size < 0` NULL and sailed through as
        # accepted) — and neither may shadow the clean PK row
        ("/a", "nullsize", "c7", t0, None, t0),
        ("/a", "nullsize", "c8", t0, 2, t0),
        ("/a", "nullmtime", "c9", None, 5, t0),
        ("/a", "nullmtime", "ca", t0, 6, t0),
    ]
    df = spark.createDataFrame(
        rows,
        "path string, filename string, checksum string, "
        "modification_datetime timestamp, file_size long, indexed_at timestamp",
    )
    accepted, quarantined = split_valid(classify_files(df))
    acc = {(r["filename"], r["file_size"]) for r in accepted.collect()}
    q = {(r["filename"], r["file_size"], r["reason"]) for r in quarantined.collect()}
    assert accepted.count() + quarantined.count() == df.count()
    assert acc == {("ok", 10), ("shadow", 7), ("dup", 3), ("nullsize", 2), ("nullmtime", 6)}
    assert q == {
        ("shadow", -5, "negative_size"),
        ("dup", 4, "duplicate_key"),
        (None, 1, "null_key"),
        ("nullsize", None, "null_size"),
        ("nullmtime", 5, "null_mtime"),
    }
