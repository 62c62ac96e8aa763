"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` (single JVM); the configs below are
chosen to also be the right defaults on a real multi-executor cluster:
AQE for runtime re-planning (skew joins, partition coalescing),
Arrow for any pandas-UDF hop, UTC session time so timestamp semantics
are stable across engines (the DuckDB oracle is naive/UTC).
"""

from __future__ import annotations

import contextlib
import fcntl
import hashlib
import os
import re
import shutil
import signal
import struct
import subprocess
import sys
import tempfile
import warnings
from dataclasses import dataclass

from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession

import file_indexer_spark

# Python workers run under pydaemon.py, which stops PySpark from
# re-parsing pyspark.zip on every task; its package root goes on the
# workers' PYTHONPATH so the daemon imports from any driver cwd.
PYTHON_DAEMON = "file_indexer_spark.pydaemon"
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(file_indexer_spark.__file__)))

# At 100 TB the shuffle-partition count should be sized so each task's
# shuffle block is ~128-512 MB; AQE coalesces down from a high initial
# number, so err high on clusters. For local[32] tests, 32 is right.
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Garbage collector for the batch engine (guide §5: memory pressure is
# a first-class performance input). JDK 17's default G1 optimizes for
# pause latency and, measured on this workload, stalls every task
# thread for seconds at a time under allocation-heavy stages (32
# concurrent tasks, HOF-generated short-lived arrays): sim5's scoring
# stage ran 10.9 s wall with 0.4 s CPU per task under G1/16g vs 3.9 s
# with the throughput collector at the SAME heap (OPTIMIZATION_r12.md,
# "GC pathology"). The round-13 controlled A/B (full bench per
# collector, same host, matched canaries 0.41-0.42 — BENCH_GC_AB_r13
# .json) settled the r12 open question: ParallelGC wins BOTH halves
# (headline 3.77 s vs G1 6.09 / ZGC 5.44; all_queries 252.8 s vs G1
# 302.6 / ZGC 268.9). Batch analytics wants throughput, not pause
# latency; override with SPARK_GRAFT_GC_OPTS (e.g. "-XX:+UseZGC") or
# "" to keep the JVM default.
GC_OPTS = os.environ.get("SPARK_GRAFT_GC_OPTS", "-XX:+UseParallelGC")

# Spark's generated-code cache is a static conf; by default it keeps 100
# compiled classes. An entry is keyed by source and class loader, so a
# stage's planning-time check compile and its tasks' copy take two. One op
# of this engine uses more than 100, so the LRU evicted each class before
# its next use: measured on the benchmark (4-vCPU VM, local[4]), a warm
# `index` op Janino-compiled ~180 classes and a catalog request 6-29, and
# HotSpot JIT-compiled every new class again. The bound covers the
# largest working set measured without misses, 330 classes for one pass
# of dd19, with headroom because Guava splits it over 4 segments
# (PERFORMANCE.md, "Measured engine facts" 5).
CODEGEN_CACHE_ENTRIES = 1000


# -- class-data-sharing archive for the driver JVM --------------------------
#
# A fresh driver JVM spends most of its start loading and verifying
# Spark's classes from ~290 jars. A dynamic AppCDS archive holds those
# classes pre-parsed and pre-verified, and the JVM maps it instead
# (PERFORMANCE.md, "Measured engine facts" 7). One archive serves every
# session of one JDK + Spark install: it lives in the per-user cache,
# named by a hash of what the JVM validates it against. A miss builds it
# once, synchronously, in a child process that runs ``warmup``; a user's
# own session never dumps, because a JVM that dumps at exit started
# ~4 s slower and spent ~15 s more CPU on its first index op.

# Every driver JVM keeps its own output off stdout, where it would mix
# with a command's output: a dumping JVM logs ~1,300 [cds] warnings and a
# JVM that rejects its archive says so in one line. These options go
# first and leave other log outputs alone, so a later -Xlog (e.g. in
# SPARK_GRAFT_GC_OPTS) or a file log from JAVA_TOOL_OPTIONS still applies.
JVM_LOG_OPTS = "-Xlog:all=off:stdout -Xlog:all=warning:stderr -XX:+DisplayVMOutputToStderr"

ARCHIVE_BUILD_TIMEOUT_S = 600

# JDK 17's dynamic-archive header: magic, crc and version, then 7 region
# records of 72 bytes, each with its file offset at byte 24 and its used
# size at byte 40. The JVM maps a truncated archive without checking its
# length and dies of SIGBUS, so the length is checked here first.
_CDS_MAGIC, _CDS_VERSION = 0xF00BABA8, 11
_CDS_REGIONS, _CDS_REGION_BYTES = 7, 72


@dataclass(frozen=True)
class _Archive:
    path: str
    jvm_version: str  # the header's JVM ident names it in parentheses
    conf_dir: str  # an empty SPARK_CONF_DIR for the build and archived launches


def cache_dir() -> str:
    """``$XDG_CACHE_HOME/file_indexer_spark``, else ``~/.cache/file_indexer_spark``
    (a relative ``XDG_CACHE_HOME`` is ignored, as the XDG spec says)."""
    base = os.environ.get("XDG_CACHE_HOME", "")
    if not os.path.isabs(base):
        base = os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "file_indexer_spark")


def _java_home() -> str:
    """The JDK that ``spark-class`` runs: ``$JAVA_HOME``, else ``java`` on PATH."""
    if os.environ.get("JAVA_HOME"):
        return os.path.realpath(os.environ["JAVA_HOME"])
    java = shutil.which("java")
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else ""


def _listing(directory: str) -> list[tuple[str, int, int]]:
    """(path, size, mtime) of each entry of ``directory`` that can be
    stat'ed (a dangling link cannot), in name order."""
    try:
        entries = sorted(os.scandir(directory), key=lambda e: e.name)
    except OSError:
        return []
    listing = []
    for e in entries:
        with contextlib.suppress(OSError):
            st = e.stat()
            listing.append((e.path, st.st_size, st.st_mtime_ns))
    return listing


def _heap_bytes(memory: str) -> int:
    """A ``spark.driver.memory`` value in bytes (no suffix means MiB)."""
    m = re.fullmatch(r"(\d+)([kmgtp]?)b?", memory.strip().lower())
    return int(m.group(1)) * 1024 ** " kmgtp".index(m.group(2) or "m") if m else 0


def _archive_plan(driver_memory: str) -> tuple[_Archive | None, str]:
    """The archive a launch with ``driver_memory`` would use, or None and why not."""
    java_home = _java_home()
    try:
        with open(os.path.join(java_home, "release")) as fh:
            release = dict(
                (k, v.strip().strip('"')) for k, _, v in (line.partition("=") for line in fh)
            )
    except OSError:
        release = {}
    version = release.get("JAVA_VERSION", "unknown")
    if version.split(".")[0] != "17":
        return None, f"JDK {version}: only JDK 17 archive headers are checked"
    cache = cache_dir()
    if not os.path.isabs(cache):  # no home directory to put it in
        return None, f"no per-user cache directory ({cache!r})"
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        from pyspark.find_spark_home import _find_spark_home

        spark_home = _find_spark_home()
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    own = sorted(os.path.basename(p) for p, _, _ in _listing(conf) if not p.endswith(".template"))
    if own:
        return None, (
            f"SPARK_CONF_DIR {conf} holds {', '.join(own)}, and JDK 17 cannot archive "
            "with a non-empty directory on the classpath"
        )
    jdk = [os.path.join(java_home, "lib", *p) for p in
           (("modules",), ("server", "libjvm.so"), ("server", "classes.jsa"))]
    key = (
        java_home,
        release.get("JAVA_RUNTIME_VERSION"),
        [(p, st.st_size, st.st_mtime_ns) for p in jdk if os.path.exists(p)
         for st in (os.stat(p),)],
        _listing(os.path.join(spark_home, "jars")),
        conf,
        _listing(conf),
        # a heap of 32 GiB or more turns compressed oops off, and the JVM
        # then rejects an archive dumped with them on
        _heap_bytes(driver_memory) < 32 * 2**30,
    )
    digest = hashlib.sha256(repr(key).encode()).hexdigest()[:16]
    return _Archive(
        path=os.path.join(cache, f"driver-{digest}.jsa"),
        jvm_version=release.get("JAVA_RUNTIME_VERSION", ""),
        conf_dir=os.path.join(cache, "empty-conf"),
    ), ""


def _check_archive(path: str, jvm_version: str) -> str | None:
    """Why the file at ``path`` is not a whole JDK 17 dynamic archive
    written by this JVM build, or None if it is."""
    try:
        with open(path, "rb") as fh:
            head = fh.read(4096)
            size = os.fstat(fh.fileno()).st_size
    except OSError as exc:
        return f"unreadable: {exc.strerror}"
    if len(head) < 16 + _CDS_REGIONS * _CDS_REGION_BYTES:
        return f"{size} bytes, shorter than an archive header"
    magic, _, version = struct.unpack_from("<IiI", head)
    if (magic, version) != (_CDS_MAGIC, _CDS_VERSION):
        return f"not a JDK 17 dynamic archive (magic {magic:#x}, version {version})"
    if f"({jvm_version})".encode() not in head:
        return f"written by another JVM build than {jvm_version}"
    end = 0
    for i in range(_CDS_REGIONS):
        offset, _, used = struct.unpack_from("<3Q", head, 16 + i * _CDS_REGION_BYTES + 24)
        end = max(end, offset + used)
    if size < end:
        return f"truncated: {size} of {end} bytes"
    return None


def _run_warmup(archive: _Archive, work: str) -> str | None:
    """Run ``python -m file_indexer_spark warmup`` in ``work`` with its
    JVM dumping to ``work/classes.jsa``; returns why that failed, or None."""
    out = os.path.join(work, "classes.jsa")
    env = {
        **os.environ,
        "SPARK_CONF_DIR": archive.conf_dir,
        "TMPDIR": work,
        "SPARK_LOCAL_DIRS": work,
        "PYTHONPATH": os.pathsep.join(filter(None, (PACKAGE_PARENT, os.environ.get("PYTHONPATH")))),
    }
    # its own session, so that a timeout can kill the JVM with the child
    child = subprocess.Popen(
        [sys.executable, "-m", "file_indexer_spark", "warmup", out],
        cwd=work, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, start_new_session=True,
    )
    try:
        log = child.communicate(timeout=ARCHIVE_BUILD_TIMEOUT_S)[0]
    except BaseException as exc:
        with contextlib.suppress(ProcessLookupError):
            os.killpg(child.pid, signal.SIGKILL)
        child.communicate()
        if not isinstance(exc, subprocess.TimeoutExpired):
            raise
        return f"warmup timed out after {ARCHIVE_BUILD_TIMEOUT_S} s"
    if child.returncode:
        tail = [line for line in log.splitlines() if line.strip() and "[cds" not in line][-3:]
        return f"warmup exited with {child.returncode}: " + " | ".join(tail)
    return _check_archive(out, archive.jvm_version)


def _remove(path: str) -> None:
    with contextlib.suppress(OSError):
        os.remove(path)


def _build_archive(archive: _Archive) -> tuple[str | None, str | None]:
    """Build and install ``archive.path`` unless another process has;
    returns why there is no archive (None if there is) and the
    failed-build marker this call wrote, if any. The cache dir's lock
    makes concurrent misses build once: the others wait and then use it.
    The marker stops later sessions from paying for a failed build again."""
    cache = os.path.dirname(archive.path)
    os.makedirs(archive.conf_dir, exist_ok=True)
    failed = archive.path + ".failed"
    lock = os.open(cache, os.O_RDONLY)
    try:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(archive.path):
            return None, None
        if os.path.exists(failed):
            with open(failed) as fh:
                return f"{fh.read().strip()}; delete {failed} to retry", None
        for name in os.listdir(cache):  # left by a build whose process was killed
            if name.startswith("build-"):
                shutil.rmtree(os.path.join(cache, name), ignore_errors=True)
        work = tempfile.mkdtemp(prefix="build-", dir=cache)
        try:
            problem = _run_warmup(archive, work)
            if problem is not None:
                with open(failed, "w") as fh:
                    fh.write(problem + "\n")
                return problem, failed
            os.replace(os.path.join(work, "classes.jsa"), archive.path)
            _evict_older(archive)
            return None, None
        finally:
            shutil.rmtree(work, ignore_errors=True)
    finally:
        os.close(lock)


def _evict_older(archive: _Archive) -> None:
    """Remove every other key's archive but the newest (a heap of 32 GiB
    or more has a key of its own) and every other key's failed-build
    marker: a reinstalled Spark or JDK changes the key, and each archive
    is ~180 MB."""
    others = [(mtime, path) for path, _, mtime in _listing(os.path.dirname(archive.path))
              if os.path.basename(path).startswith("driver-")
              and not path.startswith(archive.path)]
    archives = sorted(o for o in others if o[1].endswith(".jsa"))
    markers = [o for o in others if o[1].endswith(".jsa.failed")]
    for _, path in archives[:-1] + markers:
        _remove(path)


def _prepare_archive(driver_memory: str) -> tuple[_Archive | None, str, str | None]:
    """The archive this launch maps, building it on a miss; or None and
    why not, plus the failed-build marker this call wrote, if any. A bad
    archive is removed: this session starts without one and the next
    builds anew. A cache that cannot be written only costs the archive."""
    archive, why_not = _archive_plan(driver_memory)
    if archive is None:
        return None, why_not, None
    try:
        if os.path.exists(archive.path):
            problem = _check_archive(archive.path, archive.jvm_version)
            if problem is None:
                return archive, "", None
            _remove(archive.path)
            return None, f"{archive.path}: {problem}; removed, the next session rebuilds it", None
        problem, marker = _build_archive(archive)
    except OSError as exc:
        return None, f"the cache {os.path.dirname(archive.path)} is not usable: {exc}", None
    if problem:
        return None, f"building it failed: {problem}", marker
    return archive, "", None


def _jvm_maps(spark: SparkSession, path: str) -> bool:
    """Whether the driver JVM has ``path`` mapped (True where /proc is missing)."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    try:
        with open(f"/proc/{pid}/maps") as fh:
            return os.path.realpath(path) in fh.read()
    except OSError:
        return True


@contextlib.contextmanager
def _conf_dir_for_launch(conf_dir: str | None):
    """``SPARK_CONF_DIR`` set to ``conf_dir`` while the JVM launches, then restored."""
    old = os.environ.get("SPARK_CONF_DIR")
    if conf_dir:
        os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        yield
    finally:
        if conf_dir and old is None:
            del os.environ["SPARK_CONF_DIR"]
        elif conf_dir:
            os.environ["SPARK_CONF_DIR"] = old


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """The driver heap when ``SPARK_DRIVER_MEMORY`` is unset: half of the
    host's MemTotal in whole GiB, at least 1g and at most 16g (16g where
    MemTotal cannot be read). A 16g heap on a 15 GB host let two sessions
    at once fill its memory."""
    try:
        with open(meminfo) as fh:
            kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    except (OSError, StopIteration, IndexError, ValueError):
        return "16g"
    return f"{min(16, max(1, kib // 2**21))}g"


def get_spark(
    app_name: str = "file_indexer_spark",
    shuffle_partitions: int | None = None,
    cpus: int | str | None = None,
    *,
    dump_archive: str | None = None,
) -> SparkSession:
    """``cpus`` overrides the ``local[N]`` core count (default: the
    driver contract's $SPARK_GRAFT_CPUS). The pytest session passes a
    smaller value: at test scale (sf0.001/sf0.01) 32-way task fan-out
    is pure scheduling overhead — the r13 suite profile measured 24 min
    of SYSTEM time on a 56-min run, collapsing when the test session
    runs local[8] (OPTIMIZATION_r13.md).

    A JVM launched here maps the install's class-data-sharing archive,
    built on the first miss (see above). ``dump_archive`` is for
    ``warmup`` only: the JVM writes its loaded classes there at exit."""
    from pyspark import SparkContext

    cpus = str(cpus) if cpus is not None else os.environ.get("SPARK_GRAFT_CPUS", "32")
    memory = os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory()
    launching = SparkContext._gateway is None
    archive, no_archive, failed_marker = None, "", None
    if launching and not dump_archive:
        archive, no_archive, failed_marker = _prepare_archive(memory)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.python.daemon.module", PYTHON_DAEMON)
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_PARENT)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    if GC_OPTS:
        builder = builder.config("spark.executor.extraJavaOptions", GC_OPTS)

    def launch(archive: _Archive | None) -> SparkSession:
        java_opts = [JVM_LOG_OPTS, GC_OPTS]
        if dump_archive:
            java_opts.append(f'-XX:ArchiveClassesAtExit="{dump_archive}"')
        elif archive:
            java_opts.append(f'-XX:SharedArchiveFile="{archive.path}"')
        builder.config("spark.driver.extraJavaOptions", " ".join(filter(None, java_opts)))
        with _conf_dir_for_launch(archive.conf_dir if archive else None):
            return builder.getOrCreate()

    try:
        spark = launch(archive)
    except PySparkRuntimeError:
        if archive is None:
            # a plain launch fails too, so a failed build may have been
            # the environment's fault (say, a bad GC option), not the
            # archive's: let the next session try the build again
            if failed_marker:
                _remove(failed_marker)
            raise
        # a damaged archive that passed the header check can crash the
        # JVM; it is removed only once a plain launch shows that it was
        # the archive, and not the environment, that failed
        spark = launch(None)
        _remove(archive.path)
        no_archive = (f"the JVM failed to start with {archive.path}; removed, "
                      "the next session rebuilds it")
        archive = None
    spark.sparkContext.setLogLevel("WARN")
    # driver extraJavaOptions and static SQL confs only take effect when
    # THIS process launched the JVM; if getOrCreate returned an
    # already-running session they were silently ignored — make that
    # visible instead of benchmarking under the wrong collector, codegen
    # cache or class archive (ADVICE r12).
    ignored = []
    active = spark.conf.get("spark.driver.extraJavaOptions", "") or ""
    if GC_OPTS and GC_OPTS not in active:
        ignored.append(f"GC opts {GC_OPTS!r} (the running JVM has extraJavaOptions {active!r})")
    elif GC_OPTS:
        ignored += [f"GC opt {miss}" for miss in _vm_options_not_held(spark, GC_OPTS)]
    cache = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    if cache != str(CODEGEN_CACHE_ENTRIES):
        ignored.append(f"spark.sql.codegen.cache.maxEntries={CODEGEN_CACHE_ENTRIES} "
                       f"(the running JVM has {cache})")
    if archive and not _jvm_maps(spark, archive.path):
        _remove(archive.path)
        no_archive = (f"the JVM rejected {archive.path} as stale or mismatched; "
                      "removed, the next session rebuilds it")
    elif not launching and not dump_archive and "-XX:SharedArchiveFile" not in active:
        no_archive = "the running JVM was started without one"
    if no_archive:
        ignored.append(f"class-data-sharing archive ({no_archive})")
    if ignored:
        warnings.warn("NOT applied: " + "; ".join(ignored), stacklevel=2)
    return spark


# a -XX option: +Name or -Name sets a flag, Name=value a value
_XX_OPTION = re.compile(r"-XX:([+-]?)(\w+)(?:=(\S*))?")


def _vm_options_not_held(spark: SparkSession, opts: str) -> list[str]:
    """Each ``-XX`` option of ``opts`` that the running JVM does not hold,
    and why. Spark's launcher adds ``-XX:+IgnoreUnrecognizedVMOptions``,
    so a misspelled name still starts a JVM, without it."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
    missed = []
    for match in _XX_OPTION.finditer(opts):
        sign, name, value = match.groups()
        want = {"+": "true", "-": "false"}.get(sign, value)
        size = re.fullmatch(r"(\d+)([kmgt])", (want or "").lower())
        if size:  # the JVM reports sizes in bytes
            want = str(int(size.group(1)) * 1024 ** " kmgt".index(size.group(2)))
        try:
            have = bean.getVMOption(name).getValue()
        except Exception:  # noqa: BLE001 - the bean raises for an unknown name
            missed.append(f"{match.group(0)} (no such VM option)")
            continue
        if have != want:
            missed.append(f"{match.group(0)} (the JVM has {name}={have})")
    return missed


def stop_jvm(spark: SparkSession, timeout_s: float = 120) -> None:
    """Stop the session and wait for the JVM this process launched to
    exit (a dumping JVM writes its archive on the way out); the next
    ``get_spark`` launches a new one."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Janino has compiled in this JVM so far: one per miss of
    the generated-code cache."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable configs to an externally created session.

    The correctness driver hands us its own SparkSession; timestamp
    comparisons against the DuckDB oracle require UTC session time and
    we want AQE on for every operator. Only runtime-mutable confs here:
    static ones (the GC flag, ``spark.sql.codegen.cache.maxEntries``)
    cannot be set on a running JVM; only ``get_spark`` applies them.
    """
    for key, value in (
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        # events.parquet stores TIMESTAMP(NANOS); surface as long nanos
        # (events_df converts to microsecond timestamps)
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ):
        try:
            spark.conf.set(key, value)
        except Exception:
            pass  # non-runtime conf on this build — keep going
    return spark
