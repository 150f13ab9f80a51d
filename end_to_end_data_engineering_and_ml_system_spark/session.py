"""SparkSession factory tuned for the engine.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` in a single JVM; the configs
below are the ones that matter identically on a real multi-executor cluster:
AQE (runtime re-planning, skew-join handling, partition coalescing), Arrow
(vectorized Python interchange), and a shuffle-partition count sized to the
parallelism rather than the 200 default.

PySpark's DataFrame call-site capture
(``spark.python.sql.dataFrameDebugging.enabled``) is off by default here.
With it on, every DataFrame and Column call walks the Python stack and makes
four extra JVM round trips, which roughly triples the cost of building a
wide projection (``F.col`` 1.4 ms vs 0.3 ms on a 4-vCPU host) and made up
about half of the detect loop's per-batch plan building. The trade-off: an
analysis or runtime error no longer carries the Python file:line of the
failing DataFrame call; the error class, message, column name and SQL
context are unchanged. ``extra_conf`` can turn it back on for a new session;
it is a static conf, and PySpark reads it once per process (on the first
DataFrame call made with an active session).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

_SCRATCH = "/dev/shm/spark-scratch"
_SCRATCH_MIN_FREE = 16 * 2**30  # below this, shuffle spill on RAM is a hazard
_OWNER_PREFIX = "owner-"  # per-session subdir: owner-<pid>
_UNOWNED_GRACE_SECS = 3600  # unrecognized entries get an hour before reaping
# past this age an unowned entry is reaped even if some JVM exists: no local
# session legitimately runs for a week, and without a ceiling one unrelated
# long-lived java process would block reaping pre-scheme tmpfs debris
# (RAM-backed shuffle data) indefinitely
_UNOWNED_CEILING_SECS = 7 * 86400


def _pid_alive(pid: int) -> bool:
    """Is ``pid`` a live process in THIS pid namespace? Existence of
    /proc/<pid> is the test — conservative under pid reuse (a recycled
    pid keeps a dead session's dir alive until the recycler exits; it is
    reaped on the next session start after that, never prematurely)."""
    return os.path.isdir(f"/proc/{pid}")


def _any_java_alive() -> bool:
    """Is any java process running? Used ONLY as a transitional extra
    condition for UNOWNED scratch entries (written by pre-owner-scheme
    sessions straight under the scratch root): such an entry could belong
    to a still-live old session, so it is reaped only when aged past the
    grace window AND no JVM exists that could own it. Owner-<pid> entries
    never consult this — their liveness is exact."""
    try:
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    if fh.read().strip() == "java":
                        return True
            except OSError:
                continue
    except OSError:
        return True  # can't tell — assume alive, skip cleanup
    return False


def _reap_scratch(now: float | None = None) -> None:
    """Remove scratch debris left by killed sessions.

    Ownership is by construction, not heuristics: every session writes
    its shuffle data under ``owner-<pid>``, so an entry is reaped iff its
    owner pid is provably dead (``/proc/<pid>`` gone). This replaces two
    broken heuristics: a 24h top-level-mtime staleness test (Spark's
    blockmgr subdirs stop touching the top-level mtime, so a >24h LIVE
    session read as stale) and an any-java-process liveness scan (TOCTOU:
    a concurrent session whose JVM hadn't exec'd yet read as "no JVM" and
    its fresh scratch got wiped). Entries not matching the owner scheme
    (stray files, pre-scheme debris — possibly a LIVE old-code session's
    blockmgr dirs) fall only when BOTH aged past a one-hour grace AND no
    java process exists that could own them, so neither a mid-creation
    race nor a rolling upgrade can delete live data; past a 7-day hard
    ceiling unowned entries are reaped even while unrelated JVMs live
    (else one long-lived daemon pins week-old RAM-backed debris forever).
    The ceiling knowingly re-accepts a sliver of the mtime hazard — a
    pre-owner-scheme session LIVE for >7 days whose top-level mtime froze
    at creation would lose its scratch — an accepted trade: owner-scheme
    sessions (everything this package has created since the scheme
    landed) are exempt via exact /proc liveness, so only a week-plus
    session from a pre-scheme binary qualifies. Handles plain files
    too (``rmtree`` alone silently skips them). Caveat: /proc is THIS pid
    namespace — do not point multiple containers at one shared scratch."""
    import shutil
    import time

    if not os.path.isdir(_SCRATCH):
        return
    now = time.time() if now is None else now
    java_alive: bool | None = None  # lazy: scan /proc at most once
    for entry in os.listdir(_SCRATCH):
        path = os.path.join(_SCRATCH, entry)
        try:
            if entry.startswith(_OWNER_PREFIX) and entry[len(_OWNER_PREFIX):].isdigit():
                if _pid_alive(int(entry[len(_OWNER_PREFIX):])):
                    continue
            else:
                # unowned: could be a LIVE pre-owner-scheme session's
                # blockmgr dir — require age past grace AND no JVM at all;
                # past the hard ceiling, reap regardless (an unrelated
                # long-lived JVM must not pin week-old RAM-backed debris)
                age = now - os.path.getmtime(path)
                if age < _UNOWNED_GRACE_SECS:
                    continue
                if age < _UNOWNED_CEILING_SECS:
                    if java_alive is None:
                        java_alive = _any_java_alive()
                    if java_alive:
                        continue
            if os.path.isdir(path) and not os.path.islink(path):
                shutil.rmtree(path, ignore_errors=True)
            else:
                os.remove(path)
        except OSError:
            continue


def scratch_headroom_ok(spark: SparkSession | None = None) -> bool:
    """Runtime low-water check for the tmpfs scratch. Session creation
    refuses tmpfs when /dev/shm free space is already low, but a long
    shuffle-heavy run can cross the line mid-session — harnesses
    (bench.py, the gate) call this between queries and flag the run when
    it trips. True when tmpfs scratch is not in use or has headroom.
    Pass the session so the check is scoped to whether THAT session's
    scratch actually sits on the tmpfs — a session that was refused tmpfs
    (or overrode spark.local.dir) shuffles on disk, and a full /dev/shm
    then says nothing about its run. Spark takes local dirs from EITHER
    the ``spark.local.dir`` conf or the ``SPARK_LOCAL_DIRS`` env var, and
    the env WINS when set (the conf value is inert), so precedence is
    honored: consult the env alone when present, else the conf — ORing
    both would flag a disk-shuffling session whose stale conf still
    points at the tmpfs."""
    try:
        if spark is not None:
            env_dirs = os.environ.get("SPARK_LOCAL_DIRS", "")
            if env_dirs:
                candidates = env_dirs.split(",")
            else:
                try:
                    candidates = [spark.conf.get("spark.local.dir", "") or ""]
                except Exception:
                    candidates = [""]
            if not any(c.strip().startswith(_SCRATCH) for c in candidates):
                return True
        elif not os.path.isdir(_SCRATCH):
            return True
        import shutil

        return shutil.disk_usage("/dev/shm").free >= _SCRATCH_MIN_FREE
    except OSError:
        return True


def _tmpfs_scratch() -> str | None:
    """Per-session RAM-backed shuffle scratch dir (``owner-<pid>``), or
    None to keep Spark's default. Reaps dead sessions' debris (see
    ``_reap_scratch``) and refuses tmpfs when free space is low — shuffle
    spill must never exhaust RAM just to dodge a slow disk."""
    try:
        if not os.access("/dev/shm", os.W_OK):
            return None
        import shutil

        _reap_scratch()
        if shutil.disk_usage("/dev/shm").free < _SCRATCH_MIN_FREE:
            return None
        mine = os.path.join(_SCRATCH, f"{_OWNER_PREFIX}{os.getpid()}")
        os.makedirs(mine, exist_ok=True)
        return mine
    except OSError:
        return None


def get_spark(
    app_name: str = "e2e-spark-engine",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing is byte-based, but several operator families here
        # (tokenize + n-gram hashing, window rollups) carry heavy PER-ROW
        # compute on small shuffle bytes — the default 1m minPartitionSize
        # packs them onto 3-4 tasks and strands the other cores. 64k lets
        # small-byte stages keep core-width parallelism.
        # Scale-adaptive by construction: with parallelismFirst (default
        # true) the coalesce target is max(stage_bytes/defaultParallelism,
        # minPartitionSize), so any stage bigger than parallelism×1m
        # behaves exactly as before — at 100 TB this conf is inert; it only
        # re-parallelizes the small compute-bound stages. r16 same-JVM A/B,
        # order-reversed, medians of 7: events_window_counts −15%, nothing
        # slower; value sweep flat 256k→4k, 64k picked as the conservative
        # middle. Sweeps pass the conf through get_spark(extra_conf=...).
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # no Python call-site capture per DataFrame/Column call (see module
        # docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    # Local-mode shuffle scratch on tmpfs when available: this container's
    # /tmp sits on a virtio disk whose throughput wanders between sessions
    # (measured 10-15% on the shuffle-heavy dedup family; NOTES round 9),
    # while /dev/shm is RAM-backed. Real clusters manage spark.local.dir
    # themselves — env/explicit conf always wins here. Safety: a killed
    # session can't clean its scratch, and tmpfs debris is RAM — each
    # session owns an owner-<pid> subdir whose liveness /proc proves
    # (_reap_scratch reaps provably-dead owners' dirs on session start),
    # and tmpfs is refused when free space is low.
    if (
        "SPARK_LOCAL_DIRS" not in os.environ
        and "spark.local.dir" not in (extra_conf or {})
    ):
        scratch = _tmpfs_scratch()
        if scratch:
            builder = builder.config("spark.local.dir", scratch)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
