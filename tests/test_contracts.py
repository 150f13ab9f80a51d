"""Schema-contract gate: publish-side compatibility between table
versions (pure metadata, no scan)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from end_to_end_data_engineering_and_ml_system_spark.sources.catalog import load_table
from end_to_end_data_engineering_and_ml_system_spark.sources.contracts import (
    SchemaCompatibilityError,
    assert_compatible,
    diff_report,
    schema_diff,
)


def test_diff_classifies_all_change_kinds(spark, sf_dir):
    cur = load_table(spark, sf_dir, "events")
    new = (
        cur.drop("props")                                   # removed
        .withColumn("value", F.col("value").cast("float"))  # type_changed
        .withColumn("ingest_day", F.to_date("ts"))          # added
    )
    diff = {d["column"]: d for d in schema_diff(cur, new)}
    assert diff["props"]["kind"] == "removed"
    assert diff["value"]["kind"] == "type_changed"
    assert (diff["value"]["old_type"], diff["value"]["new_type"]) == (
        "double",
        "float",
    )
    assert diff["ingest_day"]["kind"] == "added"
    assert len(diff) == 3  # untouched columns are not reported


def test_gate_blocks_breaking_allows_additive(spark, sf_dir):
    cur = load_table(spark, sf_dir, "events")
    additive = cur.withColumn("ingest_day", F.to_date("ts"))
    assert [d["kind"] for d in assert_compatible(cur, additive)] == ["added"]
    with pytest.raises(SchemaCompatibilityError, match="props: removed"):
        assert_compatible(cur, cur.drop("props"))
    with pytest.raises(SchemaCompatibilityError, match="double -> float"):
        assert_compatible(
            cur, cur.withColumn("value", F.col("value").cast("float"))
        )
    with pytest.raises(SchemaCompatibilityError, match="added"):
        assert_compatible(cur, additive, allow_added=False)


def test_identical_schemas_are_clean(spark, sf_dir):
    cur = load_table(spark, sf_dir, "events")
    assert schema_diff(cur, cur.select(*reversed(cur.columns))) == []
    assert diff_report(spark, cur, cur).count() == 0


def test_tmpfs_scratch_guard():
    """The tmpfs shuffle-scratch helper must refuse low-space tmpfs and
    never crash; when it returns a path it must exist and be writable."""
    from end_to_end_data_engineering_and_ml_system_spark import session as S

    p = S._tmpfs_scratch()
    if p is not None:
        import os

        assert os.path.isdir(p) and os.access(p, os.W_OK)
    # low-space refusal: force the threshold above total RAM
    orig = S._SCRATCH_MIN_FREE
    try:
        S._SCRATCH_MIN_FREE = 1 << 50
        assert S._tmpfs_scratch() is None
    finally:
        S._SCRATCH_MIN_FREE = orig


def test_scratch_reaper_pid_ownership(tmp_path, monkeypatch):
    """Reaping is by owner-pid liveness, not mtime heuristics: a live
    owner's dir survives regardless of age (a >24h session must never be
    reaped mid-run); a dead owner's dir goes immediately even while other
    JVMs run (no any-java liveness scan); unowned debris falls only after
    the grace window (plain files too — rmtree alone skips them)."""
    import os
    import time

    from end_to_end_data_engineering_and_ml_system_spark import session as S

    scratch = tmp_path / "scratch"
    scratch.mkdir()
    monkeypatch.setattr(S, "_SCRATCH", str(scratch))
    ancient = time.time() - 8 * 24 * 3600  # one week stale by mtime

    live = scratch / f"owner-{os.getpid()}"  # this test process = live owner
    live.mkdir()
    (live / "shuffle.data").write_bytes(b"x")
    os.utime(live, (ancient, ancient))  # even a week-old LIVE session stays

    # a provably-dead pid: fork a child, reap it (its /proc entry is gone;
    # a hardcoded large pid is NOT beyond pid_max on 64-bit systemd hosts)
    dead_pid = os.fork()
    if dead_pid == 0:
        os._exit(0)
    os.waitpid(dead_pid, 0)
    assert not os.path.isdir(f"/proc/{dead_pid}")
    dead = scratch / f"owner-{dead_pid}"
    dead.mkdir()
    (dead / "shuffle.data").write_bytes(b"x")

    old_file = scratch / "stray.tmp"  # past grace, below the hard ceiling
    old_file.write_bytes(b"x")
    two_hours = time.time() - 2 * 3600
    os.utime(old_file, (two_hours, two_hours))
    ceiling_file = scratch / "ancient.tmp"  # past the 7-day hard ceiling
    ceiling_file.write_bytes(b"x")
    os.utime(ceiling_file, (ancient, ancient))
    fresh_unowned = scratch / "mid-creation"  # a racing session's moment-old dir
    fresh_unowned.mkdir()

    # while ANY JVM lives, unowned entries below the hard ceiling are kept
    # (a pre-owner-scheme session could still be using them) — but a dead
    # OWNER's dir goes (its liveness is exact), and debris past the
    # ceiling goes too (no local session legitimately runs for a week; an
    # unrelated long-lived JVM must not pin RAM-backed debris forever)
    monkeypatch.setattr(S, "_any_java_alive", lambda: True)
    S._reap_scratch()
    assert live.exists(), "live owner's scratch must never be reaped"
    assert not dead.exists(), "dead owner's scratch goes immediately"
    assert old_file.exists(), "unowned below ceiling survives while a JVM is alive"
    assert not ceiling_file.exists(), "past the hard ceiling, reaped regardless"

    monkeypatch.setattr(S, "_any_java_alive", lambda: False)
    S._reap_scratch()
    assert live.exists(), "owner liveness is exact, not JVM-scan-based"
    assert not old_file.exists(), "aged plain-file debris goes"
    assert fresh_unowned.exists(), "grace window protects mid-creation races"
    # after the grace window, unowned debris falls too
    os.utime(fresh_unowned, (ancient, ancient))
    S._reap_scratch()
    assert not fresh_unowned.exists()


def test_tmpfs_scratch_is_per_pid_and_headroom_check():
    """_tmpfs_scratch returns a per-session owner dir (ownership by
    construction) and scratch_headroom_ok never raises."""
    import os

    from end_to_end_data_engineering_and_ml_system_spark import session as S

    p = S._tmpfs_scratch()
    if p is not None:
        assert os.path.basename(p) == f"owner-{os.getpid()}"
    assert S.scratch_headroom_ok() in (True, False)


def test_scratch_headroom_sees_env_local_dirs(monkeypatch):
    """Spark takes local dirs from SPARK_LOCAL_DIRS (env) OR
    spark.local.dir (conf); a session whose scratch was routed to tmpfs
    via the env var has the conf unset, and the low-water probe must
    still recognize it as tmpfs-backed (trip when /dev/shm is low)."""
    from end_to_end_data_engineering_and_ml_system_spark import session as S

    class _Conf:
        def get(self, key, default=""):
            return default  # conf unset — env-var-configured session

    class _FakeSession:
        conf = _Conf()

    # env points into the tmpfs scratch → probe must consult disk_usage;
    # force the threshold above total RAM so "low" is guaranteed
    monkeypatch.setenv("SPARK_LOCAL_DIRS", f"{S._SCRATCH}/owner-12345")
    orig = S._SCRATCH_MIN_FREE
    try:
        S._SCRATCH_MIN_FREE = 1 << 50
        assert S.scratch_headroom_ok(_FakeSession()) is False
    finally:
        S._SCRATCH_MIN_FREE = orig
    # env elsewhere and conf unset → not tmpfs-backed, always ok
    monkeypatch.setenv("SPARK_LOCAL_DIRS", "/tmp/spark-local")
    assert S.scratch_headroom_ok(_FakeSession()) is True


def test_scratch_dir_conf_overrides_tempfile(spark):
    """spark.e2e.scratchDir redirects every materialization/staging/
    checkpoint path resolver away from driver-local tempfile."""
    from end_to_end_data_engineering_and_ml_system_spark.scratch import (
        SCRATCH_DIR_CONF,
        scratch_root,
        scratch_unique,
    )

    assert scratch_root(spark, "x", local_default="/dflt") == "/dflt"
    spark.conf.set(SCRATCH_DIR_CONF, "/shared/scratch/")
    try:
        assert scratch_root(spark, "x", local_default="/dflt") == "/shared/scratch/x"
        u = scratch_unique(spark, "job")
        assert u.startswith("/shared/scratch/job_") and len(u) > len(
            "/shared/scratch/job_"
        )
    finally:
        spark.conf.unset(SCRATCH_DIR_CONF)


DEBUG_CONF = "spark.python.sql.dataFrameDebugging.enabled"


def test_get_spark_turns_off_call_site_capture(spark):
    """PySpark's per-call DataFrame call-site capture is off by default:
    it costs four extra JVM round trips per Column call."""
    assert spark.conf.get(DEBUG_CONF) == "false"


def test_get_spark_extra_conf_overrides_call_site_capture(monkeypatch):
    """``extra_conf`` wins over the default. The conf is static, so this
    checks the options handed to a new session's builder."""
    from pyspark.sql import SparkSession

    from end_to_end_data_engineering_and_ml_system_spark.session import get_spark

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda b: dict(b._options))
    assert get_spark()[DEBUG_CONF] == "false"
    assert get_spark(extra_conf={DEBUG_CONF: "true"})[DEBUG_CONF] == "true"


def test_unresolved_column_still_names_the_column(spark):
    """Without call-site capture an analysis error still carries its class
    and the unresolved name; only the caller's file:line is gone."""
    from pyspark.errors import AnalysisException

    from end_to_end_data_engineering_and_ml_system_spark.ml.pipeline import (
        apply_standardizer_literal,
    )

    df = spark.range(3).selectExpr("CAST(id AS DOUBLE) AS x")
    with pytest.raises(AnalysisException, match="no_such_col"):
        df.select(F.col("no_such_col")).collect()
    stats = {"mean_no_such_feature": 0.0, "std_no_such_feature": 1.0}
    with pytest.raises(AnalysisException, match="no_such_feature"):
        apply_standardizer_literal(df, stats, ["no_such_feature"]).collect()


def test_gate_artifact_name_covers_all_sweep_dimensions(monkeypatch):
    """Evidence files are named from ALL non-default sweep knobs, so a
    combined-knob run (e.g. p=3 at sf0.1) can never merge into a
    single-knob artifact and clobber that evidence; single-knob sweeps
    keep their historical names."""
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "tools"))
    try:
        from driver_gate import artifact_name
    finally:
        sys.path.pop(0)

    monkeypatch.delenv("GATE_SHUFFLE_PARTITIONS", raising=False)
    monkeypatch.delenv("GATE_EXTRA_CONF", raising=False)
    assert artifact_name("/root/testdata/sf0.01") == "GATE_LOCAL.json"
    assert artifact_name("/root/testdata/sf0.1") == "GATE_LOCAL_sf0.1.json"

    monkeypatch.setenv("GATE_SHUFFLE_PARTITIONS", "3")
    assert artifact_name("/root/testdata/sf0.01") == "GATE_LOCAL_p3.json"
    # the combined sweep that previously merged into GATE_LOCAL_p3.json
    assert artifact_name("/root/testdata/sf0.1") == "GATE_LOCAL_p3_sf0.1.json"

    monkeypatch.setenv("GATE_EXTRA_CONF", "spark.sql.ansi.enabled=false")
    import hashlib

    tag = hashlib.md5(b"spark.sql.ansi.enabled=false").hexdigest()[:8]
    assert (
        artifact_name("/root/testdata/sf0.1")
        == f"GATE_LOCAL_p3_sf0.1_conf_{tag}.json"
    )
    monkeypatch.delenv("GATE_SHUFFLE_PARTITIONS")
    assert (
        artifact_name("/root/testdata/sf0.01") == f"GATE_LOCAL_conf_{tag}.json"
    )


def test_lazy_exports_resolve():
    """Every name the package advertises in ``__all__`` resolves through the
    PEP 562 lazy ``__getattr__``: a stale entry pointing at a deleted module
    or attribute fails here, not when a user first touches it."""
    import end_to_end_data_engineering_and_ml_system_spark as pkg

    assert pkg.__all__
    for name in pkg.__all__:
        assert getattr(pkg, name) is not None, name
