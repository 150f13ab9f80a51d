"""Generate PLAN_SNAPSHOTS.md: normalized `.explain(formatted)` output for
every headline (bench=True) batch query.

Expression IDs, plan ids, file paths/sizes, and session-specific noise are
stripped so the snapshot is stable across runs on the same Spark version —
any diff in a PR is a real physical-plan change (a new shuffle, a lost
broadcast, a widened scan), which is exactly what should be reviewed.

Usage:  python tools/plan_snapshots.py            # rewrite PLAN_SNAPSHOTS.md
        (tests/test_plan_snapshots.py asserts the committed file is current)
"""

from __future__ import annotations

import os
import re
import sys

SF_DIR = "/root/testdata/sf0.01"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "PLAN_SNAPSHOTS.md")

# streaming queries run a real stream to a memory sink: the returned frame's
# plan is the sink scan, not the streaming plan — skip them here (the
# streaming plans are covered by tests/test_streaming.py equivalence runs)
SKIP_TAGS = {"streaming"}

# flagship (non-bench) queries worth pinning alongside the bench set
EXTRA_SNAPSHOTS = (
    "user_rate_limit_violations",
    "event_series_correlation_matrix",
    # round 8: the distributed-rank shapes — equi-depth NTILE via
    # range-repartition + prefix offsets (no single-partition Exchange)
    # and vocabulary-coverage global rank
    "order_price_equidepth_histogram",
    "token_coverage_curve",
)


def normalize(plan: str) -> str:
    plan = re.sub(r"#\d+L?", "#x", plan)            # expression ids
    # lambda variable names embed a session-global counter (x_1, y_42, ...)
    plan = re.sub(r"\b(lambda )?([xy])_\d+#x", r"\1\2_n#x", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=x", plan)
    # localCheckpoint scans embed a session-global RDD id and a JVM
    # call-site string that flips with method-accessor JIT inflation
    plan = re.sub(r"MapPartitionsRDD\[\d+\]", "MapPartitionsRDD[n]", plan)
    # ... and whether the lineage cut was local or reliable depends only on
    # whether the shared session has a checkpoint dir configured (set by
    # unrelated tests), not on the plan shape — canonicalize both flavors.
    plan = re.sub(
        r"at (?:localCheckpoint|checkpoint) at [^,]*",
        "at checkpoint at <site>",
        plan,
    )
    # createDataFrame scans print a JVM call site that flips between
    # NativeMethodAccessorImpl.java:0 and <unknown>:0 with method-accessor
    # JIT inflation (depends on how much ran before in the JVM)
    plan = re.sub(
        r"at applySchemaToPythonRDD at [^,]*",
        "at applySchemaToPythonRDD at <site>",
        plan,
    )
    plan = re.sub(r"Statistics\([^)]*\)", "Statistics(x)", plan)
    plan = re.sub(r"\[id=#x\]", "", plan)
    plan = re.sub(r"file:[^,\]\s]+", "file:<path>", plan)
    plan = re.sub(r"Location: \S+", "Location: <path>", plan)
    plan = re.sub(r"(size=)\d+(\.\d+)?\s*\w*B", r"\1<n>", plan)
    # partition counts vary with session parallelism, not plan shape
    plan = re.sub(r"(partitioning\(.*), \d+\)", r"\1, <p>)", plan)
    plan = re.sub(r"e2e_flows_clean_\w+", "e2e_flows_clean_<tmp>", plan)
    plan = re.sub(r"[ \t]+$", "", plan, flags=re.M)
    return plan.strip() + "\n"


def formatted_plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def build_snapshots() -> str:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from end_to_end_data_engineering_and_ml_system_spark.plans.registry import (
        all_queries,
        bench_queries,
    )
    from end_to_end_data_engineering_and_ml_system_spark.session import get_spark

    # the engine's own session factory: identical configs (AQE, broadcast
    # threshold) whether run standalone or inside the pytest session, so the
    # snapshot never flips on session-config drift. Under pytest, getOrCreate
    # returns the suite's SHARED session — whose runtime SQL confs other
    # tests may have touched (and getOrCreate does not re-apply builder
    # confs to an existing session). Plan on an isolated newSession() with
    # the factory's SQL confs pinned explicitly.
    base = get_spark(app_name="plan-snapshots", cpus=8, shuffle_partitions=8)
    base.sparkContext.setLogLevel("ERROR")
    spark = base.newSession()
    for k, v in {
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    }.items():
        spark.conf.set(k, v)
    parts = [
        "# PLAN_SNAPSHOTS — generated physical plans (do not edit by hand)\n",
        "Normalized `.explain(formatted)` for every headline query at "
        "sf0.01/8 shuffle partitions.\nRegenerate with `python "
        "tools/plan_snapshots.py`; tests fail if this file is stale.\n"
        "Curated commentary on WHY each plan looks this way lives in "
        "PLANS.md.\n",
    ]
    snap = dict(bench_queries())
    # a stale name raises KeyError rather than silently unpinning a plan
    snap.update((n, all_queries()[n]) for n in EXTRA_SNAPSHOTS)
    for name, q in sorted(snap.items()):
        if SKIP_TAGS & set(q.tags):
            parts.append(f"## {name}\n\n(streaming — plan not snapshotted; "
                         "see tests/test_streaming.py)\n")
            continue
        df = q.build(spark, SF_DIR)
        parts.append(f"## {name}\n\n```\n{normalize(formatted_plan(df))}```\n")
        # build() eagerly materializes rank-family persists (offset
        # collects); free them per query like every other harness
        from end_to_end_data_engineering_and_ml_system_spark.operators.relational import (  # noqa: E501
            release_rank_caches,
        )

        release_rank_caches()
    # NOTE: the session is NOT stopped here — under pytest, getOrCreate
    # returns the suite's shared session and stopping it would kill it
    return "\n".join(parts)


if __name__ == "__main__":
    content = build_snapshots()
    with open(OUT, "w") as f:
        f.write(content)
    print(f"wrote {OUT} ({len(content.splitlines())} lines)")
