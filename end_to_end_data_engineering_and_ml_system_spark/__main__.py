"""CLI — the engine's equivalent of the reference's ``main.py`` entry point
(/root/reference/main.py:29-107), reshaped around the query registry:

    python -m end_to_end_data_engineering_and_ml_system_spark list
    python -m end_to_end_data_engineering_and_ml_system_spark run <query> [--sf-dir DIR] [--explain] [--show N]
    python -m end_to_end_data_engineering_and_ml_system_spark oracle <query>
    python -m end_to_end_data_engineering_and_ml_system_spark bench
"""

from __future__ import annotations

import argparse
import os
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="end_to_end_data_engineering_and_ml_system_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered queries")

    runp = sub.add_parser("run", help="run a registered query")
    runp.add_argument("query")
    runp.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
    )
    runp.add_argument("--explain", action="store_true", help="print the formatted plan")
    runp.add_argument("--show", type=int, default=20, help="rows to display")

    op = sub.add_parser("oracle", help="print a query's DuckDB oracle SQL")
    op.add_argument("query")

    sub.add_parser("bench", help="run the headline benchmark (same as bench.py)")

    sqlp = sub.add_parser(
        "sql", help="run arbitrary SQL over the fixture tables (views "
        "region/nation/customer/supplier/part/orders/lineitem/events/"
        "documents/embeddings)"
    )
    sqlp.add_argument("statement")
    sqlp.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    sqlp.add_argument("--show", type=int, default=20, help="rows to display")
    sqlp.add_argument("--explain", action="store_true")

    # reference-verb commands (main.py:29-107 simulate/detect/setup + the
    # train_autoencoder.py training run), wired to the Spark-first parts
    simp = sub.add_parser(
        "simulate", help="replay the events table as an incremental stream source"
    )
    simp.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))

    det = sub.add_parser(
        "detect", help="streaming detect loop: decode -> standardize -> threshold -> route"
    )
    det.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    det.add_argument("--threshold", type=float, default=2.0)

    trn = sub.add_parser(
        "train",
        help="distributed 64-64-16-64-64 autoencoder training run, tracked "
        "+ registered",
    )
    trn.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    trn.add_argument("--epochs", type=int, default=5)
    trn.add_argument("--registry-root", default=None,
                     help="tracker/registry dir (default: scratch)")

    setp = sub.add_parser(
        "setup", help="best-effort Kafka topic create-if-missing (needs kafka-python)"
    )
    setp.add_argument("--bootstrap-servers", default="localhost:9092")
    setp.add_argument("topics", nargs="*", default=None)

    args = p.parse_args(argv)
    from .plans.registry import all_queries

    queries = all_queries()

    if args.cmd == "list":
        w = max(len(n) for n in queries)
        for name, q in sorted(queries.items()):
            kind = "oracle   " if q.oracle else "rows-only"
            bench = " bench" if q.bench else ""
            print(f"{name:{w}s}  {kind}{bench}  {q.description}")
        return 0

    if args.cmd == "oracle":
        q = queries.get(args.query)
        if q is None:
            print(f"unknown query: {args.query}", file=sys.stderr)
            return 2
        print(q.oracle.strip() if q.oracle else "-- rows-only (no SQL oracle)")
        return 0

    if args.cmd == "sql":
        from .session import get_spark
        from .sources.catalog import TABLES, load_table

        spark = get_spark(app_name="cli-sql")
        spark.sparkContext.setLogLevel("ERROR")
        for t in TABLES:
            load_table(spark, args.sf_dir, t).createOrReplaceTempView(t)
        df = spark.sql(args.statement)
        if args.explain:
            df.explain("formatted")
        df.show(args.show, truncate=False)
        return 0

    if args.cmd == "setup":
        from .streaming.kafka import ensure_topics

        topics = args.topics or ["flows", "alerts", "dead-letter"]
        out = ensure_topics(topics, bootstrap_servers=args.bootstrap_servers)
        print(out)
        return 0 if out["error"] is None else 1

    if args.cmd == "simulate":
        from .session import get_spark
        from .streaming.pipeline import events_stream, run_to_memory_sink

        spark = get_spark(app_name="cli-simulate")
        spark.sparkContext.setLogLevel("ERROR")
        stream = events_stream(spark, args.sf_dir)
        n = run_to_memory_sink(stream.groupBy("event_type").count())
        print(f"replayed events by type: {sorted((r['event_type'], r['count']) for r in n.collect())}")
        return 0

    if args.cmd == "detect":
        from pyspark.sql import functions as F

        from .ml.pipeline import apply_standardizer_literal, fit_standardizer
        from .session import get_spark
        from .sources.catalog import load_table
        from .streaming.pipeline import events_stream, run_routed_foreach_batch

        spark = get_spark(app_name="cli-detect")
        spark.sparkContext.setLogLevel("ERROR")
        stats_row = fit_standardizer(
            load_table(spark, args.sf_dir, "events"), ["value"]
        ).first()

        def score(batch_df):
            z = apply_standardizer_literal(batch_df, stats_row, ["value"])
            return z.withColumn(
                "prediction",
                F.when(
                    F.col("z_value") * F.col("z_value") > args.threshold,
                    "anomaly",
                ).otherwise("normal"),
            )

        normal, anomaly = run_routed_foreach_batch(
            events_stream(spark, args.sf_dir), score, threshold=args.threshold
        )
        print(
            f"batches={len(normal)} normal={sum(normal)} anomaly={sum(anomaly)}"
        )
        return 0

    if args.cmd == "train":
        from pyspark.sql import functions as F

        from .ml.registry import ModelRegistry, Tracker
        from .ml.training import fit_mlp_autoencoder, mlp_reconstruction_mse_stats
        from .scratch import scratch_unique
        from .session import get_spark
        from .sources.catalog import load_table

        spark = get_spark(app_name="cli-train")
        spark.sparkContext.setLogLevel("ERROR")
        root = args.registry_root or scratch_unique(spark, "mlruns")
        tracker = Tracker(root)
        run = tracker.start_run("mlp_ae")
        run.log_params({"epochs": args.epochs, "hidden": 64, "code": 16, "lr": 1e-3})
        feats = (
            load_table(spark, args.sf_dir, "embeddings")
            .select(
                F.transform("embedding", lambda v: v.cast("double")).alias(
                    "features"
                )
            )
            .cache()
        )
        res = fit_mlp_autoencoder(
            feats, dim=64, epochs=args.epochs, lr=1e-3, tracker_run=run
        )
        stats = mlp_reconstruction_mse_stats(feats, res)
        run.log_metrics(stats)
        import pickle

        run.log_artifact("mlp_ae.pkl", pickle.dumps(res))
        run.end()
        reg = ModelRegistry(root)
        v = reg.register("mlp_ae", run, "mlp_ae.pkl")
        reg.transition("mlp_ae", v, "Production")
        print(
            f"run={run.run_id} losses={[round(x, 6) for x in res.losses]} "
            f"mse_mean={stats['mse_mean']:.6f} version={v} -> Production "
            f"(root={root})"
        )
        return 0

    if args.cmd == "bench":
        import subprocess

        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        return subprocess.call([sys.executable, os.path.join(root, "bench.py")])

    # run
    q = queries.get(args.query)
    if q is None:
        print(f"unknown query: {args.query}", file=sys.stderr)
        return 2
    from .session import get_spark

    spark = get_spark(app_name=f"cli-{args.query}")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    df = q.build(spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
    df.show(args.show, truncate=False)
    n = df.count()
    print(f"{args.query}: {n} rows in {time.time() - t0:.2f}s ({args.sf_dir})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
