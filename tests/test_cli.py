"""The CLI mirrors the reference's main.py verbs (simulate / detect /
setup / train) on Spark-first components; invoked in-process so the
suite's shared session is reused."""

from __future__ import annotations

import json
import os

from end_to_end_data_engineering_and_ml_system_spark.__main__ import main


def test_cli_list_runs(capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "pricing_summary" in out and "rows-only" in out


def test_cli_oracle_prints_sql(capsys):
    assert main(["oracle", "pricing_summary"]) == 0
    assert "SELECT" in capsys.readouterr().out


def test_cli_train_tracks_and_promotes(spark, sf_dir, tmp_path, capsys):
    root = str(tmp_path / "mlruns")
    rc = main(
        ["train", "--sf-dir", sf_dir, "--epochs", "2", "--registry-root", root]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "-> Production" in out
    # registry artifacts exist and version 1 is Production
    vdir = os.path.join(root, "models", "mlp_ae", "versions", "1")
    with open(os.path.join(vdir, "version.json")) as f:
        meta = json.load(f)
    assert meta["stage"] == "Production"
    # tracker holds the step-indexed loss series
    runs = os.listdir(os.path.join(root, "experiments", "mlp_ae", "runs"))
    with open(
        os.path.join(root, "experiments", "mlp_ae", "runs", runs[0], "run.json")
    ) as f:
        run_meta = json.load(f)
    assert [m["step"] for m in run_meta["metrics"]["train_loss"]] == [0, 1]


def test_cli_detect_routes_all_rows(spark, sf_dir, capsys):
    assert main(["detect", "--sf-dir", sf_dir]) == 0
    out = capsys.readouterr().out.strip().splitlines()[-1]
    # every event routed exactly once: normal + anomaly == table size
    parts = dict(kv.split("=") for kv in out.split())
    from end_to_end_data_engineering_and_ml_system_spark.sources.catalog import (
        load_table,
    )

    total = load_table(spark, sf_dir, "events").count()
    assert int(parts["normal"]) + int(parts["anomaly"]) == total


def test_cli_setup_reports_missing_lib_not_raise():
    assert main(["setup"]) == 1  # no kafka-python in this container


def test_cli_sql_front_door(capsys):
    assert (
        main(
            [
                "sql",
                "SELECT COUNT(*) AS n FROM documents",
                "--sf-dir",
                "/root/testdata/sf0.001",
            ]
        )
        == 0
    )
    out = capsys.readouterr().out
    assert "500" in out
