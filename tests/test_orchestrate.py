"""Retry/alarm orchestration analog (reference: Step Function poll loop +
CloudWatch "FAIL" metric alarm, deploy/statemachine.asl.json:25-67)."""

import os
from datetime import date
from unittest.mock import patch

from aws_logs_parquet_converter_spark.plans.compact import CompactionPolicy
from aws_logs_parquet_converter_spark.plans.incremental import (
    RollupConfig,
    compact_day,
)
from aws_logs_parquet_converter_spark.plans.orchestrate import run_with_retries
from aws_logs_parquet_converter_spark.sources.generator import generate_log_lines


def _write_day(root, day_path, n=80, seed=5):
    d = os.path.join(root, day_path)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "a.txt"), "w", encoding="utf-8") as fh:
        fh.write("\n".join(generate_log_lines(n, seed=seed)) + "\n")


def test_backfill_retries_and_reports(spark, tmp_path):
    """One flaky day (fails twice, then succeeds), one empty day (skipped),
    one good day: the loop retries with backoff, never aborts the backfill,
    and the report carries machine-readable per-day status."""
    raw, out = str(tmp_path / "raw"), str(tmp_path / "out")
    _write_day(raw, "2024/07/01")
    # 2024/07/02 intentionally missing -> skipped
    _write_day(raw, "2024/07/03")

    cfg = RollupConfig(
        source_root=raw,
        destination_root=out,
        start_date="2024-07-01",
        policy=CompactionPolicy(num_output_files=1),
    )

    from aws_logs_parquet_converter_spark.plans import orchestrate as orch

    real = orch.compact_day
    calls = {"n": 0}

    def flaky(spark_, cfg_, day_, folder_=None):
        if day_ == date(2024, 7, 1):
            calls["n"] += 1
            if calls["n"] <= 2:
                raise RuntimeError("transient storage error")
        return real(spark_, cfg_, day_, folder_)

    sleeps = []
    failures = []
    with patch.object(orch, "compact_day", side_effect=flaky):
        report = run_with_retries(
            spark,
            cfg,
            today=date(2024, 7, 4),
            max_attempts=3,
            backoff_seconds=0.01,
            on_failure=lambda d, e: failures.append((d, str(e))),
            _sleep=sleeps.append,
        )

    by_day = {d.day: d for d in report.days}
    assert by_day["2024-07-01"].status == "succeeded"
    assert by_day["2024-07-01"].attempts == 3
    assert by_day["2024-07-02"].status == "skipped"
    assert by_day["2024-07-03"].status == "succeeded"
    assert by_day["2024-07-03"].attempts == 1
    assert sleeps == [0.01, 0.02]  # exponential backoff between attempts
    assert failures == []  # retried into success -> no alarm
    assert report.to_dict()["n_failed"] == 0
    # the flaky day's output actually landed
    assert spark.read.parquet(os.path.join(out, "2024/07/01")).count() > 0


def test_day_with_nothing_to_read_is_skipped(spark, tmp_path):
    """A day folder that is empty, or holds only a job marker and a hidden
    checksum file, has no input: it is skipped, and its destination is
    neither created nor overwritten."""
    raw, out = tmp_path / "raw", tmp_path / "out"
    os.makedirs(raw / "2024/07/01")  # empty
    marked = raw / "2024/07/02"
    os.makedirs(marked)
    (marked / "_SUCCESS").write_text("")
    # log lines a reader would parse, were hidden files not filtered out
    (marked / ".a.txt.crc").write_text("\n".join(generate_log_lines(20, seed=3)) + "\n")
    # day 2 has earlier output that must survive the skipped run
    kept = out / "2024/07/02"
    spark.range(7).write.parquet(str(kept))
    before = sorted(os.listdir(kept))

    cfg = RollupConfig(
        source_root=str(raw),
        destination_root=str(out),
        start_date="2024-07-01",
        policy=CompactionPolicy(num_output_files=1),
    )
    assert compact_day(spark, cfg, date(2024, 7, 1)) is None
    assert compact_day(spark, cfg, date(2024, 7, 2)) is None
    report = run_with_retries(spark, cfg, today=date(2024, 7, 3), _sleep=lambda s: None)

    assert [(d.day, d.status) for d in report.days] == [
        ("2024-07-01", "skipped"),
        ("2024-07-02", "skipped"),
    ]
    assert not (out / "2024/07/01").exists()
    assert sorted(os.listdir(kept)) == before
    assert spark.read.parquet(str(kept)).count() == 7


def test_terminal_failure_fires_alarm_and_continues(spark, tmp_path):
    raw, out = str(tmp_path / "raw"), str(tmp_path / "out")
    _write_day(raw, "2024/07/01")
    _write_day(raw, "2024/07/02")

    cfg = RollupConfig(
        source_root=raw,
        destination_root=out,
        start_date="2024-07-01",
        policy=CompactionPolicy(num_output_files=1),
    )

    from aws_logs_parquet_converter_spark.plans import orchestrate as orch

    real = orch.compact_day

    def always_fails_day1(spark_, cfg_, day_, folder_=None):
        if day_ == date(2024, 7, 1):
            raise RuntimeError("permanent schema corruption")
        return real(spark_, cfg_, day_, folder_)

    failures = []
    with patch.object(orch, "compact_day", side_effect=always_fails_day1):
        report = run_with_retries(
            spark,
            cfg,
            today=date(2024, 7, 3),
            max_attempts=2,
            backoff_seconds=0.0,
            # hook raising must not kill the run
            on_failure=lambda d, e: (failures.append(d), 1 / 0),
            _sleep=lambda s: None,
        )

    by_day = {d.day: d for d in report.days}
    assert by_day["2024-07-01"].status == "failed"
    assert by_day["2024-07-01"].attempts == 2
    assert "permanent schema corruption" in by_day["2024-07-01"].error
    assert failures == ["2024-07-01"]  # alarm fired exactly once
    # the failed day did NOT abort the rest of the backfill
    assert by_day["2024-07-02"].status == "succeeded"
    assert report.to_dict() == {
        "days": report.to_dict()["days"],
        "n_succeeded": 1,
        "n_failed": 1,
    }


def test_multi_folder_run_writes_per_folder_subtrees(spark, tmp_path):
    """One run() invocation over a two-folder raw tree (the reference's
    per-logged-bucket layout) discovers both folders and writes each one's
    compacted day into its OWN destination subtree."""
    from aws_logs_parquet_converter_spark.plans.incremental import (
        discover_folders,
        run,
    )

    raw, out = str(tmp_path / "raw"), str(tmp_path / "out")
    _write_day(raw, "bucket-a/2024/07/01", n=40, seed=21)
    _write_day(raw, "bucket-b/2024/07/01", n=60, seed=22)
    # a stray FILE at the root must not be mistaken for a folder
    with open(os.path.join(raw, "notes.txt"), "w", encoding="utf-8") as fh:
        fh.write("not a folder\n")

    assert discover_folders(spark, raw) == ["bucket-a", "bucket-b"]
    assert discover_folders(spark, str(tmp_path / "missing")) == []

    cfg = RollupConfig(
        source_root=raw,
        destination_root=out,
        start_date="2024-07-01",
        policy=CompactionPolicy(num_output_files=1),
        folders=None,  # filesystem discovery
    )
    processed = run(spark, cfg, today=date(2024, 7, 2))
    assert [d.isoformat() for d in processed] == ["2024-07-01"]

    a = spark.read.parquet(os.path.join(out, "bucket-a", "2024/07/01"))
    b = spark.read.parquet(os.path.join(out, "bucket-b", "2024/07/01"))
    # seeded generator emits ~1% blank lines which the parser drops
    assert 0 < a.count() <= 40 and 0 < b.count() <= 60
    assert a.count() != b.count()  # distinct slices went to distinct subtrees


def test_multi_folder_retries_report_per_folder_units(spark, tmp_path):
    """run_with_retries in multi-folder mode reports one (day, folder) unit
    per logged bucket; an explicit folders tuple skips discovery."""
    raw, out = str(tmp_path / "raw"), str(tmp_path / "out")
    _write_day(raw, "bucket-a/2024/07/01", n=30, seed=31)
    # bucket-b has no data for the day -> its unit is 'skipped'
    os.makedirs(os.path.join(raw, "bucket-b"), exist_ok=True)

    cfg = RollupConfig(
        source_root=raw,
        destination_root=out,
        start_date="2024-07-01",
        policy=CompactionPolicy(num_output_files=1),
        folders=("bucket-a", "bucket-b"),
    )
    report = run_with_retries(spark, cfg, today=date(2024, 7, 2), max_attempts=1)
    by_folder = {d.folder: d.status for d in report.days}
    assert by_folder == {"bucket-a": "succeeded", "bucket-b": "skipped"}


def test_cli_multi_folder_args():
    from aws_logs_parquet_converter_spark.cli import config_from_args, parse_arguments

    a = parse_arguments(["--source-root", "/x", "--multi-folder"])
    assert config_from_args(a).folders is None  # discovery mode
    a = parse_arguments(["--source-root", "/x", "--folders", "b1, b2"])
    assert config_from_args(a).folders == ("b1", "b2")
    a = parse_arguments(["--source-root", "/x"])
    assert config_from_args(a).folders == ()  # single-folder default


def test_cli_main_end_to_end_subprocess(tmp_path):
    """The FULL CLI wiring in a real subprocess: raw logs for yesterday ->
    main() compacts them (own SparkSession), then --optimize-after packs
    the fragmented day in place. Integration coverage for the one path no
    in-process test exercises (main builds and stops its own session)."""
    import glob
    import os
    import subprocess
    import sys
    from datetime import date, timedelta

    yesterday = date.today() - timedelta(days=1)
    raw, out = str(tmp_path / "raw"), str(tmp_path / "out")
    _write_day(raw, yesterday.strftime("%Y/%m/%d"), n=60, seed=9)

    env = dict(os.environ, PYTHONPATH="/root/repo", SPARK_GRAFT_CPUS="4")
    res = subprocess.run(
        [
            sys.executable,
            "-m",
            "aws_logs_parquet_converter_spark.cli",
            "--source-root",
            raw,
            "--destination-root",
            out,
            "--num-output-files",
            "6",
            "--optimize-after",
        ],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    assert "processed 1 day(s)" in res.stdout
    assert "optimized 1 fragmented day partition(s)" in res.stdout
    day_dir = os.path.join(out, yesterday.strftime("%Y/%m/%d"))
    files = glob.glob(day_dir + "/*.parquet")
    assert len(files) == 1, files  # 6-file day packed in place
