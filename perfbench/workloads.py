"""The three workloads, their set-up, their output checks and their metrics.

Every workload uses one seeded traffic model (``traffic.py``): two
delivery days of 28,800 lines each. The batch backfill reads them as 240
small files per day, the stream and the snapshot table as 24 hourly files
per day; the cut points line up, so the lines are the same.

Work per run is fixed by ``--seconds`` alone (never by how fast the code
is), so a traced and an untraced run do the same work and the difference
of their walls is the tracing overhead.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field

import traffic as T
from stats import median, tail
from spans import (
    Tracer,
    attribute,
    instrument,
    jobs_from_events,
    layer_metrics,
    progress_listener,
    read_event_log,
    spans_within,
    spark_metric_names,
)

SPEC = {"days": 2, "lines_per_day": 28_800, "files_per_day": 240}
WARM_SPEC = {"days": 2, "lines_per_day": 480, "files_per_day": 24}
HOURS = 24
SETUP_REPS = 3
DRIVER_MEMORY = "1g"
#: sizes at the declared run length; ``scaled`` stretches them to --seconds
REF_SECONDS = 15
BATCH_PASSES = 1
BATCH_QUERIES = 27
STREAM_FILES = 24
STREAM_QUERIES = 24
TABLE_APPENDS = 24
TIME_TRAVEL_EVERY = 4
OPTIMIZE_EVERY = 12
MIN_TAIL_SAMPLES = 21  # tail >= p52: more than stats.TAIL_BEYOND samples beyond

QUERIES = {
    "day_op_totals": (
        "SELECT date_format(request_time, 'yyyy-MM-dd') AS d, operation, "
        "count(*) AS n, coalesce(sum(bytes_sent), 0) AS b FROM {t} "
        "WHERE error_line IS NULL GROUP BY 1, 2"
    ),
    "hour_range": (
        "SELECT count(*) AS n, coalesce(sum(bytes_sent), 0) AS b FROM {t} "
        "WHERE request_time >= TIMESTAMP '{lo}' AND request_time < TIMESTAMP '{hi}'"
    ),
    "dead_letters": "SELECT count(*) AS n FROM {t} WHERE error_line IS NOT NULL",
}


def scaled(n: int, seconds: int, lo: int = MIN_TAIL_SAMPLES, hi: int | None = None) -> int:
    v = max(lo, round(n * seconds / REF_SECONDS))
    return min(v, hi) if hi is not None else v


def ncpu() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class Run:
    workload: str
    seed: int
    seconds: int
    work: str
    tracer: Tracer
    spark: object = None
    listener: object = None
    days: dict = field(default_factory=dict)
    truth: T.Truth | None = None
    attempted: int = 0
    failed: int = 0
    samples: dict = field(default_factory=lambda: defaultdict(list))
    e2e: dict = field(default_factory=dict)
    extra: dict = field(default_factory=dict)  # workload state, result inputs
    wall_s: float = 0.0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def op(self, ok: bool, what: str) -> None:
        """Count one attempted operation; ``ok`` False counts it failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: FAILED {what}", file=sys.stderr)


def guarded(what: str, fn):
    """Run ``fn``; on an exception print it and return None."""
    try:
        return fn()
    except Exception:  # a failed operation is counted, the run goes on
        print(f"perfbench: error in {what}", file=sys.stderr)
        traceback.print_exc()
        return None


# ---------------------------------------------------------------------------
# session and set-up
# ---------------------------------------------------------------------------


def session_conf(work: str, traced: bool) -> dict[str, str]:
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed, pre-touched heap: the Spark driver's RSS high-water mark then
        # does not depend on when the collector chose to grow the heap
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'warehouse')}"
        ),
    }
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def build(run: Run):
    from aws_logs_parquet_converter_spark.session import build_session

    n = ncpu()
    with run.tracer.span("session", "build_session"):
        spark = build_session(
            app_name="perfbench",
            master=f"local[{n}]",
            shuffle_partitions=n,
            extra_conf=session_conf(run.work, run.tracer.enabled),
        )
    spark.sparkContext.setLogLevel("ERROR")
    run.listener = progress_listener()
    spark.streams.addListener(run.listener)
    return spark


def write_layout(root: str, days: dict, files_per_day: int) -> list[str]:
    """Write each delivery day as ``files_per_day`` files under YYYY/MM/DD."""
    paths = []
    for d, lines in days.items():
        dd = T.day_dir(root, d)
        os.makedirs(dd, exist_ok=True)
        for i, chunk in enumerate(T.chunks(lines, files_per_day)):
            p = os.path.join(dd, f"part-{i:04d}.log")
            T.write_file(p, chunk)
            paths.append(p)
    return paths


def write_hourly(root: str, days: dict, n_files: int | None = None) -> list[str]:
    """The first ``n_files`` hourly files in delivery order, flat in ``root``.

    Modification times increase by one second per file, so a file stream
    picks them up in delivery order.
    """
    os.makedirs(root, exist_ok=True)
    paths = []
    base = time.time() - 86_400
    for d, lines in days.items():
        for h, chunk in enumerate(T.chunks(lines, HOURS)):
            if n_files is not None and len(paths) >= n_files:
                return paths
            p = os.path.join(root, f"d{d}-h{h:02d}.log")
            T.write_file(p, chunk)
            t = base + len(paths)
            os.utime(p, (t, t))
            paths.append(p)
    return paths


def setup(run: Run) -> None:
    """Generate the traffic, then build the session and warm up, several
    times, then load the workload's initial state; ``setup_s`` is the
    generation time plus the median rep plus the load time."""
    t = time.perf_counter()
    wl = WORKLOADS[run.workload]
    run.days, run.truth = T.generate(T.TrafficSpec(seed=run.seed, **SPEC), wl.DAYS)
    warm_days, _ = T.generate(T.TrafficSpec(seed=run.seed + 1, **WARM_SPEC), wl.DAYS)
    wl.prepare(run, warm_days)
    gen_s = time.perf_counter() - t
    reps = []
    for rep in range(SETUP_REPS):
        t = time.perf_counter()
        if run.spark is not None:
            run.spark.stop()
        run.spark = build(run)
        wl.warm_up(run, rep)
        reps.append(time.perf_counter() - t)
    t = time.perf_counter()
    wl.load(run)
    load_s = time.perf_counter() - t
    run.e2e["setup_s"] = gen_s + median(reps) + load_s
    run.extra["setup_reps_s"] = reps
    run.extra["generation_s"] = gen_s
    run.extra["load_s"] = load_s


# ---------------------------------------------------------------------------
# the query set, shared by every workload
# ---------------------------------------------------------------------------


def hour_windows(records) -> list[int]:
    return sorted({r.ts - r.ts % 3600 for r in records})


def plan_ms(df) -> float:
    """Analysis + optimization + planning time of an executed query."""
    jvm = df.sparkSession._jvm
    phases = df._jdf.queryExecution().tracker().phases()
    jmap = jvm.scala.jdk.javaapi.CollectionConverters.asJava(phases)
    return float(sum(jmap[k].durationMs() for k in jmap.keySet()))


def collect(run: Run, name: str, make_df) -> tuple[list[tuple] | None, float]:
    """Build and collect one query inside a ``query`` span.

    Returns its rows (None when it raised) and its wall in ms. A traced
    run also records the query's planning time, execution time and the
    number of files its scan reads.
    """
    with run.tracer.span("query", name) as sp:
        df = rows = None

        def go():
            nonlocal df, rows
            df = make_df()
            rows = [tuple(r) for r in df.collect()]

        guarded(name, go)
    if rows is not None and run.tracer.enabled:
        with run.tracer.span("trace", "query introspection"):
            planned = plan_ms(df)
            run.samples["query_plan_ms"].append(planned)
            run.samples["query_exec_ms"].append(sp.ms - planned)
            run.samples["query_files"].append(len(df.inputFiles()))
    return rows, sp.ms


def run_queries(run: Run, table: str, records, dead: int, n: int) -> None:
    """``n`` queries, cycling through ``QUERIES``, each checked."""
    rng = random.Random(run.seed * 7 + 1)
    hours = hour_windows(records)
    totals = T.Truth.by_event_day_op(records)
    names = list(QUERIES)
    for i in range(n):
        name = names[i % len(names)]
        lo = rng.choice(hours)
        sql = QUERIES[name].format(t=table, lo=T.iso_ts(lo), hi=T.iso_ts(lo + 3600))
        rows, ms = collect(run, name, lambda: run.spark.sql(sql))
        run.samples["query_ms"].append(ms)
        if name == "day_op_totals":
            ok = rows is not None and {(d, op): (n_, b) for d, op, n_, b in rows} == totals
        elif name == "hour_range":
            ok = rows == [T.Truth.in_range(records, lo, lo + 3600)]
        else:
            ok = rows == [(dead,)]
        run.op(ok, f"query {name}")


def parquet_files(root: str) -> list[str]:
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".parquet")]
    return out


def output_metrics(run: Run, files: list[str], raw_bytes: int) -> None:
    out_bytes = sum(os.path.getsize(f) for f in files)
    run.e2e["output_files"] = len(files)
    run.e2e["output_bytes_per_raw_byte"] = out_bytes / raw_bytes
    run.extra["output_bytes"] = out_bytes


def count_check(run: Run, df_fn, expect: tuple[int, int], what: str) -> bool:
    """(rows, dead letters) of a frame equal ``expect``."""
    from pyspark.sql import functions as F

    with run.tracer.span("check", what):
        got = guarded(
            what,
            lambda: tuple(df_fn().agg(F.count(F.lit(1)), F.count("error_line")).first()),
        )
    if got != expect:
        print(f"perfbench: {what}: got {got}, want {expect}", file=sys.stderr)
    return got == expect


# ---------------------------------------------------------------------------
# batch_backfill
# ---------------------------------------------------------------------------


class BatchBackfill:
    """Each delivery day through ``plans.incremental.compact_day`` with the
    default ``CompactionPolicy``, then the query set over the output."""

    DAYS = {0, 1}

    @staticmethod
    def load(run: Run) -> None:
        pass

    @staticmethod
    def prepare(run: Run, warm_days) -> None:
        run.extra["raw_paths"] = write_layout(
            run.path("raw"), run.days, SPEC["files_per_day"]
        )
        write_layout(run.path("warm", "raw"), warm_days, WARM_SPEC["files_per_day"])

    @staticmethod
    def warm_up(run: Run, rep: int) -> None:
        from aws_logs_parquet_converter_spark.plans.incremental import (
            RollupConfig,
            compact_day,
        )

        out = run.path("warm", f"out{rep}")
        cfg = RollupConfig(source_root=run.path("warm", "raw"), destination_root=out)
        compact_day(run.spark, cfg, T.day_date(1))
        run.spark.read.parquet(out + "/*/*/*").createOrReplaceTempView("warm")
        for sql in QUERIES.values():
            run.spark.sql(sql.format(t="warm", lo="2024-07-01", hi="2024-07-02")).collect()

    @staticmethod
    def measure(run: Run) -> None:
        from aws_logs_parquet_converter_spark.plans.incremental import (
            RollupConfig,
            compact_day,
        )

        spark, truth, tr = run.spark, run.truth, run.tracer
        out = run.path("out")
        cfg = RollupConfig(source_root=run.path("raw"), destination_root=out)
        lines = ingest_ms = 0.0
        for _ in range(scaled(BATCH_PASSES, run.seconds, lo=1)):
            for d in range(SPEC["days"]):
                with tr.span("plans.incremental", f"compact_day {d}") as sp:
                    done = guarded("compact_day", lambda: compact_day(spark, cfg, T.day_date(d)))
                run.samples["day_ms"].append(sp.ms)
                lines += truth.raw_lines(d)
                ingest_ms += sp.ms
                ok = done is not None and count_check(
                    run,
                    lambda: spark.read.parquet(T.day_dir(out, d)),
                    (truth.rows(d) + truth.dead_letters(d), truth.dead_letters(d)),
                    f"rows of delivery day {d}",
                )
                run.op(ok, f"compact_day {d}")
        run.e2e["ingest_lines_per_s"] = lines / (ingest_ms / 1000)
        with tr.span("query", "read_parquet"):
            spark.read.parquet(out + "/*/*/*").createOrReplaceTempView("logs")
        run_queries(
            run, "logs", truth.records, truth.dead_letters(),
            scaled(BATCH_QUERIES, run.seconds),
        )
        raw = sum(os.path.getsize(p) for p in run.extra["raw_paths"])
        output_metrics(run, parquet_files(out), raw)
        run.extra["parsed_rows"] = len(truth.records)
        run.extra["raw_lines"] = truth.raw_lines()


# ---------------------------------------------------------------------------
# stream_ingest
# ---------------------------------------------------------------------------


def hourly_truth(run: Run, day: int, hours: range):
    """Truth records and dead letters of some hourly files of one day."""
    recs, dead = [], 0
    for h in hours:
        recs += run.truth.chunk_records(day, HOURS, h)
        dead += run.truth.chunk_dead(day, HOURS, h)
    return recs, dead


class StreamIngest:
    """Delivery day 1 (late lines from day 0 included) drained by
    ``run_log_file_stream``, one hourly file per trigger, then the query
    set over the ``batch=N/day=D`` output."""

    DAYS = {1}

    @staticmethod
    def load(run: Run) -> None:
        pass

    @staticmethod
    def files(run: Run) -> int:
        return scaled(STREAM_FILES, run.seconds, hi=HOURS)

    @staticmethod
    def prepare(run: Run, warm_days) -> None:
        run.extra["raw_paths"] = write_hourly(
            run.path("stream_raw"), run.days, StreamIngest.files(run)
        )
        write_hourly(run.path("warm", "stream_raw"), warm_days, 2)

    @staticmethod
    def warm_up(run: Run, rep: int) -> None:
        from aws_logs_parquet_converter_spark.catalog import register_compacted_table
        from aws_logs_parquet_converter_spark.streaming.events import (
            run_log_file_stream,
        )

        out = run.path("warm", f"stream_out{rep}")
        run_log_file_stream(
            run.spark, run.path("warm", "stream_raw"), out,
            checkpoint_location=run.path("warm", f"ckpt{rep}"),
        )
        register_compacted_table(run.spark, "warm_stream", out)
        for sql in QUERIES.values():
            run.spark.sql(
                sql.format(t="warm_stream", lo="2024-07-01", hi="2024-07-02")
            ).collect()

    @staticmethod
    def measure(run: Run) -> None:
        from pyspark.sql import functions as F

        from aws_logs_parquet_converter_spark.catalog import register_compacted_table
        from aws_logs_parquet_converter_spark.streaming.events import (
            run_log_file_stream,
        )

        spark, tr = run.spark, run.tracer
        n_files = StreamIngest.files(run)
        records, dead = hourly_truth(run, 1, range(n_files))
        out = run.path("stream_out")
        with tr.span("streaming", "run_log_file_stream") as sp:
            done = guarded(
                "run_log_file_stream",
                lambda: run_log_file_stream(
                    spark, run.path("stream_raw"), out,
                    checkpoint_location=run.path("stream_ckpt"),
                ) or True,
            )
        qids = [q for q, t in run.listener.started.items() if sp.t0 <= t <= sp.t1]
        run.listener.wait_terminated(set(qids))
        batches = [p for q in qids for p in run.listener.batches(q)]
        for p in batches:
            run.samples["microbatch_ms"].append(p["durationMs"]["triggerExecution"])
        run.extra["stream_batches"] = batches
        run.extra["stream_drain_ms"] = sp.ms
        lines = n_files * SPEC["lines_per_day"] // HOURS
        run.e2e["ingest_lines_per_s"] = lines / (sp.ms / 1000)

        def totals():
            df = spark.read.parquet(out)
            rows = (
                df.where(F.col("error_line").isNull())
                .groupBy(F.date_format("request_time", "yyyy-MM-dd"), "operation")
                .agg(F.count(F.lit(1)), F.coalesce(F.sum("bytes_sent"), F.lit(0)))
                .collect()
            )
            return {(d, op): (n, b) for d, op, n, b in rows}, df.where(
                F.col("error_line").isNotNull()
            ).count()

        with tr.span("check", "per-day totals"):
            got = guarded("stream totals", totals) if done else None
        ok = got == (T.Truth.by_event_day_op(records), dead) and len(batches) == n_files
        if not ok:
            print(f"perfbench: stream drained {len(batches)} of {n_files} files", file=sys.stderr)
        for k in range(n_files):
            run.op(ok, f"micro-batch {k}")
        with tr.span("query", "register_compacted_table"):
            register_compacted_table(spark, "stream_logs", out)
        run_queries(run, "stream_logs", records, dead, scaled(STREAM_QUERIES, run.seconds))
        output_metrics(
            run, parquet_files(out),
            sum(os.path.getsize(p) for p in run.extra["raw_paths"]),
        )
        run.extra["parsed_rows"] = len(records)
        run.extra["raw_lines"] = lines
        run.extra["day_dirs_per_batch"] = [
            sum(1 for e in os.listdir(os.path.join(out, b)) if e.startswith("day="))
            for b in os.listdir(out)
            if b.startswith("batch=")
        ]


# ---------------------------------------------------------------------------
# table_mixed
# ---------------------------------------------------------------------------


class TableMixed:
    """A snapshot table as the serving store, one client in a closed loop:
    hourly append, time-range read + aggregate, a time-travel read every
    ``TIME_TRAVEL_EVERY`` appends and ``snapshot_optimize`` every
    ``OPTIMIZE_EVERY``. Day 0 is loaded in one commit during set-up."""

    DAYS = {0, 1}

    @staticmethod
    def load(run: Run) -> None:
        """The serving store's initial state: day 0 in one commit."""
        from aws_logs_parquet_converter_spark.plans.snapshots import snapshot_write
        from aws_logs_parquet_converter_spark.sources.registry import read_logs

        df = read_logs(run.spark, run.extra["raw_paths"][:HOURS])
        v = snapshot_write(
            df, run.path("table"), stats_cols=["request_time"],
            txn_app="perfbench", txn_version=0,
        )
        present, dead = hourly_truth(run, 0, range(HOURS))
        run.extra["loaded"] = (v, present, dead)

    @staticmethod
    def appends(run: Run) -> int:
        return scaled(TABLE_APPENDS, run.seconds, hi=HOURS)

    @staticmethod
    def prepare(run: Run, warm_days) -> None:
        run.extra["raw_paths"] = write_hourly(
            run.path("hours"), run.days, HOURS + TableMixed.appends(run)
        )
        write_hourly(run.path("warm", "hours"), warm_days, HOURS + 1)

    @staticmethod
    def warm_up(run: Run, rep: int) -> None:
        from pyspark.sql import functions as F

        from aws_logs_parquet_converter_spark.plans.snapshots import (
            snapshot_optimize,
            snapshot_read,
            snapshot_write,
        )
        from aws_logs_parquet_converter_spark.sources.registry import read_logs

        spark = run.spark
        hours = sorted(os.listdir(run.path("warm", "hours")))
        paths = [run.path("warm", "hours", h) for h in hours]
        root = run.path("warm", f"table{rep}")
        for p in (paths[:HOURS], paths[HOURS]):
            v = snapshot_write(read_logs(spark, p), root, stats_cols=["request_time"])
        lo = T.naive(T.day_start(0))
        snapshot_read(spark, root, filters=[("request_time", ">=", lo)]).agg(
            F.count(F.lit(1)), F.sum("bytes_sent")
        ).collect()
        snapshot_optimize(spark, root)
        snapshot_read(spark, root, version=v).count()

    @staticmethod
    def measure(run: Run) -> None:
        from pyspark.sql import functions as F

        from aws_logs_parquet_converter_spark.plans.snapshots import (
            current_version,
            read_manifest,
            snapshot_optimize,
            snapshot_read,
            snapshot_write,
        )
        from aws_logs_parquet_converter_spark.sources.registry import read_logs

        spark, truth, tr = run.spark, run.truth, run.tracer
        root = run.path("table")
        paths = run.extra["raw_paths"]
        rng = random.Random(run.seed * 7 + 2)
        write = lambda df, txn: snapshot_write(  # noqa: E731
            df, root, stats_cols=["request_time"], txn_app="perfbench", txn_version=txn
        )

        v, present, dead = run.extra["loaded"]
        expect = {v: len(present) + dead}
        run.extra["pruned"] = []
        for i in range(TableMixed.appends(run)):
            with tr.span("sources", "read_logs") as rl:
                df = read_logs(spark, paths[HOURS + i])
            with tr.span("snapshots", "snapshot_write") as sp:
                v = guarded("append", lambda: write(df, i + 1))
            run.samples["append_ms"].append(rl.ms + sp.ms)
            recs, d_dead = hourly_truth(run, 1, range(i, i + 1))
            present, dead = present + recs, dead + d_dead
            expect[v] = len(present) + dead
            # read back: the hour just appended, or a seeded hour of day 0
            lo = T.day_start(1) + 3600 * i if i % 2 == 0 else T.day_start(0) + 3600 * rng.randrange(HOURS)
            filters = [("request_time", ">=", T.naive(lo)), ("request_time", "<", T.naive(lo + 3600))]
            with tr.span("snapshots", "snapshot_read") as rp:
                rdf = snapshot_read(spark, root, filters=filters)
            got, ms = collect(run, "range_aggregate", lambda: rdf.agg(
                F.count(F.lit(1)), F.coalesce(F.sum("bytes_sent"), F.lit(0))
            ))
            run.samples["query_ms"].append(rp.ms + ms)
            run.samples["read_plan_ms"].append(rp.ms)
            ok = v is not None and got == [T.Truth.in_range(present, lo, lo + 3600)]
            run.op(ok, f"append {i} and its range read")
            if tr.enabled:
                with tr.span("trace", "pruning introspection"):
                    total = len(read_manifest(spark, root, v)["files"])
                    run.extra["pruned"].append(1 - len(rdf.inputFiles()) / total)
            if (i + 1) % TIME_TRAVEL_EVERY == 0:
                old = v - 2
                with tr.span("snapshots", "snapshot_read") as rp:
                    tdf = snapshot_read(spark, root, version=old)
                got, ms = collect(
                    run, "time_travel_count", lambda: tdf.agg(F.count(F.lit(1)))
                )
                run.samples["query_ms"].append(rp.ms + ms)
                run.op(got == [(expect.get(old),)], f"time travel to v{old}")
            if (i + 1) % OPTIMIZE_EVERY == 0:
                before = v
                with tr.span("snapshots", "snapshot_optimize") as sp:
                    v2 = guarded("optimize", lambda: snapshot_optimize(spark, root))
                run.samples["optimize_ms"].append(sp.ms)
                if v2 is not None:
                    expect[v2] = expect[v]
                    v = v2
                if tr.enabled and v2 is not None:
                    with tr.span("trace", "bytes rewritten"):
                        after = set(read_manifest(spark, root, v2)["files"])
                        run.extra["optimize_bytes"] = run.extra.get("optimize_bytes", 0) + sum(
                            os.path.getsize(os.path.join(root, f))
                            for f in read_manifest(spark, root, before)["files"]
                            if f not in after
                        )
                ok = v2 is not None and count_check(
                    run, lambda: snapshot_read(spark, root), (expect[v], dead),
                    "rows after optimize",
                )
                run.op(ok, f"optimize after append {i}")
        appended = TableMixed.appends(run) * SPEC["lines_per_day"] // HOURS
        run.e2e["ingest_lines_per_s"] = appended / (sum(run.samples["append_ms"]) / 1000)
        last = current_version(spark, root)
        live = [os.path.join(root, f) for f in read_manifest(spark, root, last)["files"]]
        output_metrics(run, live, sum(os.path.getsize(p) for p in paths))
        run.extra["versions"] = last + 1
        run.extra["parsed_rows"] = len(present)
        run.extra["raw_lines"] = (HOURS + TableMixed.appends(run)) * SPEC["lines_per_day"] // HOURS
        snaps = os.path.join(root, "_snapshots")
        logs = [os.path.join(snaps, f) for f in os.listdir(snaps)]
        run.extra["manifest_bytes"] = sum(os.path.getsize(p) for p in logs)
        run.extra["log_objects"] = len(logs)


WORKLOADS = {
    "batch_backfill": BatchBackfill,
    "stream_ingest": StreamIngest,
    "table_mixed": TableMixed,
}


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------


#: per-layer metrics in the order the traced run reports them
PER_LAYER = spark_metric_names() + [
    "sources.plan_ms",
    "sources.listing_tasks",
    "sources.input_files",
    "sources.scan_tasks",
    "functions.parse_ms",
    "functions.lines_per_s",
    "functions.parsed_ratio",
    "compact.write_ms",
    "compact.write_tasks",
    "compact.shuffle_write_bytes",
    "compact.spill_bytes",
    "compact.output_files",
    "compact.output_bytes",
    "incremental.day_p50_ms",
    "stream.trigger_ms",
    "stream.add_batch_ms",
    "stream.query_planning_ms",
    "stream.get_batch_ms",
    "stream.latest_offset_ms",
    "stream.wal_commit_ms",
    "stream.commit_offsets_ms",
    "stream.batches",
    "stream.rows_per_batch",
    "stream.day_dirs_per_batch",
    "stream.startup_ms",
    "snapshots.append_ms",
    "snapshots.read_plan_ms",
    "snapshots.files_pruned_ratio",
    "snapshots.optimize_ms",
    "snapshots.optimize_bytes_rewritten",
    "snapshots.versions",
    "storage.manifest_bytes",
    "storage.log_objects",
    "query.plan_ms",
    "query.exec_ms",
    "query.files_read",
    "trace.wall_ms",
    "trace.harness_ms",
    "trace.layer_share",
    "trace.unattributed_jobs",
]
#: per-layer metrics where more is better; for every other one less is
HIGHER = {
    "functions.lines_per_s",
    "functions.parsed_ratio",
    "stream.rows_per_batch",
    "snapshots.files_pruned_ratio",
    "trace.layer_share",
}


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc status")


def execute(run: Run) -> None:
    """Set up, measure, and fill ``run.e2e`` (and the trace inputs)."""
    setup(run)
    run.tracer.bind(run.spark.sparkContext)
    t = time.perf_counter()
    with instrument(run.tracer), run.tracer.span("harness", "measured") as root:
        WORKLOADS[run.workload].measure(run)
    run.wall_s = time.perf_counter() - t
    run.extra["root"] = root
    run.extra["app_id"] = run.spark.sparkContext.applicationId
    s = run.samples
    q, q_pct = tail(s["query_ms"])
    run.e2e.update(
        {
            "query_p50_ms": median(s["query_ms"]),
            "query_tail_ms": q,
            "peak_rss_mb": jvm_peak_rss_mb(run.spark),
        }
    )
    run.extra["query_tail_pct"] = q_pct
    run.extra["query_samples"] = len(s["query_ms"])
    for key, name in (("microbatch_ms", "microbatch"), ("append_ms", "append")):
        if s[key]:
            run.extra[f"{name}_p50_ms"] = median(s[key])
            run.extra[f"{name}_tail_ms"], run.extra[f"{name}_tail_pct"] = tail(s[key])
            run.extra[f"{name}_samples"] = len(s[key])
    if s["optimize_ms"]:
        run.extra["optimize_s"] = median(s["optimize_ms"]) / 1000


def layers(run: Run) -> dict[str, float]:
    """The traced run's per-layer metrics (call after the session stopped)."""
    tr, root, s, x = run.tracer, run.extra["root"], run.samples, run.extra
    app_logs = run.path("eventlog")
    jobs, stages = jobs_from_events(read_event_log(app_logs, x["app_id"]))
    job_span, missed = attribute(jobs, tr, run.listener.started)
    inside = spans_within(tr, root)
    missed = [j for j in missed if root.t0 <= jobs[j].t0 <= root.t1]
    # the session is built during set-up, outside the measured phase
    sessions = {sp.id for sp in tr.spans if sp.layer == "session"}
    agg = layer_metrics(tr, jobs, job_span, inside | sessions)
    out: dict[str, float] = {}
    for name in spark_metric_names():
        layer, _, m = name.rpartition(".")
        out[name] = float(agg.get(layer, {}).get(m, 0.0))
    spans = [sp for sp in tr.spans if sp.id in inside]

    def walls(layer, name):
        return [sp.ms for sp in spans if sp.layer == layer and sp.name == name]

    def stage_of(names):
        ids = {sp.id for sp in spans if sp.name in names}
        keep = {j for j, sp in job_span.items() if sp in ids}
        return [st for st in stages.values() if st.job in keep and st.records_read > 0]

    reads = walls("sources", "read_logs")
    text = [sp for sp in spans if sp.name == "read_text_lines"]
    scans = stage_of({"write_compacted", "run_log_file_stream", "snapshot_write"})
    src_jobs = {j for j, sp in job_span.items() if sp in {p.id for p in spans if p.layer == "sources"}}
    parse_ms = sum(st.codegen_ms for st in scans)
    read_lines = sum(st.records_read for st in scans)
    out.update(
        {
            "sources.plan_ms": sum(reads),
            "sources.listing_tasks": sum(jobs[j].tasks for j in src_jobs) / max(1, len(reads)),
            "sources.input_files": median(sp.attrs.get("input_files", 0) for sp in text),
            "sources.scan_tasks": median(st.tasks for st in scans),
            "functions.parse_ms": parse_ms,
            "functions.lines_per_s": read_lines / (parse_ms / 1000) if parse_ms else 0.0,
            "functions.parsed_ratio": x["parsed_rows"] / x["raw_lines"],
        }
    )
    writes = [sp for sp in spans if sp.name == "write_compacted"]
    w_jobs = [jobs[j] for j, sp in job_span.items() if sp in {w.id for w in writes}]
    batch = run.workload == "batch_backfill"
    out.update(
        {
            "compact.write_ms": sum(sp.ms for sp in writes),
            "compact.write_tasks": sum(j.tasks for j in w_jobs),
            "compact.shuffle_write_bytes": sum(j.shuffle_bytes for j in w_jobs),
            "compact.spill_bytes": sum(j.spill_bytes for j in w_jobs),
            "compact.output_files": run.e2e["output_files"] if batch else 0,
            "compact.output_bytes": x["output_bytes"] if batch else 0,
            "incremental.day_p50_ms": median(s["day_ms"]),
        }
    )
    b = x.get("stream_batches", [])

    def dur(key):
        return median(p["durationMs"].get(key, 0) for p in b)

    trig = sum(p["durationMs"]["triggerExecution"] for p in b)
    out.update(
        {
            "stream.trigger_ms": dur("triggerExecution"),
            "stream.add_batch_ms": dur("addBatch"),
            "stream.query_planning_ms": dur("queryPlanning"),
            "stream.get_batch_ms": dur("getBatch"),
            "stream.latest_offset_ms": dur("latestOffset"),
            "stream.wal_commit_ms": dur("walCommit"),
            "stream.commit_offsets_ms": dur("commitOffsets"),
            "stream.batches": len(b),
            "stream.rows_per_batch": median(p["numInputRows"] for p in b),
            "stream.day_dirs_per_batch": median(x.get("day_dirs_per_batch", [])),
            "stream.startup_ms": x["stream_drain_ms"] - trig if b else 0.0,
        }
    )
    out.update(
        {
            "snapshots.append_ms": median(walls("snapshots", "snapshot_write")),
            "snapshots.read_plan_ms": median(s["read_plan_ms"]),
            "snapshots.files_pruned_ratio": median(x.get("pruned", [])),
            "snapshots.optimize_ms": median(s["optimize_ms"]),
            "snapshots.optimize_bytes_rewritten": x.get("optimize_bytes", 0),
            "snapshots.versions": x.get("versions", 0),
            "storage.manifest_bytes": x.get("manifest_bytes", 0),
            "storage.log_objects": x.get("log_objects", 0),
            "query.plan_ms": median(s["query_plan_ms"]),
            "query.exec_ms": median(s["query_exec_ms"]),
            "query.files_read": median(s["query_files"]),
        }
    )
    layer_self = sum(a["self_ms"] for k, a in agg.items() if k not in ("harness", "session"))
    out.update(
        {
            "trace.wall_ms": root.ms,
            "trace.harness_ms": agg.get("harness", {}).get("self_ms", 0.0),
            "trace.layer_share": layer_self / root.ms,
            "trace.unattributed_jobs": len(missed),
        }
    )
    x["layers_detail"] = agg
    if list(out) != PER_LAYER:
        raise RuntimeError("per-layer metrics differ from PER_LAYER")
    return out


def cleanup(run: Run) -> None:
    """Drop the run's data; keep only its result files."""
    for entry in os.listdir(run.work):
        p = run.path(entry)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
