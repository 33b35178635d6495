"""The benchmark's four workloads.

Each workload has one closed-loop client: the next operation starts
when the previous one returns. A workload is driven in four steps:

- ``setup(ctx, data_dir)`` builds its inputs in a fresh directory
  (repeated a few times per run; the last one is used);
- ``warmup(ctx)`` runs once untimed and checks outputs;
- ``run_pass(ctx, n)`` runs one pass and returns its timed operations,
  until ``exhausted()`` says the inputs hold no further full pass;
- ``verify(ctx)`` checks what the timed passes wrote.

Failures are named in ``ctx.failures``; none aborts the run.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass
from datetime import datetime, timedelta

import datagen
import tracing


@dataclass
class Op:
    name: str
    seconds: float
    ok: bool
    units: int = 1  # windows an operation completes (queries count 1)


def _now() -> float:
    return time.perf_counter()


def _duck(work_dir: str):
    import duckdb

    con = duckdb.connect()
    spill = os.path.join(work_dir, "duckdb_tmp")
    os.makedirs(spill, exist_ok=True)
    con.execute(f"SET temp_directory = '{spill}'")
    con.execute("SET threads = 2")
    return con


# -- query workloads -------------------------------------------------------


class QueryWorkload:
    """A fixed query set from the engine's registry, each query written
    to the noop sink; one pass runs every query once in a seed-chosen
    order."""

    def __init__(self, name: str, queries: tuple[str, ...], sf: float):
        self.name = name
        self.queries = queries
        self.sf = sf
        self.sf_dir = ""
        self.result_rows: dict[str, int] = {}
        self.duckdb_s = 0.0
        self.corrupt: str | None = None  # test hook: falsify one result
        self.job_groups: list[tuple[str, str]] = []  # (kind, group)
        self.catalyst = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        self.cache_max = (0, 0)
        self.rows_timed = 0

    def setup(self, ctx, data_dir: str) -> dict[str, float]:
        from data_pipeline_001_spark.plans import queries_bucketed
        from data_pipeline_001_spark.session import (
            load_tables,
            size_adaptive_execution,
        )

        t0 = _now()
        datagen.generate(data_dir, self.sf)
        t1 = _now()
        load_tables(ctx.spark, data_dir)
        t2 = _now()
        if any(q.endswith("_bucketed") for q in self.queries):
            queries_bucketed.ensure_bucketed(ctx.spark, data_dir)
        t3 = _now()
        size_adaptive_execution(ctx.spark, tracing.dir_stats(data_dir)[1])
        self.sf_dir = data_dir
        return {"datagen_s": t1 - t0, "load_tables_s": t2 - t1, "layout_s": t3 - t2}

    def warmup(self, ctx) -> None:
        """Untimed check pass: digest every result with the repo's
        ``canon`` and compare it with the query's DuckDB oracle."""
        from check_oracle import canon

        con = _duck(ctx.work)
        for t in datagen.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{self.sf_dir}/{t}.parquet')"
            )
        for name in self.queries:
            ctx.attempted += 1
            try:
                pdf = ctx.registry[name](ctx.spark, self.sf_dir).toPandas()
            except Exception as exc:  # noqa: BLE001 — counted, run continues
                ctx.fail(f"query {name} raised in the check pass: {exc!r:.200}")
                continue
            if name == self.corrupt:
                pdf = pdf.iloc[1:]
            self.result_rows[name] = len(pdf)
            t0 = _now()
            odf = con.execute(ctx.oracles[name]).fetchdf()
            self.duckdb_s += _now() - t0
            if canon(pdf) != canon(odf):
                ctx.fail(f"query {name}: result digest differs from its DuckDB oracle")
        con.close()

    def exhausted(self) -> bool:
        return False

    def run_pass(self, ctx, n: int) -> list[Op]:
        spark, tr = ctx.spark, ctx.tracer
        sc = spark.sparkContext
        order = list(self.queries)
        random.Random(f"{ctx.seed}:{n}").shuffle(order)
        ops = []
        for name in order:
            tr.trace_id = f"{name}#{n}"
            ok = True
            t0 = _now()
            try:
                with tr.span("query"):
                    if tr.active:
                        group = f"construct|{tr.trace_id}"
                        self.job_groups.append(("construct", group))
                        sc.setJobGroup(group, group)
                        calls0 = ctx.py4j.calls
                    with tr.span("construct"):
                        df = ctx.registry[name](spark, self.sf_dir)
                    if tr.active:
                        ctx.counters["construct.py4j_calls"] += ctx.py4j.calls - calls0
                        with tr.span("catalyst"):
                            for k, v in tracing.catalyst_phases_ms(df).items():
                                self.catalyst[k] += v
                        group = f"exec|{tr.trace_id}"
                        self.job_groups.append(("exec", group))
                        sc.setJobGroup(group, group)
                    with tr.span("exec"):
                        df.write.mode("overwrite").format("noop").save()
            except Exception as exc:  # noqa: BLE001 — counted, run continues
                ok = False
                ctx.fail(f"query {name} raised in pass {n}: {exc!r:.200}")
            ops.append(Op(name, _now() - t0, ok))
            if tr.active:
                self.rows_timed += self.result_rows.get(name, 0)
                entries, nbytes = tracing.cache_state(spark)
                self.cache_max = (max(self.cache_max[0], entries), max(self.cache_max[1], nbytes))
        return ops

    def verify(self, ctx) -> None:
        """Query results were checked in the warm-up pass."""

    def layer_metrics(self, ctx) -> dict[str, float]:
        spark = ctx.spark
        tracing.wait_for_listeners(spark)
        groups = {"construct": [], "exec": []}
        for kind, group in self.job_groups:
            groups[kind].extend(tracing.job_ids(spark, group))
        out = {"construct.jobs": float(len(groups["construct"]))}
        out["exec.jobs"] = float(len(groups["exec"]))
        for k, v in tracing.stage_totals(spark, groups["exec"]).items():
            out[f"exec.{k}"] = v
        rows = tracing.sql_row_counts(spark, groups["exec"])
        out["exec.python_rows"] = rows["python_rows"]
        out["operators.join_rows_out"] = rows["join_rows_out"]
        out["operators.result_rows"] = self.rows_timed
        out["operators.candidate_yield"] = (
            self.rows_timed / rows["join_rows_out"] if rows["join_rows_out"] else 0.0
        )
        for k, v in self.catalyst.items():
            out[f"catalyst.{k}_ms"] = v
        entries, nbytes = tracing.cache_state(spark)
        out["cache.entries_left"] = entries
        out["cache.bytes_left"] = nbytes
        out["cache.entries_max"] = self.cache_max[0]
        return out


# -- ingestion workloads ---------------------------------------------------


CONTROL_METHODS = (
    "read", "append_records", "update_where", "claim", "complete_stage",
    "fail_stage", "reset_after_audit_mismatch", "reset_stale_in_progress",
    "delete_records", "merge_audit_results",
)
PIPELINE_METHODS = (
    "run", "run_batch", "populate", "validate_in_progress", "pending_records",
    "run_window", "extract_all_windows",
)


class _IngestBase:
    """Shared set-up and layer accounting of the two ingestion
    workloads: one events table read through ``FileSource``."""

    def __init__(self, name: str, sf: float):
        self.name = name
        self.sf = sf
        self.data_dir = ""
        self.events = ""
        self.exec_groups: list[str] = []

    def _gen_events(self, data_dir: str) -> None:
        datagen.generate(data_dir, self.sf, tables=("events",))
        self.data_dir = data_dir
        self.events = os.path.join(data_dir, "events.parquet")

    def _instrument(self, ctx, control, source, sinks, pipeline) -> None:
        tr = ctx.tracer
        if not tr.enabled:
            return
        c = ctx.counters

        def after_overwrite(sp, args, out):
            c["control.rewrites"] += 1
            c["control.bytes_rewritten"] += tracing.dir_stats(control.path)[1]

        tr.wrap(control, CONTROL_METHODS, "control")
        tr.wrap(control, ("_overwrite",), "control", on_exit=after_overwrite)
        tr.wrap(source, ("count", "extract"), "source")
        for role, sink in sinks.items():
            def after_load(sp, args, out, sink=sink):
                path = sink._window_path(args[1]) if len(args) == 3 else sink.root
                files, nbytes = tracing.dir_stats(path)
                c["sink.files_written"] += files
                c["sink.bytes_written"] += nbytes

            def tag(sp, args, out, role=role):
                sp.attrs["role"] = role

            tr.wrap(sink, ("load", "load_all"), "sink", on_exit=after_load)
            tr.wrap(sink, ("count", "exists", "clean", "read_all"), "sink", on_exit=tag)
        tr.wrap(pipeline, PIPELINE_METHODS, "pipeline")

    def exhausted(self) -> bool:
        return False

    def _exec_group(self, ctx, label: str) -> None:
        if ctx.tracer.active:
            group = f"exec|{label}"
            self.exec_groups.append(group)
            ctx.spark.sparkContext.setJobGroup(group, group)

    def _control_rows(self, ctx, path: str) -> list[tuple]:
        con = _duck(ctx.work)
        rows = con.execute(
            "SELECT source_query_window_start_time, pipeline_status, "
            "count_match_status "
            f"FROM read_parquet('{path}/*.parquet')"
        ).fetchall()
        con.close()
        return rows

    def layer_metrics(self, ctx) -> dict[str, float]:
        spark = ctx.spark
        tracing.wait_for_listeners(spark)
        jobs = [j for g in self.exec_groups for j in tracing.job_ids(spark, g)]
        out = {"exec.jobs": float(len(jobs))}
        for k, v in tracing.stage_totals(spark, jobs).items():
            out[f"exec.{k}"] = v
        rows = tracing.sql_row_counts(spark, jobs)
        out["exec.python_rows"] = rows["python_rows"]
        out["operators.join_rows_out"] = rows["join_rows_out"]
        entries, nbytes = tracing.cache_state(spark)
        out["cache.entries_left"] = entries
        out["cache.bytes_left"] = nbytes
        return out


class HourlyIngest(_IngestBase):
    """``WindowPipeline.run`` over the hourly windows of ``PLAN_DAYS``
    seed-chosen events days (the reference's per-window loop). Each
    ``run`` call takes the next ``WINDOWS_PER_RUN`` pending windows, as
    one scheduled invocation of the reference does; one pass is one
    call. The run ends when no full call's worth of windows is left.

    The control table starts with ``HISTORY_DAYS`` days of completed
    windows, as a pipeline that has been running does. A rewrite's cost
    is flat in the table's size from one week to three months of
    hourly windows, so the choice shapes little beyond set-up time."""

    HISTORY_DAYS = 7
    PLAN_DAYS = 2
    WINDOWS_PER_RUN = 2

    def __init__(self, name: str, sf: float):
        super().__init__(name, sf)
        self.pipeline = None
        self.window_times: list[tuple[datetime, float, str]] = []
        self.drop_window: int | None = None  # test hook: lose one window's rows

    def _day(self, seed: int) -> datetime:
        span = datagen.EVENTS_DAYS - self.HISTORY_DAYS - self.PLAN_DAYS + 1
        return datagen.EVENTS_START + timedelta(days=self.HISTORY_DAYS + seed % span)

    def setup(self, ctx, data_dir: str) -> dict[str, float]:
        from data_pipeline_001_spark.plans.control_table import (
            STAGES,
            ControlTable,
            default_record,
        )
        from data_pipeline_001_spark.plans.pipeline import (
            PipelineConfig,
            WindowPipeline,
        )
        from data_pipeline_001_spark.sources.file_connectors import (
            FileSource,
            PartitionedParquetSink,
            window_dir_name,
        )

        spark = ctx.spark
        t0 = _now()
        self._gen_events(data_dir)
        t1 = _now()
        source = FileSource(spark, self.events, ts_col="ts")
        stage = PartitionedParquetSink(spark, os.path.join(data_dir, "stage"))
        target = PartitionedParquetSink(spark, os.path.join(data_dir, "target"))
        control = ControlTable(spark, os.path.join(data_dir, "control"))
        cfg = PipelineConfig(
            pipeline_name="hourly", granularity="1h", x_time_back="1d",
            max_pipeline_runs=self.WINDOWS_PER_RUN,
        )
        self.day = self._day(ctx.seed)
        self.now = self.day + timedelta(days=self.PLAN_DAYS + 2)
        t2 = _now()
        # completed history: the days before the planned ones
        history = []
        first = self.day - timedelta(days=self.HISTORY_DAYS)
        for h in range(self.HISTORY_DAYS * 24):
            ws = first + timedelta(hours=h)
            rec = default_record(
                cfg.pipeline_name, cfg.source_desc, cfg.target_desc, ws,
                ws + timedelta(hours=1), stage_path=window_dir_name(ws),
            )
            rec.update(
                pipeline_status="completed", completed_stage_number=4,
                source_count=100, target_count=100, count_difference=0,
                count_difference_percentage=0.0, count_match_status="matched",
            )
            for s in STAGES:
                rec[f"{s}_status"] = "completed"
            history.append(rec)
        control.append_records(history)
        t3 = _now()
        self.pipeline = WindowPipeline(spark, cfg, source, stage, target, control)
        self._time_windows(target)
        self._instrument(ctx, control, source, {"stage": stage, "target": target}, self.pipeline)
        return {"datagen_s": t1 - t0, "load_tables_s": t2 - t1, "layout_s": t3 - t2}

    def _time_windows(self, target) -> None:
        """Per-window wall time in every run (a timer, not a span)."""
        pipe = self.pipeline
        inner = pipe.run_window
        loads = [0]

        def run_window(record):
            t0 = _now()
            status = inner(record)
            self.window_times.append(
                (record["source_query_window_start_time"], _now() - t0, status)
            )
            return status

        pipe.run_window = run_window
        if self.drop_window is not None:
            load = target.load

            def lossy_load(df, start, end):
                loads[0] += 1
                if loads[0] == self.drop_window:
                    df = df.limit(0)
                return load(df, start, end)

            target.load = lossy_load

    def warmup(self, ctx) -> None:
        """The first ``run`` call plans the windows and runs the first
        batch of them; it is untimed but checked like the others."""
        self._check_pass(ctx, "warmup")

    def _run(self, ctx, label: str):
        ctx.tracer.trace_id = f"{self.day:%Y-%m-%d}#{label}"
        self._exec_group(ctx, label)
        return self.pipeline.run(
            self.day, self.day + timedelta(days=self.PLAN_DAYS), now=self.now
        )

    def exhausted(self) -> bool:
        left = self.PLAN_DAYS * 24 - len(self.window_times)
        return left < self.WINDOWS_PER_RUN

    def run_pass(self, ctx, n: int) -> list[Op]:
        return self._check_pass(ctx, str(n))

    def _check_pass(self, ctx, label: str) -> list[Op]:
        """A window that does not complete is a failure even when a
        later pass retries it successfully."""
        first = len(self.window_times)
        self._run(ctx, label)
        ops = []
        for ws, dt, status in self.window_times[first:]:
            if status != "completed":
                ctx.fail(f"window {ws}: run_window ended {status} in pass {label}")
            ops.append(Op(f"{ws:%Y-%m-%dT%H}", dt, status == "completed"))
        return ops

    def verify(self, ctx) -> None:
        """Every window run must end completed and matched, and its
        target rows must equal DuckDB's count over the window."""
        control = self.pipeline.control
        target = self.pipeline.target_sink
        state = {r[0]: r for r in self._control_rows(ctx, control.path)}
        con = _duck(ctx.work)
        for ws, _dt, _status in self.window_times:
            ctx.attempted += 1
            row = state.get(ws)
            if row is None or row[1] != "completed" or row[2] != "matched":
                ctx.fail(f"window {ws}: ended {row[1:3] if row else 'missing'}")
                continue
            want = con.execute(
                f"SELECT count(*) FROM read_parquet('{self.events}') "
                "WHERE ts >= ? AND ts < ?", [ws, ws + timedelta(hours=1)],
            ).fetchone()[0]
            got = con.execute(
                f"SELECT count(*) FROM read_parquet('{target._window_path(ws)}/*.parquet')"
            ).fetchone()[0]
            if got != want:
                ctx.fail(f"window {ws}: target has {got} rows, DuckDB counts {want}")
        ctx.counters["control.rows_end"] = len(state)
        con.close()

    def layer_metrics(self, ctx) -> dict[str, float]:
        out = super().layer_metrics(ctx)
        windows = [i for i, sp in enumerate(ctx.tracer.spans) if sp.name == "pipeline.run_window"]
        recounts, first_match = 0, 0
        for i in windows:
            counts = [
                sp for sp in ctx.tracer.spans
                if sp.name == "sink.count" and sp.attrs.get("role") == "target"
                and _has_ancestor(ctx.tracer.spans, sp, i)
            ]
            recounts += len(counts)
            first_match += len(counts) == 1
        out["audit.recounts_per_window"] = recounts / len(windows) if windows else 0.0
        out["audit.first_count_match_frac"] = first_match / len(windows) if windows else 0.0
        return out


class BackfillBatch(_IngestBase):
    """``WindowPipeline.run_batch`` over ``DAYS`` days of hourly windows
    into a ``DayPartitionedTableSink``: one partitioned write and two
    control rewrites. Every pass starts from an empty control table and
    target, so each pass does the same work."""

    DAYS = 28

    def __init__(self, name: str, sf: float):
        super().__init__(name, sf)
        self.batches: list[tuple[str, str]] = []  # (control path, target path)

    def setup(self, ctx, data_dir: str) -> dict[str, float]:
        t0 = _now()
        self._gen_events(data_dir)
        t1 = _now()
        offset = ctx.seed % (datagen.EVENTS_DAYS - self.DAYS + 1)
        self.start = datagen.EVENTS_START + timedelta(days=offset)
        self.end = self.start + timedelta(days=self.DAYS)
        return {"datagen_s": t1 - t0, "load_tables_s": 0.0, "layout_s": 0.0}

    def _batch(self, ctx, label: str) -> float:
        from data_pipeline_001_spark.plans.control_table import ControlTable
        from data_pipeline_001_spark.plans.pipeline import (
            PipelineConfig,
            WindowPipeline,
        )
        from data_pipeline_001_spark.sources.file_connectors import (
            DayPartitionedTableSink,
            FileSource,
            PartitionedParquetSink,
        )

        spark = ctx.spark
        root = os.path.join(self.data_dir, f"batch_{label}")
        source = FileSource(spark, self.events, ts_col="ts")
        stage = PartitionedParquetSink(spark, os.path.join(root, "stage"))
        target = DayPartitionedTableSink(spark, os.path.join(root, "target"))
        control = ControlTable(spark, os.path.join(root, "control"))
        cfg = PipelineConfig(pipeline_name="backfill", granularity="1h")
        pipe = WindowPipeline(spark, cfg, source, stage, target, control)
        self._instrument(ctx, control, source, {"stage": stage, "target": target}, pipe)
        ctx.tracer.trace_id = f"{self.start:%Y-%m-%d}#{label}"
        self._exec_group(ctx, label)
        t0 = _now()
        pipe.run_batch(self.start, self.end)
        dt = _now() - t0
        self.batches.append((control.path, target.root))
        return dt

    def warmup(self, ctx) -> None:
        self._batch(ctx, "warmup")

    def run_pass(self, ctx, n: int) -> list[Op]:
        return [Op(f"batch{n}", self._batch(ctx, str(n)), True, self.DAYS * 24)]

    def verify(self, ctx) -> None:
        """Every planned window of every batch must end completed and
        matched, and each target must hold DuckDB's count of the range."""
        con = _duck(ctx.work)
        want = con.execute(
            f"SELECT count(*) FROM read_parquet('{self.events}') "
            "WHERE ts >= ? AND ts < ?", [self.start, self.end],
        ).fetchone()[0]
        for control_path, target_root in self.batches:
            ctx.attempted += 1
            rows = self._control_rows(ctx, control_path)
            bad = [r for r in rows if r[1] != "completed" or r[2] != "matched"]
            if len(rows) != self.DAYS * 24 or bad:
                ctx.fail(
                    f"batch {control_path}: {len(rows)} windows, "
                    f"{len(bad)} not completed+matched"
                )
            got = con.execute(
                f"SELECT count(*) FROM read_parquet('{target_root}/**/*.parquet')"
            ).fetchone()[0]
            if got != want:
                ctx.fail(f"batch {target_root}: {got} target rows, DuckDB counts {want}")
        ctx.counters["control.rows_end"] = len(rows) if self.batches else 0
        con.close()


def _has_ancestor(spans, sp, idx: int) -> bool:
    p = sp.parent
    while p is not None:
        if p == idx:
            return True
        p = spans[p].parent
    return False


#: execution-dominated: scans, shuffles and joins; the bucketed twin
#: of q05 makes the orderkey-bucketed layout part of set-up
TPCH_QUERIES = (
    "q01_pricing_summary", "q03_shipping_priority", "q05_nation_revenue",
    "q10_returned_revenue", "q05_nation_revenue_bucketed",
    "join_range_events_buckets", "join_asof_events_spine",
    "agg_rollup_region_nation", "window_sessionization",
)

#: construction-dominated: building dedup_minhash_lsh launches driver
#: jobs and leaves the CacheManager non-empty; join_fuzzy_editdist1 and
#: similarity_bruteforce_topk are candidate-generation joins;
#: text_stats_by_lang is a Python UDF scan. Each query has a distinct
#: cost, so the median operation is one query's median over the passes.
CURATION_QUERIES = (
    "dedup_minhash_lsh", "join_fuzzy_editdist1", "similarity_bruteforce_topk",
    "text_stats_by_lang", "dedup_exact_fingerprint",
)


#: name → (class, constructor arguments, scale factor)
WORKLOADS = {
    "tpch_sf0.01": (QueryWorkload, (TPCH_QUERIES,), 0.01),
    "curation_sf0.01": (QueryWorkload, (CURATION_QUERIES,), 0.01),
    "ingest_hourly": (HourlyIngest, (), 0.1),
    "backfill_batch": (BackfillBatch, (), 0.1),
}


def make(name: str, sf: float | None = None):
    """A fresh instance of the workload called ``name``; ``sf``
    overrides its scale (the smoke test runs at sf0.001)."""
    if name not in WORKLOADS:
        raise KeyError(f"unknown workload {name!r}; known: {', '.join(WORKLOADS)}")
    cls, args, default_sf = WORKLOADS[name]
    return cls(name, *args, sf if sf is not None else default_sf)
