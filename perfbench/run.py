"""Run one benchmark workload in this process and print its metrics.

    python3 perfbench/run.py --workload curation_sf0.01 --seed 1 --seconds 16 --trace 0

Run it from the repository root. One run:

1. starts a session with the engine's ``get_spark`` on ``local[nproc]``;
2. sets the workload up ``SETUP_REPS`` times, each in a fresh
   directory (generated inputs, table registration, layouts or
   control-table seeding); ``setup_s`` is the median;
3. runs one untimed warm-up pass that also checks outputs against
   DuckDB, then ``WARM_PASSES`` untimed passes of the timed kind;
4. runs whole passes, at least ``MIN_PASSES`` and until ``--seconds``
   have elapsed or the workload's inputs are used up, timing each
   operation and pass;
5. checks what the passes wrote, then prints a summary and, as the
   last line, one JSON object ``{correct, attempted, failed, metrics}``.

``--trace 0`` reports the end-to-end metrics named in BENCHMARK.json,
``--trace 1`` the per-layer ones (spans around every layer call, read
back after the run). A full record of the run, with the environment,
sample counts and failures, goes to ``.perfbench_out/``. All scratch
files live under ``.perfbench_work/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time
from collections import Counter

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
#: after the check pass the driver-side JIT is still settling: the
#: next pass runs about a third slower than later ones, so it is run
#: untimed
WARM_PASSES = 1
#: a run that fitted only two passes would report their mean, and one
#: slow pass would move it
MIN_PASSES = 3

#: additive per-layer values are reported per pass; these are not
NOT_PER_PASS = {
    "session.start_s", "session.load_tables_s", "session.layout_s",
    "session.warmup_s", "cache.entries_left", "cache.bytes_left",
    "operators.candidate_yield", "audit.recounts_per_window",
    "audit.first_count_match_frac", "control.rows_end", "cache.entries_max",
}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _require_sources() -> None:
    missing = [
        p for p in ("data_pipeline_001_spark/__init__.py", "__spark_entry__.py",
                    "tools/check_oracle.py")
        if not os.path.isfile(os.path.join(ROOT, p))
    ]
    if missing:
        raise SystemExit(
            f"perfbench: run from a checkout of the engine; missing {', '.join(missing)}"
        )


class Ctx:
    """What a workload needs from the run: the session, the registry,
    the tracer, and the failure ledger."""

    def __init__(self, spark, seed: int, work: str, tracer, py4j):
        import __spark_entry__ as entry

        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.py4j = py4j
        self.registry = entry.queries()
        self.oracles = entry.oracle_sql()
        self.attempted = 0
        self.failures: list[str] = []
        self.counters: Counter = Counter()

    def fail(self, what: str) -> None:
        self.failures.append(what)


def _start_session(work: str, name: str):
    from data_pipeline_001_spark.session import get_spark

    nproc = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name=f"perfbench-{name}",
        master=f"local[{nproc}]",
        extra_conf={
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, nproc


def _stop_session(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _tail(samples: list[float]) -> tuple[float | None, float | None]:
    """The highest percentile with at least ten samples beyond it."""
    xs = sorted(samples)
    j = len(xs) - 11
    if j < 0:
        return None, None
    return xs[j], 100.0 * (j + 1) / len(xs)


def _source_digest() -> str:
    """SHA-256 over the engine's and the benchmark's Python sources:
    it names the code measured where there is no git commit, as in a
    plain checkout."""
    import hashlib

    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for top in ("data_pipeline_001_spark", "tools", "perfbench"):
        for d, _dirs, names in os.walk(os.path.join(ROOT, top)):
            paths += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for path in sorted(paths):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _env(seed: int, trace: int, nproc: int) -> dict:
    import duckdb
    import pyspark

    commit = None
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.exists(head):
        import subprocess

        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True,
        ).stdout.strip() or None
    return {
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "commit": commit,
        "source_digest": _source_digest(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
        "seed": seed,
        "trace": bool(trace),
        "driver_memory": os.environ["SPARK_DRIVER_MEM"],
    }


def execute(wl, seed: int, seconds: float, trace: bool) -> dict:
    """Run workload ``wl`` once; returns the run record."""
    import tracing

    scratch = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(scratch, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{wl.name}-", dir=scratch)
    # Python workers import the engine; scratch stays in the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    tracer = tracing.Tracer(trace)
    spark = None
    py4j = None
    try:
        t0 = time.perf_counter()
        spark, nproc = _start_session(work, wl.name)
        session_start = time.perf_counter() - t0
        if trace:
            py4j = tracing.Py4JCallCounter()
        ctx = Ctx(spark, seed, work, tracer, py4j)

        setups = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            parts = wl.setup(ctx, os.path.join(work, f"data{rep}"))
            setups.append((time.perf_counter() - t0, parts))
        t0 = time.perf_counter()
        wl.warmup(ctx)
        for n in range(WARM_PASSES):
            ctx.attempted += len(wl.run_pass(ctx, -1 - n))
        warmup_s = time.perf_counter() - t0
        first_op_s = time.perf_counter() - T_PROCESS

        ops, passes = [], []
        tracer.recording = True
        t_loop = time.perf_counter()
        while not wl.exhausted() and (
            len(passes) < MIN_PASSES or time.perf_counter() - t_loop < seconds
        ):
            t0 = time.perf_counter()
            ops.extend(wl.run_pass(ctx, len(passes)))
            passes.append(time.perf_counter() - t0)
        loop_s = time.perf_counter() - t_loop
        tracer.recording = False
        if trace:
            spark.sparkContext.setJobGroup("perfbench-verify", "verify")
        wl.verify(ctx)
        ctx.attempted += len(ops)
        layers = wl.layer_metrics(ctx) if trace else {}
        rss = tracing.peak_rss_mb(spark)
    finally:
        if py4j is not None:
            py4j.close()
        if spark is not None:
            _stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    ok_times = [op.seconds for op in ops if op.ok]
    tail, tail_pct = _tail(ok_times)
    setup_totals = [s for s, _p in setups]
    median_rep = setups[setup_totals.index(statistics.median_low(setup_totals))][1]
    record = {
        "workload": wl.name,
        "kind": "queries" if hasattr(wl, "queries") else "windows",
        "env": _env(seed, trace, nproc),
        "seconds": seconds,
        "e2e": {
            "setup_s": statistics.median(setup_totals),
            "op_p50_s": statistics.median(ok_times) if ok_times else float("nan"),
            "pass_s": statistics.median(passes),
        },
        "context": {
            "peak_rss_mb": rss,
            "op_tail_s": tail,
            "op_tail_percentile": tail_pct,
            "ops_per_s": sum(op.units for op in ops if op.ok) / loop_s,
            "fail_frac": len(ctx.failures) / max(ctx.attempted, 1),
            "process_start_to_first_op_s": first_op_s,
            "duckdb_check_s": getattr(wl, "duckdb_s", None),
            "setup_reps_s": setup_totals,
        },
        "samples": {"ops": len(ok_times), "passes": len(passes), "setup_reps": SETUP_REPS},
        "attempted": ctx.attempted,
        "failures": ctx.failures,
        "ops": [[op.name, op.seconds, op.ok] for op in ops],
        "pass_times": passes,
    }
    if trace:
        record["layers"] = _layer_values(
            tracer, layers, ctx.counters, len(passes),
            session_start=session_start, warmup_s=warmup_s, setup=median_rep,
        )
    record["tracer"] = tracer
    return record


def _layer_values(tracer, layers: dict, counters, n_passes: int, *, session_start,
                  warmup_s, setup) -> dict[str, float]:
    """Every per-layer value: span sums per name and layer self times,
    plus the workload's counts; additive values are per pass."""
    vals: dict[str, float] = Counter()
    for sp in tracer.spans:
        vals[f"{sp.name}.s"] += sp.end - sp.start
        vals[f"{sp.name}.calls"] += 1
    for layer, s in tracer.self_times().items():
        vals[f"self_s.{layer}"] = s
    vals.update(counters)
    vals.update(layers)
    out = {k: (v if k in NOT_PER_PASS else v / n_passes) for k, v in vals.items()}
    out.update({
        "session.start_s": session_start,
        "session.load_tables_s": setup["load_tables_s"] + setup["datagen_s"],
        "session.layout_s": setup["layout_s"],
        "session.warmup_s": warmup_s,
        "trace.spans": len(tracer.spans) / n_passes,
    })
    return out


#: names the per-layer list uses for span sums
ALIASES = {
    "source.count_s": "source.count.s",
    "source.extract_s": "source.extract.s",
    "sink.load_s": "sink.load.s",
    "sink.load_all_s": "sink.load_all.s",
    "sink.count_s": "sink.count.s",
    "sink.clean_s": "sink.clean.s",
    "pipeline.populate_s": "pipeline.populate.s",
    "pipeline.validate_s": "pipeline.validate_in_progress.s",
    "pipeline.pending_s": "pipeline.pending_records.s",
    "pipeline.run_window_s": "pipeline.run_window.s",
    "pipeline.run_batch_s": "pipeline.run_batch.s",
}


def metrics_for(record: dict, spec: dict, trace: bool) -> dict:
    if not trace:
        return {
            m["name"]: {"value": record["e2e"][m["name"]], "unit": m["unit"]}
            for m in spec["end_to_end"]
        }
    layers = record["layers"]
    out = {}
    for m in spec["per_layer"]:
        key = ALIASES.get(m["name"], m["name"])
        out[m["name"]] = {"value": float(layers.get(key, 0.0)), "unit": m["unit"]}
    return out


def _summary(record: dict) -> list[str]:
    """Human-readable lines, with the per-kind metric names (query_p50_s,
    window_p50_s, windows_per_s, ...) per workload."""
    e, c, n = record["e2e"], record["context"], record["samples"]
    name = record["workload"]
    lines = [f"perfbench {name} seed={record['env']['seed']} trace={int(record['env']['trace'])}"]
    rows = [("setup_s", e["setup_s"], "s"), ("peak_rss_mb", c["peak_rss_mb"], "MB")]
    if record["kind"] == "queries":
        rows += [
            ("query_p50_s", e["op_p50_s"], "s"),
            (f"query_tail_s (p{c['op_tail_percentile'] or 0:.0f}, n={n['ops']})",
             c["op_tail_s"], "s"),
            ("query_pass_s", e["pass_s"], "s"),
            ("duckdb_check_s (context)", c["duckdb_check_s"], "s"),
        ]
    else:
        rows += [("windows_per_s", c["ops_per_s"], "1/s"), ("pass_s", e["pass_s"], "s")]
        if name == "ingest_hourly":
            rows.append(("window_p50_s", e["op_p50_s"], "s"))
    rows.append(("fail_frac", c["fail_frac"], "ratio"))
    for label, value, unit in rows:
        shown = "n/a" if value is None else f"{value:.4f}"
        lines.append(f"  {label:34s} {shown:>12s} {unit}")
    for f in record["failures"]:
        lines.append(f"  FAILED: {f}")
    return lines


def write_outputs(record: dict, spec: dict, trace: bool) -> dict:
    """Write the run record (and spans) under ``.perfbench_out/`` and
    return the result line."""
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{record['workload']}-seed{record['env']['seed']}-trace{int(trace)}"
    tracer = record.pop("tracer")
    if trace:
        tracer.write_jsonl(os.path.join(out_dir, f"{stem}.spans.jsonl"))
    metrics = metrics_for(record, spec, trace)
    record["metrics"] = metrics
    with open(os.path.join(out_dir, f"{stem}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    return {
        "correct": not record["failures"],
        "attempted": record["attempted"],
        "failed": len(record["failures"]),
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    _require_sources()
    spec = _spec()
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), HERE]
    import workloads

    wl = workloads.make(args.workload)
    record = execute(wl, args.seed, args.seconds, bool(args.trace))
    result = write_outputs(record, spec, bool(args.trace))
    print("\n".join(_summary(record)))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
