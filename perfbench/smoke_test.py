"""Smoke test of the benchmark itself, at sf0.001 with the shortest run.

    python3 perfbench/smoke_test.py [workload ...]   # default: all four

Checks, for every workload (registered in BENCHMARK.json or runnable
by name):

- the untraced run prints every end-to-end metric and the traced run
  every per-layer metric, each with its unit, and both record the same
  end-to-end metric names;
- a clean run reports no failure;
- a deliberately wrong query result (curation, tpch) and a dropped
  window (ingest_hourly) show up in ``fail_frac``.

Each run is a fresh driver process (engine module state must not
carry from one run to the next). Exits non-zero if any check failed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.join(os.path.dirname(HERE), "tools"), HERE]

import run  # noqa: E402
import workloads  # noqa: E402

SF = 0.001
SECONDS = 1.0


def _child(name: str, trace: str, fault: str) -> None:
    """In a fresh process: one run with the fault set, record to stdout."""
    wl = workloads.make(name, sf=SF)
    for attr, value in json.loads(fault).items():
        setattr(wl, attr, value)
    record = run.execute(wl, seed=7, seconds=SECONDS, trace=trace == "1")
    record.pop("tracer")
    print(json.dumps(record, default=str))


def _run(name: str, trace: bool, **fault) -> dict:
    proc = subprocess.run(
        [sys.executable, __file__, "--child", name, str(int(trace)), json.dumps(fault)],
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, f"{name}: run exited {proc.returncode}\n{proc.stderr[-2000:]}"
    return json.loads(proc.stdout.splitlines()[-1])


def _check_names(record: dict, spec: dict, trace: bool) -> None:
    section = "per_layer" if trace else "end_to_end"
    metrics = run.metrics_for(record, spec, trace)
    for m in spec[section]:
        got = metrics.get(m["name"])
        assert got is not None, f"{record['workload']}: {m['name']} missing"
        assert got["unit"] == m["unit"], f"{record['workload']}: {m['name']} unit"
        assert isinstance(got["value"], float), f"{record['workload']}: {m['name']} value"


def _check(name: str, spec: dict, fault: dict) -> None:
    plain = _run(name, trace=False)
    _check_names(plain, spec, trace=False)
    traced = _run(name, trace=True, **fault)
    _check_names(traced, spec, trace=True)
    assert set(traced["e2e"]) == set(plain["e2e"]), f"{name}: e2e names differ"
    if fault:
        assert traced["context"]["fail_frac"] > 0, f"{name}: injected fault not counted"
    assert not plain["failures"], f"{name}: clean run failed: {plain['failures'][:3]}"
    print(f"ok    {name}: {len(spec['end_to_end'])} end-to-end and "
          f"{len(spec['per_layer'])} per-layer metrics; "
          f"fail_frac clean={plain['context']['fail_frac']:.3f} "
          f"traced={traced['context']['fail_frac']:.3f}", flush=True)


def main(names: list[str]) -> int:
    """Check every workload; a failed check is printed and the next
    workload still runs."""
    spec = run._spec()
    faults = {
        "curation_sf0.01": {"corrupt": "text_stats_by_lang"},
        "tpch_sf0.01": {"corrupt": "q01_pricing_summary"},
        # the fifth target load, in the first timed pass, which holds
        # rows at this scale and seed
        "ingest_hourly": {"drop_window": 5},
    }
    failed = 0
    for name in names or workloads.WORKLOADS:
        try:
            _check(name, spec, faults.get(name, {}))
        except AssertionError as exc:
            failed += 1
            print(f"FAIL  {exc}", flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    if sys.argv[1:2] == ["--child"]:
        _child(*sys.argv[2:5])
        sys.exit(0)
    sys.exit(main(sys.argv[1:]))
