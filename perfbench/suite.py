"""Run every benchmark workload, each run in a fresh driver process,
and print every metric by name and unit.

    python3 perfbench/suite.py                  # seed 1, untraced + traced
    python3 perfbench/suite.py --seeds 10 --first-seed 11 --traced 0
    python3 perfbench/suite.py --workloads backfill_batch

For each workload it runs ``run.py`` once per seed untraced and
``--traced`` more times traced, then prints:

- each end-to-end metric's median over the untraced runs, with the
  spread between its quartiles as a share of the median;
- the workload-level figures (query or window names, tail with its
  percentile and sample count, fail_frac, DuckDB check time);
- self time per layer from the traced run, as a share of one pass;
- tracing overhead: traced minus untraced median of each end-to-end
  metric.

The combined record goes to ``.perfbench_out/suite.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench_out")


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    with open(os.path.join(OUT, f"{workload}-seed{seed}-trace{trace}.json")) as fh:
        return json.load(fh)


def _spread(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def _summarize(spec: dict, workload: str, plain: list[dict], traced: list[dict]) -> dict:
    out: dict = {"workload": workload, "runs": len(plain), "e2e": {}, "context": {}}
    print(f"\n== {workload}  ({len(plain)} untraced, {len(traced)} traced runs)")
    for m in spec["end_to_end"]:
        vals = [r["e2e"][m["name"]] for r in plain]
        med = statistics.median(vals)
        out["e2e"][m["name"]] = {"median": med, "spread": _spread(vals), "values": vals}
        print(f"  {m['name']:28s} {med:12.4f} {m['unit']:6s} "
              f"IQR/median {_spread(vals):.3f} (bound {m['bound']})")
    ctx_keys = ("op_tail_s", "op_tail_percentile", "ops_per_s", "fail_frac",
                "peak_rss_mb", "duckdb_check_s")
    for k in ctx_keys:
        vals = [r["context"][k] for r in plain if r["context"][k] is not None]
        if vals:
            out["context"][k] = statistics.median(vals)
            print(f"  {k:28s} {statistics.median(vals):12.4f} (median, context)")
    samples = [r["samples"]["ops"] for r in plain]
    print(f"  samples per run: ops {min(samples)}-{max(samples)}, "
          f"passes {min(r['samples']['passes'] for r in plain)}-"
          f"{max(r['samples']['passes'] for r in plain)}")
    failures = sorted({f for r in plain + traced for f in r["failures"]})
    out["failures"] = failures
    for f in failures:
        print(f"  FAILED: {f}")
    if traced:
        layers = traced[0]["layers"]
        pass_s = statistics.median(traced[0]["pass_times"])
        selfs = {k[len("self_s."):]: v for k, v in layers.items() if k.startswith("self_s.")}
        out["self_s"] = selfs
        print(f"  self time per layer (traced, per pass of {pass_s:.2f} s):")
        for layer, s in sorted(selfs.items(), key=lambda kv: -kv[1]):
            print(f"    {layer:12s} {s:8.3f} s  {s / pass_s:6.1%}")
        out["overhead"] = {}
        for m in spec["end_to_end"]:
            t = statistics.median(r["e2e"][m["name"]] for r in traced)
            d = t - out["e2e"][m["name"]]["median"]
            out["overhead"][m["name"]] = d
            print(f"  tracing overhead {m['name']:18s} {d:+10.4f} {m['unit']}")
        out["layers"] = layers
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=int, default=1, help="untraced runs, one per seed")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--traced", type=int, default=1, help="traced runs per workload")
    ap.add_argument("--workloads", default="", help="comma list; default BENCHMARK.json's")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    report = []
    for name in names:
        seeds = range(args.first_seed, args.first_seed + max(args.seeds, args.traced))
        plain = [_run(name, s, spec["run_seconds"], 0) for s in seeds[:args.seeds]]
        traced = [_run(name, s, spec["run_seconds"], 1) for s in seeds[:args.traced]]
        report.append(_summarize(spec, name, plain, traced))
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "suite.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    return 1 if any(r["failures"] for r in report) else 0


if __name__ == "__main__":
    sys.exit(main())
