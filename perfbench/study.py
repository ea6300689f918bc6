"""Steadiness study: repeated runs of one workload over several seeds.

    python3 perfbench/study.py --workload draft_day --seeds 1-10 --out perfbench/results/steady_draft_day.json

Runs ``run.py`` once per seed (sequentially, each in its own process),
then records, per metric, every value, the median, the quartiles
(``statistics.quantiles(values, n=4)``) and the spread
``(q3 - q1) / median``, for the result's metrics and for the
figures of each run's context line that are not gated (``CONTEXT``).
Each run's context (passes, steal, GC, per-op medians) is kept with
it. Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))

#: context figures whose spread is recorded too: candidates for the
#: end-to-end list and the run's host and GC conditions
CONTEXT = ("suite_s", "build_s", "setup_cpu_s", "refresh_p50_ms", "refresh_p90_ms", "write_p50_ms",
           "peak_rss_mb", "seed_state_s", "steal_pct", "jvm_gc_s")


def _run_seconds() -> int:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)["run_seconds"]


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0,
            "values": values}


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="inclusive range, e.g. 1-10")
    p.add_argument("--seconds", type=int, default=_run_seconds())
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)

    runs = []
    for seed in _seeds(args.seeds):
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            capture_output=True, text=True, timeout=600)
        wall = time.time() - t0
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
        context = next((json.loads(line) for line in reversed(proc.stderr.splitlines())
                        if line.startswith('{"context"')), None)
        failures = [line for line in proc.stderr.splitlines() if line.startswith("FAILED")]
        runs.append({"seed": seed, "wall_s": wall, "returncode": proc.returncode,
                     "result": result, "context": context, "failures": failures})
        brief = {k: round(v["value"], 4) for k, v in (result or {}).get("metrics", {}).items()
                 if not args.trace}
        print(f"seed {seed}: rc={proc.returncode} wall={wall:.1f}s "
              f"correct={result and result['correct']} {brief}", flush=True)

    ok = [r["result"] for r in runs if r["result"]]
    metrics = {name: summarize([r["metrics"][name]["value"] for r in ok])
               for name in (ok[0]["metrics"] if ok else {})}
    contexts = [r["context"]["context"] for r in runs if r["context"]]
    for c in contexts:
        c["peak_rss_mb"] = c["jvm_peak_rss_mb"] + c["py_peak_rss_mb"]
    context = {name: summarize([c[name] for c in contexts])
               for name in CONTEXT if any(c.get(name) for c in contexts)}
    study = {"workload": args.workload, "seconds": args.seconds, "trace": args.trace,
             "all_correct": len(ok) == len(runs) and all(r["correct"] for r in ok),
             "metrics": metrics, "context": context, "runs": runs}
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(study, f, indent=1)
    for name, m in {**metrics, **context}.items():
        print(f"{name}: median {m['median']:.4f} q1 {m['q1']:.4f} q3 {m['q3']:.4f} "
              f"spread {m['spread']:.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
