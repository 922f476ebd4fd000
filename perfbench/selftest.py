"""Self-test of the benchmark at a tiny input size.

    python3 perfbench/selftest.py

Run from the repository root. For every workload it runs the benchmark
once untraced and once traced, and checks that every metric named in
BENCHMARK.json is printed with its unit, that no operation failed
(error rate 0), and that the traced run's spans nest. It prints the
tracing overhead as traced minus untraced wall time of a run. Exits 1
on any failure.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import tracing  # noqa: E402
from workloads import SIZES  # noqa: E402


def _run(workload: str, trace: int) -> tuple[dict, str]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "1", "--seconds", "1", "--trace", str(trace),
         "--size", "tiny"],
        capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} trace={trace} exited "
                           f"{p.returncode}:\n{p.stderr[-3000:]}")
    return json.loads(lines[-1]), p.stderr


def _metric_errors(result: dict, wanted: list[dict]) -> list[str]:
    errs = []
    got = result["metrics"]
    for m in wanted:
        v = got.get(m["name"])
        if v is None:
            errs.append(f"metric {m['name']} not printed")
        elif v.get("unit") != m["unit"] or not isinstance(
                v.get("value"), (int, float)):
            errs.append(f"metric {m['name']} printed as {v}")
    extra = set(got) - {m["name"] for m in wanted}
    if extra:
        errs.append(f"metrics not in BENCHMARK.json: {sorted(extra)}")
    if not result["correct"] or result["failed"] != 0 \
            or result["attempted"] < 1:
        errs.append(f"error rate is not 0: correct={result['correct']} "
                    f"failed={result['failed']} "
                    f"attempted={result['attempted']}")
    return errs


def main() -> int:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    failures = 0
    for w in sorted(SIZES):
        errs = []
        try:
            plain, plain_err = _run(w, 0)
            traced, err = _run(w, 1)
        except RuntimeError as e:
            print(f"FAIL {w}: {e}")
            failures += 1
            continue
        errs += _metric_errors(plain, bench["end_to_end"])
        errs += _metric_errors(traced, bench["per_layer"])
        dump = next((ln.split(": ", 1)[1] for ln in err.splitlines()
                     if ln.startswith("spans: ")), None)
        if dump is None:
            errs.append("traced run wrote no span dump")
        else:
            with open(dump) as f:
                spans = json.load(f)["spans"]
            errs += tracing.nesting_errors(spans)
        walls = next(json.loads(ln) for ln in plain_err.splitlines()
                     if ln.startswith('{"setup_s"'))["wall_s"]
        overhead = (traced["metrics"]["run.wall_s"]["value"]
                    - statistics.median(walls))
        print(f"{'FAIL' if errs else 'ok  '} {w}: tracing overhead "
              f"(traced - untraced wall) {overhead:+.3f} s, tracer "
              f"bookkeeping "
              f"{traced['metrics']['trace.overhead_s']['value']:.3f} s")
        for e in errs:
            print(f"     {e}")
        failures += bool(errs)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
