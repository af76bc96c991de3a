"""Runs a set of benchmark runs and reports each metric's spread.

    python3 perfbench/spread.py --workload olap_llm --seeds 1-10
    python3 perfbench/spread.py --workload olap_llm --seeds 1-3 --trace 1

Each run uses its own seed. For every metric the set prints the median,
the first and third quartiles (`statistics.quantiles(values, n=4)`) and
the spread, (q3 - q1) / median, next to the metric's bound from
BENCHMARK.json; and for every run its `host.noise_cal_ms` at start and
end, so a wide set can be told apart from co-tenant load. The set is
saved under .bench_build/sets; once an untraced and a traced set of a
workload exist, the tracing overhead (traced `trace.pass_s` minus
untraced `pass_s`, medians) is printed too.
"""
import argparse
import json
import re
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SETS = ROOT / ".bench_build" / "sets"


def seeds(spec: str) -> list:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}

    runs = []
    for s in seeds(a.seeds):
        cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", a.workload,
               "--seed", str(s), "--seconds", str(spec["run_seconds"]), "--trace", a.trace]
        done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, cwd=ROOT)
        lines = done.stdout.strip().splitlines()
        if done.returncode != 0 or not lines:
            print(f"seed {s}: exit {done.returncode}")
            continue
        result = json.loads(lines[-1])
        cal = re.findall(r"host\.noise_cal_ms (start|end)=([\d.]+)", done.stdout)
        runs.append({"seed": s, "result": result, "cal": dict(cal)})
        m = result["metrics"]
        key = "pass_s" if "pass_s" in m else "trace.pass_s"
        print(f"seed {s}: correct={result['correct']} {key}={m[key]['value']:.3f} "
              f"noise_cal_ms start={runs[-1]['cal'].get('start')} end={runs[-1]['cal'].get('end')}",
              flush=True)
    if not runs:
        sys.exit("no run succeeded")
    SETS.mkdir(parents=True, exist_ok=True)
    (SETS / f"{a.workload}-trace{a.trace}.json").write_text(json.dumps(runs, indent=1))

    names = list(runs[0]["result"]["metrics"])
    print(f"\n{a.workload}, {len(runs)} runs, trace {a.trace}")
    print(f"{'metric':<56} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7} {'bound':>6}")
    for n in names:
        vals = [r["result"]["metrics"][n]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else 0.0
        b = bounds.get(n)
        flag = "" if b is None else ("  ok" if spread < b / 3 else ("  within bound" if spread <= b else "  WIDE"))
        print(f"{n:<56} {med:>12.4f} {q1:>12.4f} {q3:>12.4f} {spread:>7.3f} "
              f"{'' if b is None else b:>6}{flag}")

    plain, traced = SETS / f"{a.workload}-trace0.json", SETS / f"{a.workload}-trace1.json"
    if plain.is_file() and traced.is_file():
        p = statistics.median(r["result"]["metrics"]["pass_s"]["value"] for r in json.loads(plain.read_text()))
        t = statistics.median(r["result"]["metrics"]["trace.pass_s"]["value"]
                              for r in json.loads(traced.read_text()))
        print(f"\ntracing overhead: traced pass_s {t:.3f} - untraced pass_s {p:.3f} = {t - p:+.3f} s "
              f"({(t - p) / p:+.1%})")


if __name__ == "__main__":
    main()
