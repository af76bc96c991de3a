"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 12 --trace 0

Builds the program and the harness (perfbench/build.py), starts one JVM
for the workload, and prints as its last stdout line one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics of BENCHMARK.json with `--trace 0`, its per-layer metrics with
`--trace 1`. Exits 1 when a result was wrong, 2 when the run could not
be made.

The query workloads read the sf0.1 corpus from $SPARK_GRAFT_SF_DIR,
by default ~/testdata/sf0.1. The program keeps scratch data in
`graft.Scratch.dir`; it is emptied before the run and removed after it,
and what the run left there is reported as `core.scratch_left_mb`.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
DEADLINE_S = 170
HEAP = "4g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg: str) -> None:
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def tree_mb(path: Path) -> float:
    if not path.exists():
        return 0.0
    total = sum(f.stat().st_size for f in path.rglob("*") if f.is_file() and not f.is_symlink())
    return total / 1048576.0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    a = ap.parse_args()
    started = time.monotonic()

    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.is_file():
        fail("no BENCHMARK.json at the repository root")
    spec = json.loads(spec_file.read_text())
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    try:
        classes = build.build()
    except SystemExit as e:  # no sources, no Spark jars, or a failed compile
        fail(str(e.code).removeprefix("perfbench: "))
    built = time.monotonic()  # the deadline covers the run, not a first build
    manifest = ROOT / "results" / "cardinality_manifest.tsv"
    if not manifest.is_file():
        fail(f"no cardinality manifest at {manifest}")
    sf_dir = Path(os.environ.get("SPARK_GRAFT_SF_DIR", Path.home() / "testdata" / "sf0.1"))
    if a.workload != "sort_kernel" and not (sf_dir / "lineitem.parquet").is_file():
        fail(f"no corpus at {sf_dir} (set SPARK_GRAFT_SF_DIR)")

    work = build.BUILD / "runs" / f"{a.workload}-{a.seed}-trace{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{build.spark_jars()}/*", "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--sf-dir", str(sf_dir), "--manifest", str(manifest),
            "--work-dir", str(work)]
    log = work / "jvm.log"
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, cwd=ROOT)
        try:
            out, _ = proc.communicate(timeout=max(10.0, DEADLINE_S - (time.monotonic() - built)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            out = ""
            sys.stderr.write("perfbench: the run overran its deadline\n")
    sys.stdout.write(out)

    # The JVM empties the scratch directory when it starts and records
    # where it is; whatever is there now, the run left behind.
    scratch_file = work / "scratch_dir.txt"
    left_mb = 0.0
    if scratch_file.is_file():
        scratch = Path(scratch_file.read_text().strip())
        left_mb = tree_mb(scratch)
        shutil.rmtree(scratch, ignore_errors=True)
    result_file = work / "result.json"
    if proc.returncode != 0 or not result_file.is_file():
        sys.stderr.write("".join(log.read_text(errors="replace").splitlines(True)[-40:]))
        fail(f"the JVM exited with {proc.returncode} and no result; log in {log}")
    result = json.loads(result_file.read_text())
    result["per_layer"]["core.scratch_left_mb"] = {"value": left_mb, "unit": "MB"}

    declared = spec["per_layer"] if a.trace == "1" else spec["end_to_end"]
    got = result["per_layer"] if a.trace == "1" else result["end_to_end"]
    if sorted(got) != sorted(m["name"] for m in declared):
        fail(f"metric set differs from BENCHMARK.json: {sorted(set(got) ^ {m['name'] for m in declared})}")
    metrics = {}
    for m in declared:
        v = got[m["name"]]
        if v["unit"] != m["unit"]:
            fail(f"{m['name']} is in {v['unit']}, BENCHMARK.json says {m['unit']}")
        metrics[m["name"]] = {"value": v["value"], "unit": v["unit"]}
    print(f"[perfbench] fail_ratio={result['failed']}/{result['attempted']} "
          f"scratch_left_mb={left_mb:.3f} wall_s={time.monotonic() - started:.1f}")
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
