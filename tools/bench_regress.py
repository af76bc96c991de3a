#!/usr/bin/env python3
"""Per-round bench regression gate (VERDICT r5 item 2).

Correctness is oracle-gated every round; the remaining silent failure
mode is perf drift, which round 5 only the judge caught (d5 3x). This
tool keeps a committed per-round, per-cell history and flags any cell
that got meaningfully slower than its previous round.

Usage:
  bench_regress.py record <round> [bench_json]   # default results/bench_local.json
  bench_regress.py check  [round]                # default: latest recorded round
  bench_regress.py probe  [round] [sfDir]        # auto-adjudicate check's flags:
                                                 # Probe warm floors per flagged
                                                 # query cell -> BENCH_NOTES.md

`record` parses the bench metrics line (queries + skew_queries seconds,
sort_sweep_us microseconds) and MIN-MERGES into that round's rows in
results/bench_history.csv (round,cell,unit,value): a cell already
recorded for the round keeps the smaller value. Same-round re-records
happen when later runs add queries, and the host's throughput windows
mean a re-record can land 15-50% slow across the board — replacing
good baselines with window-inflated ones would let a real next-round
regression hide inside the slack (min-of-runs is also the sweep's
documented estimator). Pass --replace to overwrite instead (e.g. after
a deliberate fixture change that makes cells slower for real).
`check` compares each
cell of <round> against the most recent earlier round that has the cell,
and flags ratio > 1.5 with an absolute-floor guard (0.15 s / 500 us) so
scheduler jitter on near-zero cells can't trip the gate. Exit code 1 on
any flagged regression, 0 otherwise.

A flag is a PROMPT TO PROBE (graft.bench.Probe <cell>), not proof of a
regression: this host's minute-scale throughput windows swing ~1.5x, so
cells near 1 s occasionally trip the ratio on no code change. A real
regression reproduces in the probe's warm iterations; window noise
does not.
"""
import csv, json, os, sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HIST = os.path.join(ROOT, "results", "bench_history.csv")
RATIO = 1.5
FLOOR = {"sec": 0.15, "us": 500.0}


def load_hist():
    rows = []
    if os.path.exists(HIST):
        with open(HIST) as f:
            for r in csv.DictReader(f):
                rows.append({"round": int(r["round"]), "cell": r["cell"],
                             "unit": r["unit"], "value": float(r["value"])})
    return rows


def save_hist(rows):
    os.makedirs(os.path.dirname(HIST), exist_ok=True)
    with open(HIST, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["round", "cell", "unit", "value"])
        for r in sorted(rows, key=lambda r: (r["round"], r["unit"], r["cell"])):
            w.writerow([r["round"], r["cell"], r["unit"], "%.4f" % r["value"]])


def parse_bench(path):
    """Extract per-cell rows from a bench metrics JSON line (or a driver
    BENCH_r*.json whose `parsed` field holds the same object).

    Bench emits TWO lines since round 9 (detail + per-family summary);
    pick the line with the most query cells — taking the LAST line
    silently recorded the 8 summary aggregates as the round's cells and,
    because `record` replaces the round's rows, destroyed its detailed
    minima (round-9 session-2 incident; restored from git)."""
    with open(path) as f:
        text = f.read()
    try:
        # driver BENCH_r*.json is pretty-printed multi-line JSON — parse
        # the whole file first; per-line parsing would JSONDecodeError on
        # its interior lines (and on any blank line in a bench dump)
        candidates = [json.loads(text)]
    except json.JSONDecodeError:
        candidates = []
        for l in text.splitlines():
            l = l.strip()
            if not l:
                continue
            try:
                candidates.append(json.loads(l))
            except json.JSONDecodeError:
                continue
    if not candidates:
        sys.exit(f"no parseable JSON in {path}")
    d = max(candidates, key=lambda c: len(c.get("queries", {})) if isinstance(c, dict) else -1)
    if not isinstance(d, dict):
        sys.exit(f"no JSON object found in {path}")
    if "queries" not in d and isinstance(d.get("parsed"), dict):
        d = d["parsed"]
    cells = []
    for k, v in d.get("queries", {}).items():
        if v >= 0:
            cells.append((k, "sec", v))
    for k, v in d.get("skew_queries", {}).items():
        if v >= 0:
            cells.append((k, "sec", v))
    for k, v in d.get("sort_sweep_us", {}).items():
        cells.append((k, "us", v))
    if not cells:
        sys.exit(f"no cells found in {path}")
    return cells


def record(rnd, path, replace=False):
    cells = parse_bench(path)
    rows = [r for r in load_hist() if r["round"] != rnd]
    prior = {} if replace else {
        r["cell"]: r["value"] for r in load_hist() if r["round"] == rnd}
    merged = 0
    new_rows = []
    for c, u, v in cells:
        if c in prior and prior[c] < v:
            v = prior[c]
            merged += 1
        new_rows.append({"round": rnd, "cell": c, "unit": u, "value": v})
    rows += new_rows
    save_hist(rows)
    kept = f", kept {merged} faster prior values" if merged else ""
    print(f"[bench_regress] recorded round {rnd}: {len(cells)} cells{kept} -> {HIST}")


def flags_for(rnd, rows):
    """The check gate's core, reusable: (resolved_round, flagged, missing,
    compared). flagged rows are (cell, prev_round, prev_value, value, unit)."""
    rounds = sorted({r["round"] for r in rows})
    if rnd is None:
        rnd = rounds[-1]
    cur = {r["cell"]: r for r in rows if r["round"] == rnd}
    if not cur:
        sys.exit(f"round {rnd} not in history (have {rounds})")
    # Disappeared cells are the MOST silent failure: a dropped/renamed
    # query or a vanished sweep family would otherwise pass with fewer
    # "cells compared" and exit 0.
    prev_rounds = [r for r in rounds if r < rnd]
    missing = []
    if prev_rounds:
        prev_cells = {r["cell"] for r in rows if r["round"] == prev_rounds[-1]}
        missing = sorted(prev_cells - set(cur))
    flagged = []
    compared = 0
    for cell, r in sorted(cur.items()):
        prev = [p for p in rows if p["cell"] == cell and p["round"] < rnd]
        if not prev:
            continue
        p = max(prev, key=lambda p: p["round"])
        compared += 1
        worse = r["value"] - p["value"]
        if r["value"] > RATIO * p["value"] and worse > FLOOR[r["unit"]]:
            flagged.append((cell, p["round"], p["value"], r["value"], r["unit"]))
    return rnd, flagged, missing, compared


def check(rnd):
    rows = load_hist()
    if not rows:
        sys.exit(f"no history at {HIST}; run `record` first")
    rnd, flagged, missing, compared = flags_for(rnd, rows)
    prev_round = max((r["round"] for r in rows if r["round"] < rnd), default=None)
    for cell in missing:
        print(f"MISSING    {cell}: present in round {prev_round}, absent in round {rnd}")
    for cell, pr, pv, v, unit in flagged:
        print("REGRESSION %-40s r%d %.3f -> r%d %.3f %s (%.1fx)"
              % (cell, pr, pv, rnd, v, unit, v / pv))
    print(f"== round {rnd}: {compared} cells compared, {len(flagged)} regressed, "
          f"{len(missing)} missing (gate: >{RATIO}x and >+{FLOOR['sec']}s/{FLOOR['us']:.0f}us) ==")
    sys.exit(1 if (flagged or missing) else 0)


# Probe verdict thresholds: a warm floor within NOISE_BAND of the cell's
# historical best is the documented host-window signature; above
# RATIO x best it reproduces outside any observed window swing.
NOISE_BAND = 1.35
PROBE_SF = "/root/testdata/sf0.1"
NOTES = os.path.join(ROOT, "results", "BENCH_NOTES.md")


def _probe_cell(cell, sf):
    """Run graft.bench.Probe for one cell (a skew_* cell runs over the
    skew fixture); return (floor_sec, iters) or (None, err_line).
    Floor = min of iters 2..3 (iter 1 pays session index builds)."""
    import re, subprocess
    pkgs = ("java.lang java.lang.invoke java.lang.reflect java.io java.net "
            "java.nio java.util java.util.concurrent java.util.concurrent.atomic "
            "sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar").split()
    addopens = [a for p in pkgs for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = (["java"] + addopens +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Xmx8g",
            "-cp", f"{ROOT}/target/scala-2.13/classes:/opt/spark/jars/*",
            "graft.bench.Probe", cell, sf])
    try:
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=1200)
    except subprocess.TimeoutExpired:
        return None, "probe timed out (1200s)"
    iters = [float(m.group(1)) for m in
             re.finditer(r"iter \d+: ([0-9.]+) s", out.stdout)]
    if len(iters) < 2:
        tail = (out.stdout + out.stderr).strip().splitlines()
        return None, (tail[-1][:160] if tail else f"no iters (exit {out.returncode})")
    return min(iters[1:]), iters


def probe(rnd, sf=PROBE_SF):
    """Auto-adjudicate this round's check flags (VERDICT r12 item 5):
    for each flagged query cell, run Probe warm iterations and compare
    the floor against the cell's historical best. Appends a verdict
    table to results/BENCH_NOTES.md; exits 1 only if a flag REPRODUCES
    above the gate ratio in the probe (a real regression candidate)."""
    rows = load_hist()
    if not rows:
        sys.exit(f"no history at {HIST}; run `record` first")
    rnd, flagged, missing, _ = flags_for(rnd, rows)
    sec_flags = [f for f in flagged if f[4] == "sec"]
    skipped = [f for f in flagged if f[4] != "sec"]
    if not flagged and not missing:
        print(f"[bench_regress] round {rnd}: no flags to probe")
        return
    lines = [f"\n### r{rnd} bench-flag auto-adjudication (`bench_regress probe`, sf={sf})\n",
             "| cell | window (prev -> cur) | probe floor | hist best | verdict |",
             "|---|---|---|---|---|"]
    real = []
    for cell, pr, pv, v, unit in sec_flags:
        best = min(p["value"] for p in rows if p["cell"] == cell)
        floor, detail = _probe_cell(cell, sf)
        if floor is None:
            verdict = f"probe-error: {detail}"
        elif floor <= NOISE_BAND * best:
            verdict = "window noise (floor reproduces hist best)"
        elif floor <= RATIO * best:
            verdict = "window band (floor within gate ratio of best)"
        else:
            verdict = f"REAL candidate ({floor / best:.1f}x hist best)"
            real.append(cell)
        print(f"{cell}: window r{pr} {pv:.2f}->{v:.2f}s, "
              f"floor {'%.2f' % floor if floor is not None else '-'}s, "
              f"best {best:.2f}s -> {verdict}")
        lines.append(f"| {cell} | r{pr} {pv:.2f}s -> r{rnd} {v:.2f}s | "
                     f"{'%.2f' % floor + 's' if floor is not None else '-'} | "
                     f"{best:.2f}s | {verdict} |")
    for cell, pr, pv, v, unit in skipped:
        lines.append(f"| {cell} | r{pr} {pv:.0f}{unit} -> r{rnd} {v:.0f}{unit} | - | - | "
                     "not a query cell (probe via SortSweep windows) |")
    for cell in missing:
        lines.append(f"| {cell} | MISSING this round | - | - | investigate rename/drop |")
    with open(NOTES, "a") as f:
        f.write("\n".join(lines) + "\n")
    print(f"[bench_regress] adjudication appended to {NOTES}; "
          f"{len(real)} real candidate(s), {len(missing)} missing")
    sys.exit(1 if (real or missing) else 0)


if __name__ == "__main__":
    if len(sys.argv) < 2 or sys.argv[1] not in ("record", "check", "probe"):
        sys.exit(__doc__)
    if sys.argv[1] == "record":
        args = [a for a in sys.argv[2:] if a != "--replace"]
        rnd = int(args[0])
        path = args[1] if len(args) > 1 else os.path.join(ROOT, "results", "bench_local.json")
        record(rnd, path, replace="--replace" in sys.argv)
    elif sys.argv[1] == "check":
        check(int(sys.argv[2]) if len(sys.argv) > 2 else None)
    else:
        args = sys.argv[2:]
        rnd = int(args[0]) if args else None
        sf = args[1] if len(args) > 1 else PROBE_SF
        probe(rnd, sf)
