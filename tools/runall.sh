#!/usr/bin/env bash
# Equivalent of the reference's runall.sh (/root/reference/runall.sh:1-8):
# sweep every case over the published batch-size range and emit the
# CSV + PNG charts into results/.
#
# Reference protocol: 250 -> 100000 step 500, 50 iters. That is 200
# sizes x 4 cases; pass a coarser step (arg 1) / fewer iters (arg 2)
# for bounded wall-clock runs (defaults below sample every ~5k rows).
set -euo pipefail
cd "$(dirname "$0")/.."

STEP="${1:-4750}"
ITERS="${2:-30}"

ADDOPENS=$(for p in java.lang java.lang.invoke java.lang.reflect java.io \
  java.net java.nio java.util java.util.concurrent \
  java.util.concurrent.atomic sun.nio.ch sun.nio.cs sun.security.action \
  sun.util.calendar; do echo --add-opens java.base/$p=ALL-UNNAMED; done)

for case in utf8-tuple mixed-tuple dictionary-tuple mixed-dictionary-tuple; do
  java $ADDOPENS -Dspark.ui.enabled=false -Xmx8g \
    -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
    graft.bench.SortSweep --case "$case" \
    --begin 250 --end 100000 --step-size "$STEP" --iters "$ITERS" \
    --out results 2>/dev/null
done

# parquet-dictionary variants (SURVEY §7.3): same sweep over batches
# round-tripped through dictionary-encoded parquet
for case in dictionary-tuple mixed-dictionary-tuple; do
  java $ADDOPENS -Dspark.ui.enabled=false -Xmx8g \
    -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
    graft.bench.SortSweep --case "$case" --parquet \
    --begin 250 --end 100000 --step-size "$STEP" --iters "$ITERS" \
    --out results 2>/dev/null
done

# merge-experiment cells (the sort-merge question the reference
# scaffolds in src/data.rs:245-294 but never runs): k-way merge of 8
# scattered sorted streams vs full re-sort, per case
for case in utf8-tuple mixed-tuple dictionary-tuple mixed-dictionary-tuple; do
  java $ADDOPENS -Dspark.ui.enabled=false -Xmx8g \
    -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
    graft.bench.SortSweep --case "$case" --merge \
    --begin 250 --end 100000 --step-size "$STEP" --iters "$ITERS" \
    --out results 2>/dev/null
done
