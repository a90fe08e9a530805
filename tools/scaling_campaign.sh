#!/bin/bash
# Round-3 scaling campaign: clean baseline matrix + 2->8 sink/Arrow hook
# experiments + matched-profile envelope, run sequentially so no experiment
# pollutes another. Outputs one JSON per experiment under /tmp/scaling_r3/.
set -u
cd "$(dirname "$0")/.."
OUT=/tmp/scaling_r3
mkdir -p $OUT

echo "[campaign] baseline full matrix" >&2
BENCH_PAGES_N=4000000 BENCH_LEVELS=1,2,4,8 BENCH_ROUNDS=3 \
  python tools/bench_scaling.py > $OUT/baseline.json 2> $OUT/baseline.err

echo "[campaign] exp zstd3+page1m (compression CPU scales with cores; output bytes don't)" >&2
SPARK_GRAFT_ZSTD_LEVEL=3 SPARK_GRAFT_PAGE_KB=1024 \
  BENCH_PAGES_N=4000000 BENCH_LEVELS=2,8 BENCH_ROUNDS=3 \
  python tools/bench_scaling.py > $OUT/zstd3.json 2> $OUT/zstd3.err

echo "[campaign] exp arrow2048 (smaller Arrow batches: cache working set at high core counts)" >&2
SPARK_GRAFT_ARROW_BATCH=2048 \
  BENCH_PAGES_N=4000000 BENCH_LEVELS=2,8 BENCH_ROUNDS=3 \
  python tools/bench_scaling.py > $OUT/arrow2048.json 2> $OUT/arrow2048.err

echo "[campaign] matched-profile envelope (r3 kernel)" >&2
python tools/bench_envelope.py > $OUT/envelope.json 2> $OUT/envelope.err

echo "[campaign] done" >&2
