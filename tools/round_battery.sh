#!/bin/bash
# Round-end evidence battery (the standing step since r9/r10): the full
# oracle gate across every robustness axis, plus the test suite, each
# logged to a committed artifact. Run at final HEAD on an otherwise
# idle box: ./tools/round_battery.sh r11
#
# Axes (all via tools/gate_check.py, a vanilla SparkSession):
#   1. UTC sf0.01 full registry (the driver's own gate semantics)
#   2. TZ robustness: America/New_York session timezone
#   3. sf0.1 scale-up for the scalable-oracle entries (the entries
#      tagged "quadratic" in plans/catalog.py's entry table are left
#      out: their DuckDB oracles are deliberately quadratic/exhaustive
#      baselines -- infeasible at sf0.1 by design)
#   4. sf0.001 scale-down (degenerate groups/windows/bands)
#   5. AQE + whole-stage codegen OFF
#   6. ANSI mode flipped (Spark 4 defaults it ON, so the axis is OFF)
#   7. single-partition shuffle layout (spark.sql.shuffle.partitions=1)
#   8. legacy Arrow batch size 7 -- FULL registry since r11 (r10 ran
#      only the 19 Arrow-dependent entries; VERDICT r10 #6)
#   9. row-shuffled input (new r11): every table rewritten in
#      deterministic pseudo-random row order (tools/make_shuffled_sf.py)
#      -- proves no entry depends on input row order (window
#      tie-breaks, collect_list assumptions, arrival-order argmax)
#  10. half-hour-offset TZ (new r12): Asia/Kolkata (+05:30). A
#      whole-hour western axis (New_York) can miss session-TZ literal
#      parses whose shift direction lands in a rowless gap; the first
#      Kolkata run caught exactly that (pricing_summary's cutoff
#      literal excluded the 26 midnight-valued boundary rows; fixed
#      with utc_ts_lit)
set -u
R="${1:?usage: round_battery.sh rNN}"
cd "$(dirname "$0")/.."

SF01_ONLY=$(python -c '
from data_engineering_bootcamp_spark.plans.catalog import QUERIES, tagged
excl = set(tagged("quadratic"))
print(" ".join(n for n in QUERIES if n not in excl))')

run() { # run <logfile> <args...>
  local log="$1"; shift
  echo "=== $log: gate_check $*"
  python tools/gate_check.py "$@" >"$log" 2>&1
  echo "exit=$?" >>"$log"
  tail -2 "$log"
}

run "GATECHECK_${R}.log"        /root/testdata/sf0.01
run "GATECHECK_tz_${R}.log"     --tz=America/New_York /root/testdata/sf0.01
run "GATECHECK_tzhalf_${R}.log" --tz=Asia/Kolkata /root/testdata/sf0.01
# shellcheck disable=SC2086
run "GATECHECK_sf01_${R}.log"   /root/testdata/sf0.1 $SF01_ONLY
run "GATECHECK_sf0001_${R}.log" /root/testdata/sf0.001
run "GATECHECK_noaqe_${R}.log"  --conf=spark.sql.adaptive.enabled=false \
    --conf=spark.sql.codegen.wholeStage=false /root/testdata/sf0.01
run "GATECHECK_ansi_${R}.log"   --conf=spark.sql.ansi.enabled=false \
    /root/testdata/sf0.01
run "GATECHECK_p1_${R}.log"     --conf=spark.sql.shuffle.partitions=1 \
    /root/testdata/sf0.01
run "GATECHECK_arrow7_${R}.log" \
    --conf=spark.sql.execution.arrow.maxRecordsPerBatch=7 \
    /root/testdata/sf0.01

# ABSOLUTE path: Spark streaming sources resolve relative paths against
# the Hadoop FS working dir, not the process cwd — a relative sf_dir
# fails all 8 streaming entries with UNABLE_TO_INFER_SCHEMA
echo "=== GATECHECK_shuffled_${R}.log: row-order invariance"
SHUF_DIR="$PWD/.scratch/sf0.01_shuffled"
python tools/make_shuffled_sf.py /root/testdata/sf0.01 "$SHUF_DIR"
run "GATECHECK_shuffled_${R}.log" "$SHUF_DIR" --no-perf-gate

echo "=== PYTEST_${R}.log: full suite"
# the exact Tier-1 command (ROADMAP): its env (without it graft_cpus()
# defaults to 32 and the suite runs local[32] whatever the box has),
# its timeout, and its flags (a module that fails to collect does not
# stop the rest of the suite)
SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(env -u OMP_NUM_THREADS nproc)}" \
    SPARK_LOCAL_DIRS=/tmp/spark-local \
    timeout -k 10 2670 python -m pytest tests/ -q \
    --continue-on-collection-errors -p no:cacheprovider \
    >"PYTEST_${R}.log" 2>&1
echo "exit=$?" >>"PYTEST_${R}.log"
tail -3 "PYTEST_${R}.log"
