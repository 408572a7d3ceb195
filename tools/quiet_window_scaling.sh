#!/bin/bash
# Quiet-window watcher for the flagship ScalingBench (round 7+).
#
# The north rule's >=0.8 two-parallelism efficiency is only measurable
# when the shared VM's own thread-scaling ceiling allows it (substrate
# law: evenings contended, late night/morning idle). This loop probes
# the ceiling cheaply every ~12 min with graft.tools.HostCalibration
# and fires ONE full 20M ScalingBench (auto-appends BENCH.md) the
# first time BOTH ceilings clear the bar; it exits after firing or
# after ~8 h. Two watcher instances never run sbt at the same time
# (flock on target/.bench.lock); other sbt runs do not take that lock.
#
# Usage: nohup tools/quiet_window_scaling.sh > /tmp/quiet_scaling.log 2>&1 &
set -u
cd "$(dirname "$0")/.."
# concurrency guard: this watcher holds an exclusive flock on
# target/.bench.lock around its probe and its firing run, and a held lock
# skips the probe cycle. The lock serializes watcher instances only: a
# test or bench sbt started by hand does not take it, so do not start one
# while the watcher runs
mkdir -p target
exec 9>target/.bench.lock
deadline=$(( $(date +%s) + 8*3600 ))
streak=0
while [ "$(date +%s)" -lt "$deadline" ]; do
  if ! flock -n 9; then
    echo "$(date -u +%H:%M:%SZ) bench lock held by another run - skipping probe"
    sleep 700
    continue
  fi
  out=$(sbt -batch "runMain graft.tools.HostCalibration" 2>/dev/null |
    grep -E "CALIB (alu|parquet)")
  alu=$(echo "$out" | grep "CALIB alu" | grep -oE "efficiency [0-9.]+" | awk '{print $2}')
  dec=$(echo "$out" | grep "CALIB parquet" | grep -oE "efficiency [0-9.]+" | awk '{print $2}')
  echo "$(date -u +%H:%M:%SZ) alu=$alu decode=$dec streak=$streak"
  # one clear probe is not enough: the first firing (2026-08-19 01:01Z)
  # passed 0.908/0.820 and the window still degraded inside the
  # 40-minute ladder — require the window to have HELD across two
  # consecutive probes (~12 min apart) before spending it
  if awk -v a="${alu:-0}" -v d="${dec:-0}" 'BEGIN{exit !(a>=0.85 && d>=0.82)}'; then
    streak=$((streak + 1))
  else
    streak=0
  fi
  if [ "$streak" -ge 2 ]; then
    echo "$(date -u +%H:%M:%SZ) window idle twice - firing 20M ScalingBench"
    rm -rf /dev/shm/graft-spark-local/* 2>/dev/null
    sbt -batch "runMain graft.ScalingBench 20000000"
    flock -u 9
    echo "$(date -u +%H:%M:%SZ) done - BENCH.md appended; commit it"
    exit 0
  fi
  flock -u 9
  sleep 700
done
echo "no idle window inside the deadline"
