#!/usr/bin/env bash
# Round-9 fault-tolerance witness on the standalone cluster (verdict ask #2)
# plus the cluster-mode durable-catalog witness (ask #5). See FAULT_r9.md for
# the measured results of this exact sequence.
#
# Prereqs:
#   sbt package   # or any jar holding the graft classes
#   /opt/spark/sbin/start-master.sh --host 127.0.0.1 --port 7077
#   SPARK_WORKER_INSTANCES=2 SPARK_WORKER_CORES=4 SPARK_WORKER_MEMORY=10g \
#     /opt/spark/sbin/start-worker.sh spark://127.0.0.1:7077
#
# Usage: tools/fault_run.sh <outDir> <jar> [sf1Dir]
set -uo pipefail

OUT=${1:?usage: fault_run.sh <outDir> <jar> [sf1Dir]}
JAR=${2:?usage: fault_run.sh <outDir> <jar> [sf1Dir]}
SF1=${3:-/root/repo/tools/sf1}
MASTER=spark://127.0.0.1:7077
SF=/root/testdata/sf0.01
mkdir -p "$OUT"

submit() { # submit <extra spark-submit args...> -- <class> <args...>
  local extra=()
  while [ "$1" != "--" ]; do extra+=("$1"); shift; done
  shift
  local cls=$1; shift
  /opt/spark/bin/spark-submit --master $MASTER --class "$cls" \
    --conf spark.driver.memory=6g "${extra[@]}" "$JAR" "$@"
}

# External executor killer. NOTE the bracketed character class: a plain
# `pgrep -f CoarseGrainedExecutorBackend` matches THIS script's own command
# line (the pattern appears in it) and the kill murders the orchestration
# shell instead of an executor — a real footgun we hit.
killer() { # killer <initial delay> <kills> <interval> <log>
  sleep "$1"
  for _ in $(seq 1 "$2"); do
    local pid
    pid=$(pgrep -f 'CoarseGrained[E]xecutorBackend' | head -1)
    if [ -n "$pid" ]; then
      echo "KILL $pid at $(date +%T)" >> "$4"
      kill -9 "$pid"
    else
      echo "no executor at $(date +%T)" >> "$4"
    fi
    sleep "$3"
  done
}

echo "== phase A: executor kills during a shuffle-heavy Verify subset =="
SUBSET="q_pipeline_prepare_fuzzy q_dedup_simhash_k2 q_g1_group_aggs q_dedup_exact q_text_bm25 q_events_sessionize q_stats_salted_agg q_pipeline_e2e"
killer 20 4 15 "$OUT/kills_verify.log" &
KPID=$!
submit --conf spark.executor.memory=6g -- graft.Verify "$SF" "$OUT/ft_verify" $SUBSET \
  > "$OUT/phaseA.log" 2>&1
wait $KPID 2>/dev/null
python3 tools/oracle_check.py "$OUT/ft_verify" "$SF" $SUBSET --json="$OUT/phaseA_oracle.json" \
  | tee -a "$OUT/phaseA.log"
# expected: every query that completed passes; q_pipeline_e2e may die on the
# documented localCheckpoint loss (see phase B: a checkpoint directory recovers)

echo "== phase B1: FaultCc local (localCheckpoint) under kills =="
killer 15 3 12 "$OUT/kills_local.log" &
KPID=$!
submit --conf spark.executor.memory=6g -- graft.tools.FaultCc "$SF" 8 \
  2>"$OUT/phaseB_local.err" | grep FAULTCC | tee "$OUT/faultcc_local.log"
wait $KPID 2>/dev/null

echo "== phase B2: FaultCc reliable (durable checkpoint) under kills =="
rm -rf "$OUT/ckpt"; mkdir -p "$OUT/ckpt"
killer 15 4 12 "$OUT/kills_rel.log" &
KPID=$!
submit --conf spark.executor.memory=6g -- graft.tools.FaultCc "$SF" 8 "$OUT/ckpt" \
  2>"$OUT/phaseB_rel.err" | grep FAULTCC | tee "$OUT/faultcc_rel.log"
wait $KPID 2>/dev/null

echo "== phase C: deliberate memory starvation -> spill witness =="
# roomy baseline, then starved run; both checksummed by SpillDrive itself
submit --conf spark.executor.memory=8g -- graft.tools.SpillDrive "$SF1" "$OUT/sorted_base" \
  2>/dev/null | grep SPILL_DRIVE | tee "$OUT/spill_base.log"
rm -rf "$OUT/eventlog"; mkdir -p "$OUT/eventlog"
submit --conf spark.executor.memory=700m --conf spark.memory.fraction=0.1 \
  --conf spark.eventLog.enabled=true --conf spark.eventLog.dir="$OUT/eventlog" \
  -- graft.tools.SpillDrive "$SF1" "$OUT/sorted_spill" \
  2>/dev/null | grep SPILL_DRIVE | tee "$OUT/spill_starved.log"
python3 - "$OUT/eventlog" <<'EOF' | tee "$OUT/phaseC_spill.json"
import sys, os, json, glob, subprocess, io
mem = disk = 0; tasks = 0; stages = set()
for f in glob.glob(os.path.join(sys.argv[1], "*", "events_*.zstd")):
    p = subprocess.run(["zstd", "-dc", f], capture_output=True)
    for line in io.StringIO(p.stdout.decode(errors="replace")):
        if '"Event":"SparkListenerTaskEnd"' not in line: continue
        try: ev = json.loads(line)
        except Exception: continue
        m = ev.get("Task Metrics") or {}
        ms = m.get("Memory Bytes Spilled", 0); ds = m.get("Disk Bytes Spilled", 0)
        mem += ms; disk += ds; tasks += 1
        if ms or ds: stages.add(ev.get("Stage ID"))
print(json.dumps({"tasks": tasks, "memory_bytes_spilled": mem,
                  "disk_bytes_spilled": disk, "spilled": mem > 0 or disk > 0,
                  "stages_with_spill": len(stages)}))
EOF
# expected: starved run spills (bytes > 0) and prints the SAME rows/checksum
# as the roomy baseline

echo "== phase D: cluster durable catalog (two separate cluster apps) =="
rm -rf "$OUT/wh"; mkdir -p "$OUT/wh"
submit --conf spark.executor.memory=4g -- graft.tools.BucketedCatalog write "$OUT/wh" "$SF" \
  > "$OUT/phaseD_write.log" 2>&1
ROWS=$(grep -o 'WRITE_OK [0-9]*' "$OUT/phaseD_write.log" | awk '{print $2}')
submit --conf spark.executor.memory=4g -- graft.tools.BucketedCatalog read "$OUT/wh" "$ROWS" \
  > "$OUT/phaseD_read.log" 2>&1
grep -E 'WRITE_OK|READ_OK' "$OUT"/phaseD_*.log
sed -n '/PLAN_BEGIN/,/PLAN_END/p' "$OUT/phaseD_read.log" > "$OUT/cluster_bucketed_plan.txt"

echo "== done: artifacts under $OUT =="
