#!/usr/bin/env bash
# The full end-of-round gate, one command (see .claude/skills/verify/SKILL.md):
#   no newSession() outside ops.SessionClone
#   -> no streaming query started outside EventTime.replay
#   -> no vec_id % 50 probe predicate outside LlmOps' probe panel
#   -> compile -> ScalaTest
#   -> Verify+DuckDB oracle at sf0.01 AND sf0.001
#   -> partition-invariance probe (CPUS=1 vs 4, row-exact)
#   -> one untraced perfbench run per workload (prints latency_p90_s,
#      throughput_qps and heap_retained_mb)
#   -> one traced perfbench run per workload (prints the per-execution
#      Spark jobs, stages and tasks, shuffle exchanges, streaming batches
#      and addBatch seconds)
#   -> Bench sf0.1.
# Exits nonzero on the first failure. ~8 min on this machine.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "== no session made inside a build =="
# a build that needs its own conf goes through ops.SessionClone, the one
# place a session is made (comment lines are not code)
if grep -rn 'newSession()' src/main/scala/graft --include='*.scala' |
    grep -v '^src/main/scala/graft/ops/SessionArtifact.scala:' |
    grep -vE '^[^:]+:[0-9]+:[[:space:]]*(/?\*|//)'; then
  echo "newSession() outside ops.SessionClone" >&2
  exit 1
fi

echo "== streaming queries start only in the replay runner =="
# EventTime.replay owns the source read, the trigger, the sink and the
# query's start/await/stop; its lines are from `def replay[` to the
# closing brace at its indent
runner=src/main/scala/graft/ops/EventTime.scala
span="$(awk '/^  private\[graft\] def replay\[/ {s = NR} s && NR > s && /^  }$/ {print s ":" NR; exit}' "$runner")"
if grep -rnE 'readStream|Trigger\.AvailableNow|awaitTermination|foreachBatch' src/main/scala/graft --include='*.scala' |
    grep -vE '^[^:]+:[0-9]+:[[:space:]]*(/?\*|//)' |
    awk -F: -v f="$runner" -v span="$span" 'BEGIN {split(span, b, ":")}
      !($1 == f && $2 >= b[1] && $2 <= b[2])' | grep .; then
  echo "streaming query code outside EventTime.replay" >&2
  exit 1
fi

echo "== vector searches share one probe panel =="
# LlmOps.isProbe (Spark) and LlmOps.probeSql (oracle) are the vec_id % 50
# probe panel; a search composes them (Relational's l_orderkey % 50
# sample is not a probe panel)
if grep -rnE 'vec_id"?\)?[[:space:]]*%[[:space:]]*50\b' src/main/scala/graft --include='*.scala' |
    grep -vE '^[^:]+:[0-9]+:[[:space:]]*(/?\*|//)' |
    grep -vE '^src/main/scala/graft/ops/LlmOps.scala:[0-9]+:[[:space:]]*private def (isProbe|probeSql)\b'; then
  echo "vec_id % 50 probe predicate outside LlmOps.isProbe/probeSql" >&2
  exit 1
fi

echo "== compile + test =="
sbt -batch compile
sbt -batch test

for sf in sf0.01 sf0.001; do
  echo "== verify + oracle @$sf =="
  out="/tmp/gate_$sf"
  rm -rf "$out"   # stale dirs from dropped/renamed queries must not linger
  sbt -batch "runMain graft.Verify /root/testdata/$sf $out"
  python3 tools/check_oracle.py "/root/testdata/$sf" "$out"
done

echo "== partition invariance (CPUS=1 vs 4, sf0.01) =="
rm -rf /tmp/gate_p1
SPARK_GRAFT_CPUS=1 sbt -batch "runMain graft.Verify /root/testdata/sf0.01 /tmp/gate_p1"
python3 - <<'EOF'
import duckdb, os
con = duckdb.connect()
# GK percentile summaries are partition-structure-dependent WITHIN their
# rank tolerance: CPUS=1 vs 4 may legally return different (equally
# valid) order statistics, so bit-comparing this op is not a correctness
# signal (PropertySuite bounds it against exact order statistics instead)
SKETCH_TOLERANT = {"agg_approx_percentile"}
names = sorted(d for d in os.listdir('/tmp/gate_sf0.01')
               if os.path.isdir(f'/tmp/gate_sf0.01/{d}')
               and d not in SKETCH_TOLERANT)
for n in names:
    a = con.execute(f"SELECT * FROM read_parquet('/tmp/gate_sf0.01/{n}/*.parquet')").fetchall()
    b = con.execute(f"SELECT * FROM read_parquet('/tmp/gate_p1/{n}/*.parquet')").fetchall()
    assert a == b, f"{n} differs between CPUS=4 and CPUS=1"
print(f"{len(names)} queries partition-invariant")
EOF

for w in analytics_mix ingest_mix; do
  echo "== perfbench $w (untraced) =="
  res="$(python3 perfbench/run.py --workload "$w" --seed 1 --seconds 20 --trace 0)"
  echo "$res"
  echo "$res" | tail -n 1 | python3 -c '
import json, sys
m = json.loads(sys.stdin.read())["metrics"]
for k in ("latency_p90_s", "throughput_qps", "heap_retained_mb"):
    print(k, round(m[k]["value"], 3))'
done

# the counters that do not drift between runs, per execution: every
# perf claim cites these next to its timings (spark.tasks and the
# streaming batch count and addBatch time are what a replay claim rests on)
for w in analytics_mix ingest_mix; do
  echo "== perfbench $w (traced) =="
  python3 perfbench/run.py --workload "$w" --seed 1 --seconds 20 --trace 1 | tail -n 1 |
    python3 -c '
import json, sys
m = json.loads(sys.stdin.read())["metrics"]
for k in ("spark.jobs", "spark.stages", "spark.tasks", "plan.shuffle_exchanges",
          "streaming.batches", "streaming.add_batch_s"):
    print(k, round(m[k]["value"], 2))'
done

echo "== bench sf0.1 =="
SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS="$(nproc)" \
  sbt -batch "runMain graft.Bench" 2>&1 | grep -F '"metric"'

echo "GATE GREEN"
