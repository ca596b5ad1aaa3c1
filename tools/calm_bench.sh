#!/bin/bash
# Wait for a clean host window (>= 20 cores-equiv by tools/cpuprobe.py, up to
# ~20 min), then run the frozen battery phase and append the JSON + the probe
# readings to the given output file.  Usage: calm_bench.sh OUT.json [phases]
set -u
OUT="${1:-bench_out.json}"
PHASES="${2:-battery}"
cd /root/repo
for i in $(seq 1 40); do
  C=$(python3 tools/cpuprobe.py)
  if python3 -c "import sys; sys.exit(0 if float('$C') >= 20 else 1)"; then
    echo "[calm_bench] window ok: $C cores-equiv" >&2
    break
  fi
  echo "[calm_bench] $C cores-equiv — waiting" >&2
  sleep 25
done
PRE=$C
SPARK_GRAFT_PHASES="$PHASES" SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.Bench" 2>"$OUT.err" \
  | grep -o '{"metric.*' > "$OUT.tmp"
POST=$(python3 tools/cpuprobe.py)
python3 - "$OUT" "$OUT.tmp" "$PRE" "$POST" <<'EOF'
import json, sys
out, tmp, pre, post = sys.argv[1:5]
d = json.load(open(tmp))
d["probe_cores_pre"] = float(pre)
d["probe_cores_post"] = float(post)
with open(out, "w") as f:
    json.dump(d, f, indent=1)
    f.write("\n")
print(f"total {d['value']}  probe {pre}->{post}")
for k, v in sorted(d['queries'].items(), key=lambda x: -x[1])[:12]:
    print(f"{k:28s}{v:8.3f}")
EOF
