#!/bin/bash
# Two-parallelism scaling evidence (BASELINE.md): fresh JVM per level.
# SPARK_GRAFT_CPUS=N tools/run_scaling.sh [nDocs]: local[N] vs local[4N].
set -e
N=${SPARK_GRAFT_CPUS:-8}
DOCS=${1:-20000}
cd "$(dirname "$0")/.."
sbt -batch "runMain graft.tools.ScalingBench gen $DOCS" 2>&1 | grep -o '{.*}'
OUT_N=$(SPARK_GRAFT_CPUS=$N sbt -batch "runMain graft.tools.ScalingBench run $DOCS" 2>&1 | grep -o '{"metric.*}')
OUT_4N=$(SPARK_GRAFT_CPUS=$((4*N)) sbt -batch "runMain graft.tools.ScalingBench run $DOCS" 2>&1 | grep -o '{"metric.*}')
echo "$OUT_N"
echo "$OUT_4N"
python3 - "$OUT_N" "$OUT_4N" <<'EOF'
import json, sys
a, b = json.loads(sys.argv[1]), json.loads(sys.argv[2])
eff = (b["docs_per_sec"] / a["docs_per_sec"]) / (b["cores"] / a["cores"])
print(json.dumps({"metric": "scaling_efficiency", "value": round(eff, 3),
                  "n_cores": a["cores"], "n4_cores": b["cores"],
                  "docs_per_sec_n": a["docs_per_sec"],
                  "docs_per_sec_4n": b["docs_per_sec"]}))
EOF
