#!/usr/bin/env bash
# Package the engine as a --py-files zip and spark-submit the pipeline.
# Usage: bash scripts/submit.sh [work_dir] [n_docs] [master]
set -euo pipefail
cd "$(dirname "$0")/.."

WORK_DIR="${1:-/tmp/kg_submit_run}"
N_DOCS="${2:-2000}"
# SPARK_GRAFT_CPUS is a deployment override; by default use the CPUs
# this process may run on
CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}"
MASTER="${3:-local[$CPUS]}"
ZIP=/tmp/kg_microbe_merge_spark.zip

rm -f "$ZIP"
python - <<EOF
import zipfile, pathlib
root = pathlib.Path("kg_microbe_merge_spark")
with zipfile.ZipFile("$ZIP", "w") as z:
    for p in sorted(root.rglob("*.py")):
        z.write(p, p)
print("packaged", "$ZIP")
EOF

exec spark-submit \
  --master "$MASTER" \
  --conf spark.sql.shuffle.partitions="$CPUS" \
  --py-files "$ZIP" \
  scripts/submit_pipeline.py "$WORK_DIR" "$N_DOCS"
