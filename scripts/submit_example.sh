#!/usr/bin/env bash
# Package the engine and run the geocode-join job via spark-submit --py-files
# (north_rule deployment shape). On a cluster, change --master / add
# --deploy-mode and point --world/--pages at shared storage.
set -euo pipefail
cd "$(dirname "$0")/.."

SF="${1:-0.05}"
OUT="${2:-/tmp/geospark_submit_out}"
# default: local[N] over the cores this shell may use (nproc honours affinity)
MASTER="${SPARK_MASTER:-local[$(nproc)]}"

mkdir -p dist
rm -f dist/geospark.zip
(cd . && zip -qr dist/geospark.zip geospark -x '*__pycache__*')

# generate (once) the bench world at the requested scale
WORLD=$(python - <<EOF
from geospark import benchgen
print(benchgen.ensure_bench_world("BENCH", $SF))
EOF
)
WORLD=$(echo "$WORLD" | tail -1)

rm -rf "$OUT"
exec /opt/spark/bin/spark-submit \
    --master "$MASTER" \
    --driver-memory "${GEOSPARK_DRIVER_MEM:-8g}" \
    --py-files dist/geospark.zip \
    scripts/submit_geocode_job.py \
    --world "$WORLD" --pages "$WORLD/webpages.parquet" --out "$OUT"
