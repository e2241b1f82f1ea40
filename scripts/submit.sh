#!/usr/bin/env bash
# Package the engine and launch the flagship job via spark-submit --py-files.
# Usage: scripts/submit.sh [n_images] [n_polys] [out_dir]
# Cluster use: set SPARK_SUBMIT_OPTS_EXTRA="--master spark://... --num-executors ..."
set -euo pipefail
cd "$(dirname "$0")/.."

ZIP=/tmp/geo_epic_spark.zip
rm -f "$ZIP"
python -c "
import shutil, zipfile, os
with zipfile.ZipFile('$ZIP', 'w', zipfile.ZIP_DEFLATED) as z:
    for root, _, files in os.walk('geo_epic_spark'):
        if '__pycache__' in root: continue
        for f in files:
            if f.endswith('.py'):
                p = os.path.join(root, f)
                z.write(p, p)
"

MASTER="${SPARK_MASTER:-local[${SPARK_GRAFT_CPUS:-$(nproc)}]}"
# default heap: the package's host-sized one (half of physical memory)
HEAP="${SPARK_DRIVER_MEMORY:-$(python -c "
from geo_epic_spark.session import DEFAULT_CONF
print(DEFAULT_CONF['spark.driver.memory'])")}"
exec spark-submit \
  --master "$MASTER" \
  --driver-memory "$HEAP" \
  --conf spark.sql.adaptive.enabled=true \
  --conf spark.sql.adaptive.skewJoin.enabled=true \
  --conf spark.sql.session.timeZone=UTC \
  --py-files "$ZIP" \
  ${SPARK_SUBMIT_OPTS_EXTRA:-} \
  scripts/submit_job.py "$@"
