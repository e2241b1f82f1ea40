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
# every --conf from the package defaults (session.DEFAULT_CONF), heap included;
# the master stays the --master flag above
CONF_LINES="$(python -c "
from geo_epic_spark.session import DEFAULT_CONF
for k, v in DEFAULT_CONF.items():
    print('--conf', f'{k}={v}', sep='\\n')")"
mapfile -t CONF <<< "$CONF_LINES"
# Spark starts its Python workers with python -m geo_epic_spark.worker_daemon
# before any --py-files zip is on sys.path, so the zip goes on PYTHONPATH too
export PYTHONPATH="$ZIP${PYTHONPATH:+:$PYTHONPATH}"
exec spark-submit \
  --master "$MASTER" \
  "${CONF[@]}" \
  --py-files "$ZIP" \
  ${SPARK_SUBMIT_OPTS_EXTRA:-} \
  scripts/submit_job.py "$@"
