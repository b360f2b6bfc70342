#!/usr/bin/env bash
# Package the engine and launch the crawl via spark-submit --py-files
# (north_rule deployment path). Local-mode smoke test by default; on a
# real cluster pass e.g.:
#   MASTER=yarn EXTRA="--num-executors 128"
set -euo pipefail
cd "$(dirname "$0")/.."

MASTER="${MASTER:-local[8]}"
FIXTURES="${FIXTURES:-/tmp/wcs_submit_fix}"
RUN_DIR="${RUN_DIR:-/tmp/wcs_submit_run_$$}"
EXTRA="${EXTRA:-}"

if [ ! -f "$FIXTURES/corpus.parquet" ]; then
  python -c "from fixtures.gen import generate; generate('$FIXTURES', n=120, n_hosts=10)"
fi

ZIP=/tmp/wcs_pyfiles.zip
rm -f "$ZIP"
zip -qr "$ZIP" web_crawler_spark fixtures oracle -x '*__pycache__*'

exec spark-submit \
  --master "$MASTER" \
  --py-files "$ZIP" \
  $EXTRA \
  scripts/run_crawl.py --fixtures "$FIXTURES" --run-dir "$RUN_DIR" "$@"
