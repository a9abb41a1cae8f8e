#!/usr/bin/env bash
# Package the engine and run the resumable build via spark-submit --py-files
# (the north-rule ship shape). Usage: scripts/submit.sh [--sf 0.01] [...]
set -euo pipefail
cd "$(dirname "$0")/.."
ZIP=/tmp/butterfly_osm_spark.zip
rm -f "$ZIP"
python - <<'EOF'
import zipfile, os
with zipfile.ZipFile("/tmp/butterfly_osm_spark.zip", "w") as z:
    for root, _, files in os.walk("butterfly_osm_spark"):
        if "__pycache__" in root:
            continue
        for f in files:
            if f.endswith(".py"):
                z.write(os.path.join(root, f))
EOF
# the session's master, driver heap and JVM options (with the class-data
# archive, trained on first use): spark-submit starts the driver JVM
# before get_spark runs, so they must be on its command line. A
# SPARK_CONF_DIR=<dir> line is the empty conf dir that archive needs.
session_args=$(python -m butterfly_osm_spark.session)
SESSION_ARGS=()
while IFS= read -r arg; do
    if [[ $arg == SPARK_CONF_DIR=* ]]; then
        export "$arg"
    else
        SESSION_ARGS+=("$arg")
    fi
done <<<"$session_args"
exec spark-submit "${SESSION_ARGS[@]}" \
    --py-files "$ZIP" butterfly_osm_spark/main.py "$@"
