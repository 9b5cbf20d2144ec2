#!/usr/bin/env bash
# Container entrypoint: GRAFT_MODE=ingest runs the one-shot idempotent
# load and exits (the reference's postgres-init service shape); anything
# else boots both serving endpoints and blocks.
set -euo pipefail
SPARK_JARS="${SPARK_JARS:-/opt/spark/jars}"
ADD_OPENS=""
for p in java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
         java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
         java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
         java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
         java.base/sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens $p=ALL-UNNAMED"
done
MAIN=graft.serve.ServeMain
[ "${GRAFT_MODE:-serve}" = ingest ] && MAIN=graft.serve.IngestMain
exec java $ADD_OPENS -Xmx"${GRAFT_MEM:-4g}" \
  -cp "/opt/graft/graft.jar:$SPARK_JARS/*" "$MAIN" "$@"
