#!/usr/bin/env bash
# Build the deployable dist: one thin application jar + launcher scripts
# that run against a Spark 4.x jar directory (SPARK_JARS, default
# /opt/spark/jars). A fat jar is deliberately NOT built: Spark
# deployments provide the runtime (spark-submit, or the image's
# /opt/spark/jars), and shading 300 MB of Spark into an app jar is the
# anti-pattern the Spark docs warn about ("provided" scope).
#
#   tools/mkdist.sh            # -> dist/graft.jar, dist/bin/{graft-serve,graft-ingest}
#   dist/bin/graft-serve <layersParquet> [httpPort] [mcpPort] [weightsParquet]
#   dist/bin/graft-ingest <rawParquet> <layersParquet> [embeddingDim]
set -euo pipefail
cd "$(dirname "$0")/.."

sbt -batch package >/dev/null

mkdir -p dist/bin
JAR=$(ls target/scala-2.13/*_2.13-*.jar | head -1)
cp "$JAR" dist/graft.jar

# JDK 17 module opens Spark needs outside spark-submit (mirrors
# org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptions)
OPENS="java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect \
java.base/java.io java.base/java.net java.base/java.nio java.base/java.util \
java.base/java.util.concurrent java.base/java.util.concurrent.atomic \
java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action \
java.base/sun.util.calendar"

mklauncher() { # $1 = script name, $2 = main class
  cat > "dist/bin/$1" <<EOF
#!/usr/bin/env bash
set -euo pipefail
HERE="\$(cd "\$(dirname "\$0")/.." && pwd)"
SPARK_JARS="\${SPARK_JARS:-/opt/spark/jars}"
[ -d "\$SPARK_JARS" ] || { echo "SPARK_JARS=\$SPARK_JARS not found (point it at a Spark 4.x jars dir)" >&2; exit 2; }
ADD_OPENS=""
for p in $OPENS; do ADD_OPENS="\$ADD_OPENS --add-opens \$p=ALL-UNNAMED"; done
exec java \$ADD_OPENS -Xmx"\${GRAFT_MEM:-4g}" \\
  -cp "\$HERE/graft.jar:\$SPARK_JARS/*" $2 "\$@"
EOF
  chmod +x "dist/bin/$1"
}

mklauncher graft-serve  graft.serve.ServeMain
mklauncher graft-ingest graft.serve.IngestMain

echo "dist/ ready:"
ls -l dist/graft.jar dist/bin/
