#!/bin/bash
# Run a graft main class directly on the compiled classes — no sbt
# lock, no sbt JVM: probes and plan checks can run while sbt test
# owns the build. Mirrors build.sbt's fork javaOptions (JDK17
# add-opens, UTC, UI off, SPARK_DRIVER_MEM heap).
# GRAFT_TMPDIR (optional): private scratch root for this JVM's
# block-manager/shuffle dirs — concurrent probes and sbt test each get
# their own, so cleanup sweeps one run's scratch without nuking a
# neighbor's live shuffle files (java.io.tmpdir is what Spark's
# local-dir default derives from).
# GRAFT_EXTRA_OPTS (optional): extra JVM -D flags appended verbatim —
# the hook for per-run Spark conf experiments (system properties feed
# the session graft.GraftSession builds), e.g.
#   GRAFT_EXTRA_OPTS="-Dspark.shuffle.sort.bypassMergeThreshold=16"
# GRAFT_CLASSES (optional): alternate compiled-classes dir (an
# alternating-binary run against a git-archive build).
# Usage: tools/jrun.sh <mainClass> [args...]
set -eu
MAIN=${1:?main class}; shift
CP="${GRAFT_CLASSES:-/root/repo/target/scala-2.13/classes}:/opt/spark/jars/*"
TMPOPT=()
if [ -n "${GRAFT_TMPDIR:-}" ]; then
  mkdir -p "$GRAFT_TMPDIR"
  TMPOPT=(-Djava.io.tmpdir="$GRAFT_TMPDIR" -Dspark.local.dir="$GRAFT_TMPDIR")
fi
exec java \
  ${TMPOPT[@]+"${TMPOPT[@]}"} \
  ${GRAFT_EXTRA_OPTS:-} \
  --add-opens java.base/java.lang=ALL-UNNAMED \
  --add-opens java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens java.base/java.io=ALL-UNNAMED \
  --add-opens java.base/java.net=ALL-UNNAMED \
  --add-opens java.base/java.nio=ALL-UNNAMED \
  --add-opens java.base/java.util=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens java.base/sun.security.action=ALL-UNNAMED \
  --add-opens java.base/sun.util.calendar=ALL-UNNAMED \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -cp "$CP" "$MAIN" "$@"
