#!/usr/bin/env bash
# Fast runner: java against sbt-compiled classes + the Spark jar dir,
# mirroring build.sbt's JDK17 module options. Recompile first (sbt
# -batch compile) or it runs stale classes. The mains: graft.Verify,
# graft.Bench, graft.RunPipeline, graft.Probe, graft.PlanDump,
# graft.ScaleData, graft.ScaleBench. Usage:
#   tools/run.sh graft.Verify /root/testdata/sf0.001 /tmp/verify
#   tools/run.sh graft.Probe <time|jobs|phases|plan> <gate> [gate...]
#   tools/run.sh test            # dispatches to sbt -batch test
set -euo pipefail
cd "$(dirname "$0")/.."
if [[ "${1:-}" == "test" ]]; then
  exec sbt -batch test
fi
case "${1:-}" in
  graft.*) ;; # a main class in this repo
  *) echo "run.sh: first arg must be 'test' or a graft.* main class, got '${1:-}'" >&2
     exit 2 ;;
esac
CLASSES=target/scala-2.13/classes
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS+=" --add-opens java.base/$p=ALL-UNNAMED"
done
for p in sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS+=" --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Xmx"${SPARK_DRIVER_MEM:-8g}" \
  -Dspark.ui.enabled=false \
  -Dspark.sql.session.timeZone=UTC \
  -cp "$CLASSES:/opt/spark/jars/*" "$@"
