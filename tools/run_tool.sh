#!/bin/bash
# Run a graft tool main against the snapshotted classpath, bypassing
# sbt (keeps sbt free for compiles while long measurements run).
# Usage: XMX=24g XMS=24g tools/run_tool.sh graft.tools.ScaleCheck args...
set -u
CLS="${CLS:-/tmp/graft_cls}"
XMX="${XMX:-8g}"
ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent \
         java.util.concurrent.atomic sun.nio.ch sun.nio.cs \
         sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
exec java $ADD_OPENS \
  -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC \
  -Xmx"$XMX" ${XMS:+-Xms$XMS} \
  -cp "$CLS:/opt/spark/jars/*" "$@"
