#!/bin/bash
# Plan audit: print formatted physical plans for representative queries
# and inspect the properties that matter at scale (pushdown, pruning,
# broadcast, codegen). Usage: tools/explain_audit.sh [qid...]
set -e
cd "$(dirname "$0")/.."

sbt -batch compile >/dev/null 2>&1 || true

ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done

java $ADD_OPENS -Xmx4g -Dspark.ui.enabled=false \
  -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  graft.ExplainAudit "$@"
