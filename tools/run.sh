#!/bin/bash
# Direct-JVM runner for graft mains (bypasses the sbt launcher/lock so long bench and
# GenScale runs can't collide with a concurrent sbt test invocation).
# Usage: tools/run.sh [-Xmx…|-D…]... <mainClass> [args...]
cd "$(dirname "$0")/.." || exit 1
source tools/heap.sh
JVM_ARGS=()
while [[ "$1" == -X* || "$1" == -D* ]]; do JVM_ARGS+=("$1"); shift; done
# Default heap (tools/heap.sh): only when the caller didn't pass an -Xmx of their own,
# so `tools/run.sh -Xmx2400m Main` keeps its explicit heap.
have_xmx=0
for a in "${JVM_ARGS[@]}"; do [[ "$a" == -Xmx* ]] && have_xmx=1; done
[[ $have_xmx -eq 0 ]] && JVM_ARGS+=("$(default_xmx)")
exec java -cp "target/scala-2.13/classes:/opt/spark/jars/*" \
  "${JVM_ARGS[@]}" \
  --add-opens=java.base/java.lang=ALL-UNNAMED \
  --add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
  --add-opens=java.base/java.lang.reflect=ALL-UNNAMED \
  --add-opens=java.base/java.io=ALL-UNNAMED \
  --add-opens=java.base/java.net=ALL-UNNAMED \
  --add-opens=java.base/java.nio=ALL-UNNAMED \
  --add-opens=java.base/java.util=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent=ALL-UNNAMED \
  --add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED \
  --add-opens=java.base/jdk.internal.ref=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
  --add-opens=java.base/sun.nio.cs=ALL-UNNAMED \
  --add-opens=java.base/sun.security.action=ALL-UNNAMED \
  --add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
  "$@"
