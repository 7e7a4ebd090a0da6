# Default JVM heap for the direct-java runners, sourced by run.sh and bench_closing.sh:
# half of MemTotal, at least 2g and at most 24g, so a default run never asks for a heap
# larger than the machine.
default_xmx() {
  awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print "-Xmx" (g < 2 ? 2 : g > 24 ? 24 : g) "g"}' \
    /proc/meminfo 2>/dev/null || echo "-Xmx2g"
}
