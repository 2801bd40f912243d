#!/bin/bash
# Run a graft main against the compiled classes without holding the sbt lock.
# Usage: tools/run_main.sh graft.Verify <args...>
# Classes and lib/ come from the checkout this script sits in. GRAFT_CLASSES
# overrides the classes dir — point it at a snapshot copy so a long-running
# background probe keeps a stable classpath while sbt recompiles.
ROOT=$(cd "$(dirname "$0")/.." && pwd)
CP="${GRAFT_CLASSES:-$ROOT/target/scala-2.13/classes}:$(ls /opt/spark/jars/*.jar | tr '\n' ':')$(ls "$ROOT"/lib/*.jar 2>/dev/null | tr '\n' ':')"

# Scale-corpus autodetect (VERDICT r10 #4): when any arg is a >=1 GB data
# dir (x100 is 1.7 GB, x1000 17 GB; driver sf dirs top out at 17 MB and
# x10 at 174 MB), default to the MEASURED winning config from the round-10
# churn A/B — off-heap Tungsten 48g + a small 32g heap (q3 isolated
# 63.9 -> 22.0 s; suite-context within 1.05x of isolated) and the
# 256-partition shuffle optimum (tq4 112 -> 34.5 s at x1000). Explicitly
# setting SPARK_GRAFT_OFFHEAP (even to "") or GRAFT_NO_SCALE_PRESET=1
# disables the preset; each sub-knob yields to an explicit env.
if [ -z "${SPARK_GRAFT_OFFHEAP+x}" ] && [ -z "${GRAFT_NO_SCALE_PRESET:-}" ]; then
  # graft.Bench takes its corpus via SPARK_GRAFT_SF_DIR, not an arg
  for a in "$@" "${SPARK_GRAFT_SF_DIR:-}"; do
    if [ -d "$a" ] && [ "$(du -sb "$a" 2>/dev/null | cut -f1 || echo 0)" -ge 1000000000 ]; then
      export SPARK_GRAFT_OFFHEAP=${SPARK_GRAFT_OFFHEAP:-48g}
      JVM_XMX=${JVM_XMX:-32g}
      export SPARK_GRAFT_SHUFFLE_PARTITIONS=${SPARK_GRAFT_SHUFFLE_PARTITIONS:-256}
      export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32}
      export SPARK_GRAFT_PERIODIC_GC=${SPARK_GRAFT_PERIODIC_GC:-5min}
      echo "[run_main] scale corpus detected ($a): SPARK_GRAFT_OFFHEAP=$SPARK_GRAFT_OFFHEAP JVM_XMX=$JVM_XMX shuffle=$SPARK_GRAFT_SHUFFLE_PARTITIONS cpus=$SPARK_GRAFT_CPUS periodicGC=$SPARK_GRAFT_PERIODIC_GC (GRAFT_NO_SCALE_PRESET=1 overrides)" >&2
      break
    fi
  done
fi

# Default heap: half of MemTotal, at least 2g (the way the Tier-1 test
# command sizes SPARK_DRIVER_MEM). JVM_XMX and the scale preset above win.
JVM_XMX=${JVM_XMX:-$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g) "g"}' 2>/dev/null </proc/meminfo || echo 2g)}

exec java -Xmx$JVM_XMX ${JVM_OPTS:-} \
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
  -Dio.netty.tryReflectionSetAccessible=true \
  -cp "$CP" "$@"
