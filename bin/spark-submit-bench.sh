#!/usr/bin/env bash
# Run the graded surfaces via spark-submit (the north rule's deployment
# mode), against the plain `sbt package` jar — no assembly needed, the
# engine has no dependencies beyond Spark itself.
#
#   ./bin/spark-submit-bench.sh [sf-dir] [cpus]    (cpus defaults to nproc)
#
# The Bench main itself runs the same job at local[N] and local[4N]
# (cluster-size pair, shuffle partitions scaled) and prints one JSON line
# with urls_per_sec per level + scaling_efficiency — the sandbox evidence
# for the >=0.8 N->4N criterion. On a real cluster, replace --master and
# drop SPARK_GRAFT_CPUS: the store layout is a data property and does not
# change with executor count.
set -euo pipefail
SF_DIR="${1:-/root/testdata/sf0.1}"
CPUS="${2:-$(nproc)}"
JAR="$(dirname "$0")/../target/scala-2.13/fronteraspark_2.13-0.1.0.jar"
[ -f "$JAR" ] || { echo "run 'sbt package' first" >&2; exit 1; }
# local mode runs driver + executors in ONE JVM: spark-submit's 1g default
# driver heap must be raised to the same heap the sbt-forked runs use, or
# the shuffle-heavy suite OOMs mid-run (observed: heap exhaustion ~10 min
# in at the default). On a real cluster size executor memory instead.
DRIVER_MEM="${SPARK_DRIVER_MEM:-8g}"
SPARK_GRAFT_SF_DIR="$SF_DIR" SPARK_GRAFT_CPUS="$CPUS" \
  exec /opt/spark/bin/spark-submit \
    --master "local[$CPUS]" \
    --driver-memory "$DRIVER_MEM" \
    --conf spark.ui.enabled=false \
    --class graft.Bench "$JAR"
