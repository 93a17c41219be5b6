# Shared set-up of the scripts that run graft in a plain `java` process
# (verify_subset.sh, close_gate.sh, bench_standalone.sh,
# calibrate_cost.sh). Source it from the repo root, after `sbt compile`:
#   . scripts/jvm.sh
#   "${GRAFT_JAVA[@]}" -Xmx8g graft.Verify ...
# It exits if the compiled classes are missing (the message starts with
# $MISSING_PREFIX, when the caller sets it), and sets GRAFT_JAVA to the
# java command line every such script shares: the --add-opens flags Spark
# needs on Java 17, the UI off, UTC sessions and the classpath of the
# compiled classes plus Spark's jars ($SPARK_HOME, else the installation
# spark-submit on PATH belongs to). Heap, CPU count and main class stay
# with each caller.
CLASSES="target/scala-2.13/classes"
[ -d "$CLASSES" ] || { echo "${MISSING_PREFIX:-}run 'sbt compile' first" >&2; exit 1; }
SPARK_JARS="${SPARK_HOME:-$(dirname "$(dirname "$(command -v spark-submit)")")}/jars"

GRAFT_JAVA=(env SPARK_LOCAL_IP=127.0.0.1 java)
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  GRAFT_JAVA+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
GRAFT_JAVA+=(-Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC
  -cp "$CLASSES:$SPARK_JARS/*")
