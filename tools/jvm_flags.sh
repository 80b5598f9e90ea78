#!/bin/bash
# Shared launch flags for the direct-JVM tool scripts (bench, profile,
# explain, oracle_check): source it after setting REPO to the checkout
# root, then run
#   java "${GRAFT_JVM_FLAGS[@]}" <heap flags> -cp "$GRAFT_CP" <main> ...
# The --add-opens list is build.sbt's jdk17AddOpens (Spark 4 on JDK 17
# outside spark-submit); change both together.
GRAFT_JVM_FLAGS=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  GRAFT_JVM_FLAGS+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
GRAFT_JVM_FLAGS+=(-Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC)
# compiled classes plus the Spark jars the sbt build compiles against
# (its unmanagedBase)
GRAFT_SPARK_JARS="$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$REPO/build.sbt")"
GRAFT_CP="$REPO/target/scala-2.13/classes:$GRAFT_SPARK_JARS/*"
