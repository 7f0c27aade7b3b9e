#!/bin/bash
# Dev runner: launch a graft main on the compiled classes without sbt
# (same JVM flags as build.sbt's forked run; session settings come from
# graft.Sessions). The classes directory is resolved next to this
# script, so a checkout copied elsewhere runs its own build; build it
# with `sbt Compile/products`, which also copies the resources that
# register the kwi data source. Usage:
#   tools/jrun.sh graft.Dev time <sfDir> name1,name2 [passes] [jsonOut]
ROOT="$(cd "$(dirname "${BASH_SOURCE[0]}")/.." && pwd)"
# the Spark jars directory is build.sbt's unmanagedBase
JARS="$(sed -n 's/^unmanagedBase := file("\(.*\)")$/\1/p' "$ROOT/build.sbt")"
OPENS="java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect java.base/java.io java.base/java.net java.base/java.nio java.base/java.util java.base/java.util.concurrent java.base/java.util.concurrent.atomic java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action java.base/sun.util.calendar"
FLAGS=""
for p in $OPENS; do FLAGS="$FLAGS --add-opens $p=ALL-UNNAMED"; done
exec java $FLAGS -Xmx${SPARK_DRIVER_MEM:-48g} -XX:+ExplicitGCInvokesConcurrent \
  -cp "$ROOT/target/scala-2.13/classes:$JARS/*" "$@"
