#!/usr/bin/env bash
# CDC micro-batch benchmark launcher. Run from the root of a checkout:
#
#   bash perfbench/run.sh --workload trickle|serve --seed N \
#       --seconds S --trace 0|1
#
# The first run compiles the checkout's library sources together with
# the benchmark (sbt, offline) into perfbench/target and leaves a
# class-data-sharing archive there; later runs reuse both unless a
# source is newer. Everything the run reads and
# writes stays under perfbench/target. The last stdout line is the
# result JSON; build and Spark logs go to stderr.
set -euo pipefail

here="$(cd "$(dirname "${BASH_SOURCE[0]}")" && pwd)"
root="$(dirname "$here")"
if [ ! -d "$root/src/main/scala/graft" ]; then
  echo "perfbench: no library sources under $root/src/main/scala" >&2
  exit 2
fi

target="$here/target"
cp_file="$target/runtime-classpath.txt"
jsa="$target/classes.jsa"
mkdir -p "$target"
if [ ! -s "$cp_file" ] || [ -n "$(find "$root/src/main" "$here/src/main" \
    "$here/build.sbt" -newer "$cp_file" -print -quit)" ]; then
  # sbt and SPARK_HOME usually come from the login profile: a caller
  # without them gets them by running this script again as a login shell.
  if { ! command -v sbt >/dev/null || [ -z "${SPARK_HOME:-}" ]; } \
      && [ -z "${PERFBENCH_LOGIN:-}" ]; then
    PERFBENCH_LOGIN=1 exec bash -l "${BASH_SOURCE[0]}" "$@"
  fi
  if [ -z "${SPARK_HOME:-}" ] || [ ! -d "$SPARK_HOME/jars" ]; then
    echo "perfbench: set SPARK_HOME to the Spark installation to build against" >&2
    exit 3
  fi
  if ! command -v sbt >/dev/null; then
    echo "perfbench: sbt is not on PATH" >&2
    exit 3
  fi
  export COURSIER_MODE="${COURSIER_MODE:-offline}"
  export SBT_OPTS="${SBT_OPTS:--Dsbt.offline=true -Xmx2g}"
  log="$target/build.log"
  if ! (cd "$here" && sbt --batch -Dsbt.log.noformat=true \
      compile "export Runtime/fullClasspath") >"$log" 2>&1; then
    cat "$log" >&2
    echo "perfbench: build failed" >&2
    exit 3
  fi
  grep -v '^\[' "$log" | grep 'perfbench' | tail -1 > "$cp_file.tmp"
  [ -s "$cp_file.tmp" ] || { cat "$log" >&2; echo "perfbench: no classpath" >&2; exit 3; }
  mv "$cp_file.tmp" "$cp_file"
  rm -f "$jsa"
fi

# Class-data sharing: the first run after a build dumps the classes it
# loaded into an archive at exit; later runs map it and start faster.
if [ -f "$jsa" ]; then cds=(-XX:SharedArchiveFile="$jsa")
else cds=(-XX:ArchiveClassesAtExit="$jsa"); fi

opens=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
    java.nio java.util java.util.concurrent java.util.concurrent.atomic \
    sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  opens+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
work="$target/work"
mkdir -p "$work/tmp"
unset SPARK_LOCAL_DIRS
exec java "${opens[@]}" "${cds[@]}" -Xlog:disable -Xlog:all=warning:stderr \
  -Xmx2g -XX:+UseParallelGC \
  -Djava.io.tmpdir="$work/tmp" \
  -Dperfbench.work="$work" -Dperfbench.out="$target/out" \
  -cp "$(cat "$cp_file")" perfbench.Main "$@"
