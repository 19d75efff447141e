#!/usr/bin/env bash
# Builds the benchmark together with the engine sources of this checkout
# (once; again only when a source is newer than the build) and runs it:
#
#   bash perfbench/run.sh --workload <name> --seed <n> --seconds <s> --trace <0|1>
#
# Everything it writes stays under perfbench/: the build in target/ and
# project/target/, inputs and scratch in .work/ (removed at exit), span
# dumps of traced runs in traces/.
set -euo pipefail
bench="$(cd "$(dirname "${BASH_SOURCE[0]}")" && pwd)"
root="$(dirname "$bench")"
if [ ! -d "$root/src/main/scala/graft" ]; then
  echo "perfbench: no engine sources at $root/src/main/scala" >&2
  exit 2
fi
if [ -z "${SPARK_HOME:-}" ] && command -v spark-submit > /dev/null; then
  SPARK_HOME="$(cd "$(dirname "$(command -v spark-submit)")/.." && pwd)"
fi
export SPARK_HOME
export COURSIER_MODE="${COURSIER_MODE:-offline}"
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx2g}"
cp_file="$bench/target/run-classpath.txt"
if [ ! -s "$cp_file" ] || [ -n "$(find "$root/src/main" "$bench/src/main" "$bench/build.sbt" -newer "$cp_file" -print -quit)" ]; then
  mkdir -p "$bench/target"
  if ! (cd "$bench" && sbt --batch -Dsbt.log.noformat=true -Dsbt.server.autostart=false \
      compile "export Runtime/fullClasspath") > "$bench/target/build.log" 2>&1; then
    tail -40 "$bench/target/build.log" >&2
    echo "perfbench: build failed" >&2
    exit 3
  fi
  grep '/target/scala-2.13/classes' "$bench/target/build.log" | tail -1 > "$cp_file.tmp"
  mv "$cp_file.tmp" "$cp_file"
fi
mkdir -p "$bench/.work/tmp"
opens=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util \
    java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs sun.security.action \
    sun.util.calendar; do
  opens+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
# two GC threads, as the session has two task slots (perfbench.Main.Cores):
# the process should not ask for more cores than the host has
exec java -Xmx3g -XX:ParallelGCThreads=2 -XX:ConcGCThreads=1 "${opens[@]}" -Djava.io.tmpdir="$bench/.work/tmp" -Dperfbench.dir="$bench" \
  -Dspark.ui.enabled=false -Dfile.encoding=UTF-8 \
  -cp "$(cat "$cp_file")" perfbench.Main "$@"
