#!/usr/bin/env bash
# Pipeline benchmark entry point, run from the repository root:
#
#   bash pipebench/run.sh --workload etl_batch --seed 1 --seconds 12 --trace 0
#
# The first run in a checkout compiles the program's sources together with
# the benchmark (sbt, offline); later runs reuse that build while the
# sources are unchanged. The last line of stdout is the result JSON.
set -euo pipefail

here="$(cd "$(dirname "${BASH_SOURCE[0]}")" && pwd)"
root="$(cd "$here/.." && pwd)"

if [ ! -d "$root/src/main/scala/graft" ]; then
  echo "pipebench: no program sources at $root/src/main/scala/graft" >&2
  exit 2
fi

work="$here/.work"
mkdir -p "$work"

# the Spark distribution the build compiles against
if [ -z "${SPARK_HOME:-}" ] && command -v spark-submit >/dev/null; then
  SPARK_HOME="$(dirname "$(dirname "$(readlink -f "$(command -v spark-submit)")")")"
fi
export SPARK_HOME

# offline build settings, as the repository's own test runs use them
export COURSIER_MODE="${COURSIER_MODE:-offline}"
if [ -z "${SBT_OPTS:-}" ] && [ -f "$HOME/.sbt/repositories" ]; then
  export SBT_OPTS="-Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g"
fi

stamp="$( (cd "$root" && find src/main pipebench/src/main pipebench/build.sbt \
  pipebench/project/build.properties -type f -print0 | sort -z |
  xargs -0 sha1sum) | sha1sum | cut -d' ' -f1)"
cpfile="$work/classpath-$stamp"
if [ ! -s "$cpfile" ]; then
  log="$work/build.log"
  if ! (cd "$here" && sbt -batch -Dsbt.log.noformat=true \
        "export Runtime/fullClasspath") >"$log" 2>&1; then
    tail -n 40 "$log" >&2
    echo "pipebench: build failed (log: $log)" >&2
    exit 3
  fi
  tail -n 1 "$log" >"$cpfile.tmp"
  mv "$cpfile.tmp" "$cpfile"
fi

# heap capped from the host the same way the repository's tests size it
# (half of RAM, between 2 and 8 GB); it starts at 2 GB, about what the
# workloads use, so heap growth does not differ from run to run
mem="$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)"

opens=()
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  opens+=(--add-opens "java.base/$p=ALL-UNNAMED")
done

# every file the run writes stays under pipebench/.work
mkdir -p "$work/tmp"
export SPARK_LOCAL_DIRS="$work/tmp"
exec java -Xms2g -Xmx"$mem" -XX:-UsePerfData "${opens[@]}" \
  --add-modules jdk.incubator.foreign --enable-native-access=ALL-UNNAMED \
  -Dfile.encoding=UTF-8 -Dsun.jnu.encoding=UTF-8 \
  -Djava.io.tmpdir="$work/tmp" -Dderby.system.home="$work/tmp" \
  -Dpipebench.home="$here" -Dlog4j2.configurationFile="$here/log4j2.properties" \
  -cp "$(cat "$cpfile")" pipebench.Main "$@"
