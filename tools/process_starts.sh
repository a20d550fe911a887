#!/usr/bin/env bash
# Count the OS processes one benchmark run starts, by command and by the
# top Spark, Parquet or Hadoop frame that started them.
#
# Usage: tools/process_starts.sh <workload> <seed>
#   e.g. tools/process_starts.sh etl_refresh 1
#
# Runs `benchmark/run.py --workload <workload> --seed <seed> --seconds 5
# --trace 0` twice. The first run is not recorded: it builds the harness
# when the sources changed, and JAVA_TOOL_OPTIONS would otherwise record
# sbt's JVM too. The second runs the harness JVM under a JFR recording
# (JAVA_TOOL_OPTIONS=-XX:StartFlightRecording=...), and the script prints
# the `jdk.ProcessStart` events of that JVM. The recording slows the run,
# so its timings are diagnostic only, not benchmark numbers.
set -eu
W=${1:?usage: tools/process_starts.sh <workload> <seed>}
S=${2:?usage: tools/process_starts.sh <workload> <seed>}
cd "$(dirname "$0")/.."
TMP=$(mktemp -d)
trap 'rm -rf "$TMP"' EXIT
run() { python3 benchmark/run.py --workload "$W" --seed "$S" --seconds 5 --trace 0; }

echo "[process-starts] build and unrecorded run..."
run > /dev/null
echo "[process-starts] recorded run..."
JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=$TMP/run.jfr,dumponexit=true,settings=default" run \
  | tail -1 | sed 's/^/[process-starts] run (diagnostic timings): /'
JFR="$(dirname "$(readlink -f "$(command -v java)")")/jfr"
"$JFR" print --json --stack-depth 64 --events jdk.ProcessStart "$TMP/run.jfr" > "$TMP/starts.json"
python3 - "$TMP/starts.json" <<'PY'
import collections, json, os, sys

events = json.load(open(sys.argv[1]))["recording"]["events"]
# frames of the filesystem and shell layers sit above the caller that
# decided to write; the first frame outside them names that caller
layers = ("java.", "jdk.", "sun.", "org.apache.hadoop.fs.", "org.apache.hadoop.util.",
          "org.apache.hadoop.io.", "org.apache.hadoop.hive.")
by_command, by_frame = collections.Counter(), collections.Counter()
for e in events:
    v = e["values"]
    by_command[os.path.basename(v["command"].split(" ")[0])] += 1
    frames = [f["method"]["type"]["name"].replace("/", ".") + "." + f["method"]["name"]
              for f in (v.get("stackTrace") or {}).get("frames", [])]
    top = next((f for f in frames if f.startswith("org.apache.") and not f.startswith(layers)),
               "(no Spark, Parquet or Hadoop frame)")
    by_frame[top] += 1
print(f"process starts: {len(events)}")
print("by command:")
for k, n in by_command.most_common():
    print(f"  {n:6d} {k}")
print("by top Spark/Parquet/Hadoop frame:")
for k, n in by_frame.most_common():
    print(f"  {n:6d} {k}")
PY
