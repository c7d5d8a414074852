#!/bin/sh
# Rebuild the gunzip kernel jar from Gunzip.java, reproducibly: javac
# --release 17 against pyspark's own jars, and fixed entry timestamps.
#   sh kinesis_logs_reader_spark/jvm/build.sh [OUT_JAR]
# OUT_JAR defaults to the committed gunzip.jar next to this script.
set -eu
here=$(cd "$(dirname "$0")" && pwd)
out=${1:-$here/gunzip.jar}
jars=$(python3 -c 'import os, pyspark; print(os.path.join(os.path.dirname(pyspark.__file__), "jars"))')
classes=$(mktemp -d)
trap 'rm -rf "$classes"' EXIT
javac --release 17 -nowarn -cp "$jars/*" -d "$classes" "$here"/*.java
rm -f "$out"
jar --create --no-manifest --date=2000-01-01T00:00:00Z --file "$out" -C "$classes" .
