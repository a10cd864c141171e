#!/bin/sh
# Rebuild NoForkLocalFileSystem.jar from its source, against the Hadoop
# client API that ships with the installed PySpark.  Usage:
#   pandas_sigproc_spark/jvm/build.sh [OUT_DIR]   (default: this directory)
# Needs a JDK (javac, jar); the session itself needs only a JRE.
set -eu
here=$(cd "$(dirname "$0")" && pwd)
out=${1:-$here}
jars=$(python3 -c 'import os, pyspark; print(os.path.join(os.path.dirname(pyspark.__file__), "jars"))')
api=$(ls "$jars"/hadoop-client-api-*.jar | head -n 1)
classes=$(mktemp -d)
trap 'rm -rf "$classes"' EXIT
javac --release 17 -cp "$api" -d "$classes" "$here/NoForkLocalFileSystem.java"
mkdir -p "$out"
jar --create --no-manifest --date=2000-01-01T00:00:02Z \
    --file "$out/NoForkLocalFileSystem.jar" -C "$classes" .
