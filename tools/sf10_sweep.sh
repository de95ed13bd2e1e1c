#!/usr/bin/env bash
# Standing per-round 100x gate: full-catalog hash-mode Verify at sf10.
#
# Runs every catalog query (minus EXCLUDE prefixes; default -q177 — the
# one query whose exact calibration oracle cannot run at sf10 on either
# engine; q199 is its documented at-scale twin) against a ScaleUp'd
# 100x corpus, in fresh-JVM generations of CHUNK queries (bounds
# dead-shuffle-file accretion per JVM; see SCALING.md "shuffle-file
# accretion"), hash-dump mode (SPARK_GRAFT_HASHDUMP=1: 1-row digest per
# query instead of a 60 M-row coalesce(1) parquet). Afterwards it
# writes a MERGED queries.json (each chunked Verify run overwrites the
# file with only its own slice, which would weaken local_verify's
# declared-vs-present reconciliation) and prints the local_verify
# command to run.
#
# Usage:
#   tools/sf10_sweep.sh [sfDir] [outDir]
#   env: CHUNK (default 10), EXCLUDE (default -q177, comma-separated
#        Verify filter entries appended to every chunk), SWEEP_MEM
#        (default 48g), SPARK_GRAFT_CPUS (default 32),
#        SPARK_GRAFT_SHUFFLE (default 96 — 100x data needs wider-than-
#        core shuffles so sort/agg buffers fit; see GraftSession)
#
# Regenerate the corpus first if scratch/sf10 is absent (~15 min):
#   sbt -batch "runMain graft.tools.ScaleUp /root/testdata/sf0.1 \
#     /root/repo/scratch/sf10 100 --perturb-embeddings"
#
# Oracle side (driver-equivalent local gate; chunked digest — oracle
# rows never materialize in Python):
#   python3 tools/local_verify.py <sfDir> <outDir> -q177
# Sandbox posture for the two quadratic-baseline oracles (they spill
# past the sandbox disk but fit tmpfs): GRAFT_DUCKDB_TEMP=/dev/shm/duck
# GRAFT_DUCKDB_MEM=64GB.
#
# Per-query engine seconds land in <outDir>/sweep_times.log (the
# `[verify] <name> ok t=..` stderr lines) — record the table + total
# wall in SCALING.md each round. Quiet machine; ONE JVM at a time.
set -euo pipefail
REPO=$(cd "$(dirname "$0")/.." && pwd)
SF=${1:-$REPO/scratch/sf10}
OUT=${2:-/tmp/vsf10hash}
CHUNK=${CHUNK:-10}
EXCLUDE=${EXCLUDE:--q177}
export SPARK_GRAFT_CPUS=${SPARK_GRAFT_CPUS:-32}
export SPARK_GRAFT_SHUFFLE=${SPARK_GRAFT_SHUFFLE:-96}
export SPARK_GRAFT_HASHDUMP=1

[ -d "$SF" ] || { echo "missing corpus: $SF (see header for ScaleUp)"; exit 1; }
[ -d "$REPO/target/scala-2.13/classes" ] || { echo "run sbt compile first"; exit 1; }

JOPTS=(-Xmx"${SWEEP_MEM:-48g}" -Dspark.ui.enabled=false -Dspark.sql.session.timeZone=UTC)
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net \
         java.nio java.util java.util.concurrent java.util.concurrent.atomic \
         sun.nio.ch sun.nio.cs sun.security.action sun.util.calendar; do
  JOPTS+=(--add-opens "java.base/$p=ALL-UNNAMED")
done
CP="$REPO/target/scala-2.13/classes:/opt/spark/jars/*"

# query names in catalog-number order: one `Entry("qNN...", run, oracle)`
# per query in the family modules under graft/catalog/. Every Entry( must
# yield a name, so an entry written in another shape stops the sweep
# instead of silently leaving its query out of the gate.
CATALOG=$(cat "$REPO"/src/main/scala/graft/catalog/*.scala | grep -v 'case class Entry(')
mapfile -t NAMES < <(grep -oE 'Entry\("q[0-9]+[a-z0-9_]*"' <<< "$CATALOG" \
  | sed 's/^Entry("//; s/"$//' | sort -uV)
N_ENTRIES=$(grep -oE '\bEntry\(' <<< "$CATALOG" | wc -l)
if [ "${#NAMES[@]}" -eq 0 ] || [ "${#NAMES[@]}" -ne "$N_ENTRIES" ]; then
  echo "[sweep] read ${#NAMES[@]} query names from $N_ENTRIES Entry( registrations" \
       "in graft/catalog/; refusing to run a partial gate" >&2
  exit 1
fi

# apply EXCLUDE prefixes up front so chunks carry only real work
IFS=',' read -ra EXCL <<< "$EXCLUDE"
SELECTED=()
for n in "${NAMES[@]}"; do
  skip=
  for e in "${EXCL[@]}"; do
    [[ -n "$e" && "$n" == "${e#-}"* ]] && skip=1
  done
  [ -z "$skip" ] && SELECTED+=("$n")
done
echo "[sweep] ${#SELECTED[@]} queries (of ${#NAMES[@]}), chunks of $CHUNK, sf=$SF"

mkdir -p "$OUT"
: > "$OUT/sweep_times.log"
t_start=$(date +%s)
i=0
while [ $i -lt ${#SELECTED[@]} ]; do
  chunk=("${SELECTED[@]:$i:$CHUNK}")
  filter=$(IFS=,; echo "${chunk[*]}")
  echo "[sweep] chunk $((i / CHUNK + 1)): ${chunk[0]}..${chunk[-1]}"
  java "${JOPTS[@]}" -cp "$CP" graft.Verify "$SF" "$OUT" "$filter" \
    2> >(tee -a "$OUT/sweep_times.log" | grep --line-buffered '\[verify\]' >&2) \
    > /dev/null
  i=$((i + CHUNK))
done
t_end=$(date +%s)

# merged declared-query list (chunked runs each overwrote it)
python3 - "$OUT" "${SELECTED[@]}" <<'EOF'
import json, sys
out = sys.argv[1]
json.dump(sorted(sys.argv[2:]), open(f"{out}/queries.json", "w"))
EOF

echo "[sweep] engine side done in $((t_end - t_start)) s; times in $OUT/sweep_times.log"
echo "[sweep] now run:  GRAFT_DUCKDB_TEMP=/dev/shm/duck GRAFT_DUCKDB_MEM=64GB \\"
echo "  python3 $REPO/tools/local_verify.py $SF $OUT ${EXCLUDE}"
