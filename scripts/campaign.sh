#!/bin/bash
# Evidence campaign: run the named steps in order, one at a time (parallel
# sbt runs fight over cores and poison the wall-clock numbers).
#
# Usage: scripts/campaign.sh STEP...
#   corpus:<sf>   build a ScaleUp corpus into /tmp/graft-<sf> unless it
#                 exists: sf1 (10 copies of sf0.1), sf10 (100), skew (10,
#                 adversarial skew), skew10 (100, skew, documents+embeddings)
#   verify:<sf>   graft.Verify into /tmp/verify_<sf>, then
#                 scripts/check_oracle.py; a ScaleUp corpus also writes
#                 docs/<sf>_correctness.json
#   bench:<sf>    full graft.Bench sweep (writes docs/bench_full_<sf>.json)
#   heavies:<sf>  graft.Bench over the pair-generating heavies, tagged
#                 <sf>-heavies (docs/bench_full_<sf>-heavies.json)
#   plans:<tag>   final plans at sf0.01 into plans/<tag>/<query>_after.txt
#   compare:<rev>:<sf>[:<q1,q2,...>]
#                 same outputs A/B: graft.Verify at git revision <rev>
#                 (exported with git archive into $TMPDIR, default /tmp)
#                 and at the working tree, then check_oracle.py --compare
#                 on the two dumps; exits non-zero if any query differs.
#                 The optional comma-separated names go to Verify's name
#                 filter (a query runs if its name contains one of them),
#                 so e.g. compare:HEAD~1:sf0.1:dedup_semantic,curate_d4
#                 A/Bs only those queries
#   clean         drop the derived-table warehouse so indexes rebuild
# <sf> is sf0.001, sf0.01 or sf0.1 (under $TESTDATA) or a ScaleUp corpus.
#
# Example, a round's closing pass:
#   TESTDATA=<dir> scripts/campaign.sh plans:r15 clean bench:sf0.1 \
#     corpus:sf1 verify:sf1 bench:sf1 verify:sf0.01
#
# graft.Bench gates every artifact run on a quiet host (waiting up to
# SPARK_GRAFT_LOAD_WAIT_S) and records the gate in the artifact.
set -eu
cd "$(dirname "$0")/.."
export SPARK_GRAFT_LOAD_WAIT_S=${SPARK_GRAFT_LOAD_WAIT_S:-2400}
HEAVIES="vec_knn_join vec_knn_join_ann vec_knn_join_auto dedup_embedding
  dedup_ngram_jaccard dedup_substring dedup_incremental mm_phash_dedup
  graph_iface_match"

corpus_dir() {
  case $1 in
    sf0.*) echo "${TESTDATA:?set TESTDATA to the dir holding $1}/$1" ;;
    *) echo "/tmp/graft-$1" ;;
  esac
}

scaleup_args() {
  case $1 in
    sf1) echo "10" ;;
    sf10) echo "100" ;;
    skew) echo "10 skew" ;;
    skew10) echo "100 skew documents embeddings" ;;
    *) echo "unknown ScaleUp corpus '$1'" >&2; exit 2 ;;
  esac
}

run() { sbt -batch "runMain $*"; }

for step in "$@"; do
  echo "=== $step ==="
  arg=${step#*:}
  case $step in
    corpus:*)
      dir=$(corpus_dir "$arg")
      [ -f "$dir/documents.parquet" ] ||
        run graft.ScaleUp "$(corpus_dir sf0.1)" "$dir" $(scaleup_args "$arg") 2>&1 | grep scaleup
      ;;
    verify:*)
      dir=$(corpus_dir "$arg"); out=/tmp/verify_$arg
      run graft.Verify "$dir" "$out" 2>&1 | grep "\[verify\]" || true
      # per-query oracle timeout: sf10 replays run for minutes
      python3 scripts/check_oracle.py "$dir" "$out" 1800 > "$out.oracle.log" || true
      tail -1 "$out.oracle.log"
      case $arg in
        sf0.*) ;;
        *) python3 scripts/correctness_artifact.py "$arg" \
             "graft.ScaleUp $(scaleup_args "$arg") over sf0.1 at $(git rev-parse --short HEAD)" \
             "docs/${arg}_correctness.json" < "$out.oracle.log" ;;
      esac
      ;;
    bench:*)
      SPARK_GRAFT_SF_DIR=$(corpus_dir "$arg") run graft.Bench 2>&1 |
        grep -E "bench-vs-baseline|\"metric\"" | tail -2
      ;;
    heavies:*)
      SPARK_GRAFT_BENCH_TAG=$arg-heavies SPARK_GRAFT_SF_DIR=$(corpus_dir "$arg") \
        run graft.Bench $HEAVIES 2>&1 | grep "bench-full" | tail -1
      ;;
    plans:*) bash scripts/capture_plans.sh "$arg" after "$(corpus_dir sf0.01)" ;;
    compare:*)
      rev=${arg%%:*}; sf=${arg#*:}; names=""
      case $sf in *:*) names=${sf#*:}; names=${names//,/ }; sf=${sf%%:*} ;; esac
      dir=$(corpus_dir "$sf")
      tmp=${TMPDIR:-/tmp}; short=$(git rev-parse --short "$rev")
      tree=$tmp/graft-compare-$short
      base=$tmp/verify_${sf}_$short; work=$tmp/verify_${sf}_work
      rm -rf "$tree" "$base" "$work"; mkdir -p "$tree"
      git archive "$rev" | tar -x -C "$tree"
      (cd "$tree" && run graft.Verify "$dir" "$base" $names) 2>&1 | grep "\[verify\]" || true
      run graft.Verify "$dir" "$work" $names 2>&1 | grep "\[verify\]" || true
      python3 scripts/check_oracle.py --compare "$base" "$work"
      ;;
    clean) rm -rf spark-warehouse ;;
    *) echo "unknown step '$step'" >&2; exit 2 ;;
  esac
done
echo "=== campaign done ==="
