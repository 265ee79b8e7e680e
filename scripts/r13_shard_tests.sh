#!/bin/bash
# Run the FULL pytest suite (SPARK_GRAFT_FULL_TESTS=1 — includes the heavy
# tier the driver-window default run skips; see tests/conftest.py) as
# parallel shards with isolated TMPDIRs. The builder pre-commit gate.
# /tmp/spark_graft_* scaled-copy paths all live in shard 0.
set -u
cd "$(dirname "$0")/.."
mkdir -p /tmp/r13_shards
G0="tests/test_curation.py tests/test_graph.py tests/test_multimodal.py tests/test_packing.py tests/test_properties.py"
G1="tests/test_oracle.py tests/test_olap_extra.py tests/test_predicates.py tests/test_prototype.py"
G2="tests/test_streaming.py tests/test_ann_stream.py tests/test_sketches.py tests/test_stats.py tests/test_skew.py tests/test_survivorship.py tests/test_serve.py"
G3="tests/test_plans.py tests/test_extensions.py tests/test_recall.py tests/test_merge.py tests/test_quality.py tests/test_retrieval.py tests/test_repetition.py"
G4="tests/test_pipeline.py tests/test_pq.py tests/test_persistence.py tests/test_unigram.py tests/test_linkage.py tests/test_lsh_index.py tests/test_ivf_index.py tests/test_langid.py tests/test_learning.py tests/test_kmeans.py"
# G5: every tests/test_*.py not named in G0-G4, so a new test file is never
# left out of the full tier
G5=""
for f in tests/test_*.py; do
  case " $G0 $G1 $G2 $G3 $G4 " in
    *" $f "*) ;;
    *) G5="$G5 $f" ;;
  esac
done
i=0
pids=()
for G in "$G0" "$G1" "$G2" "$G3" "$G4" "$G5"; do
  mkdir -p /tmp/r13_shards/tmp$i
  TMPDIR=/tmp/r13_shards/tmp$i SPARK_GRAFT_FULL_TESTS=1 SPARK_GRAFT_CPUS=8 \
    python -m pytest $G -q --no-header > /tmp/r13_shards/shard$i.log 2>&1 &
  pids+=($!)
  i=$((i+1))
done
echo "pids: ${pids[*]}"
for p in "${pids[@]}"; do wait $p; done
echo "ALL SHARDS DONE"
for j in 0 1 2 3 4 5; do echo "--- shard $j:"; tail -2 /tmp/r13_shards/shard$j.log; done
