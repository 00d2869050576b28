#!/bin/bash
# Close gates: run sequentially on final code, cheapest signal first so
# a breakage surfaces early. Logs go to a fresh temporary directory.
#
# Usage: tools/gates.sh [q_id ...]
#   The query ids whose plans changed. The 7-partition and no-broadcast
#   invariance gates run on those; with no ids they run on the whole
#   registry and on the broadcast-bearing set of PLAN_BUDGET.json.
set -u
REPO="$(cd "$(dirname "$0")/.." && pwd)"
cd "$REPO"
# Fixture tables (TESTDATA.md) sit next to the checkout.
DATA="$(dirname "$REPO")/testdata"
R="$(mktemp -d -t gates.XXXXXX)"
echo "logs: $R"

gate() {  # gate NAME LOG CMD... — run CMD into $R/LOG, print its verdict
    local name="$1" log="$2"
    shift 2
    echo "=== $name ==="
    "$@" > "$R/$log" 2>&1
    echo "$name: $(tail -2 "$R/$log" | head -1)"
}

gate "strict + heavy-value sf0.01" strict_sf001.log \
    timeout 4000 python tools/check_oracle.py --strict --heavy-value "$DATA/sf0.01"
gate "pytest" pytest.log timeout 4000 python -m pytest tests/ -q
gate "pinned strict sf0.1" pinned_sf01.log \
    timeout 6000 python tools/check_oracle.py --strict --heavy-value "$DATA/sf0.1" \
    $(grep -v '^#' tools/pinned_strict.txt | tr '\n' ' ')
gate "plan audit --exec" audit.log timeout 4000 python tools/audit_plans.py --exec
gate "bench sf0.1" bench.log timeout 4000 python bench.py
if [ -d spark-warehouse/sf10 ]; then
    gate "heavy-value sf10" heavy_sf10.log \
        timeout 5000 python tools/check_oracle.py --heavy-value spark-warehouse/sf10 \
        q_ngram_jaccard q_containment q_jaccard_prefix q_embed_neardup \
        q_dup_clusters q_cluster_survivors q_leakage_split \
        q_ann_ivf q_ann_pq q_bpe_tokens
fi
gate "bare smoke sf0.001" bare.log timeout 4000 python tools/bare_smoke.py

if [ "$#" -gt 0 ]; then
    nobcast=("$@")
else
    mapfile -t nobcast < <(python -c '
import json
budget = json.load(open("PLAN_BUDGET.json"))
print("\n".join(sorted(n for n, v in budget.items()
      if isinstance(v, dict) and v.get("broadcast_exchanges", 0) > 0)))')
fi
gate "7-partition invariance" strict_7part.log env SPARK_GRAFT_CPUS=7 \
    timeout 4000 python tools/check_oracle.py --strict "$DATA/sf0.01" "$@"
gate "no-broadcast invariance" nobcast.log \
    timeout 4000 python tools/check_oracle.py --strict --no-broadcast "$DATA/sf0.01" \
    "${nobcast[@]}"
echo "ALL GATES DONE (logs: $R)"
