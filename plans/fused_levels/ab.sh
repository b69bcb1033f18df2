#!/bin/sh
# Interleaved A/B of the benchmark: for each seed, run the parent and the
# change checkouts back to back (alternating which goes first) and append
# one JSON line per run to OUT.
#   sh plans/fused_levels/ab.sh PARENT_DIR CHANGE_DIR WORKLOAD FIRST_SEED PAIRS OUT
parent=$1 change=$2 workload=$3 seed=$4 pairs=$5 out=$6
i=0
while [ "$i" -lt "$pairs" ]; do
    s=$((seed + i))
    if [ $((i % 2)) -eq 0 ]; then order="parent change"; else order="change parent"; fi
    for side in $order; do
        if [ "$side" = parent ]; then dir=$parent; else dir=$change; fi
        res=$(cd "$dir" && python3 perfbench/run.py --workload "$workload" --seed "$s" --seconds 15 --trace 0 2>/dev/null | tail -n 1)
        echo "{\"side\": \"$side\", \"seed\": $s, \"out\": $res}" >> "$out"
    done
    i=$((i + 1))
done
