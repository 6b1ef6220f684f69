#!/usr/bin/env python3
"""Traced-run summary.

    python3 perfbench/summary.py [--seed N] [WORKLOAD ...]

Reads the result documents and spans that perfbench/run.py keeps in
perfbench/work/results/ and prints, per workload: each layer's span count,
total and self time (self = span time minus its same-thread child spans),
the per-layer metrics with the ratios and their bases, and the tracing
overhead (traced vs untraced run of the same seed, on every end-to-end
metric the traced run also measures).
"""
import argparse
import collections
import glob
import json
import os

RESULTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "work", "results")
RATIOS = {
    "exec.core_util": "exec.task_ms / (measured wall ms x cores)",
    "pointerstore.cas_lost_ratio": "lost CAS / pointerstore.cas_calls",
    "scan.rows_per_row_returned": "input records of read ops / rows the reads returned",
    "write.bytes_per_user_byte": "bytes of files the writes added / (rows written x bytes per row of a fresh CTAS)",
    "write.space_amp": "final snapshot bytes (data + deletes + metadata doc) / fresh CTAS bytes",
    "commit.writer_wall_spread": "(slowest - fastest writer wall) / slowest writer wall",
}


def load(workload, seed, trace):
    pat = os.path.join(RESULTS, f"{workload}-seed{seed if seed is not None else '*'}-trace{trace}.json")
    paths = sorted(glob.glob(pat), key=os.path.getmtime)
    if not paths:
        return None, None
    with open(paths[-1]) as f:
        return json.load(f), paths[-1]


def layer_table(spans_path):
    spans = []
    with open(spans_path) as f:
        for line in f:
            spans.append(json.loads(line))
    child = collections.Counter()
    for s in spans:
        if s["parent"]:
            child[s["parent"]] += s["end_ns"] - s["start_ns"]
    rows = collections.defaultdict(lambda: [0, 0, 0])
    for s in spans:
        dur = s["end_ns"] - s["start_ns"]
        r = rows[s["name"].split(".")[0]]
        r[0] += 1
        r[1] += dur
        r[2] += dur - child[s["id"]]
    return rows


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int)
    ap.add_argument("workloads", nargs="*",
                    default=["query_mix", "lake_ops", "commit_storm"])
    a = ap.parse_args()
    for w in a.workloads:
        traced, path = load(w, a.seed, 1)
        if traced is None:
            print(f"== {w}: no traced run in {RESULTS}")
            continue
        seed = traced["seed"]
        print(f"== {w} (seed {seed}, correct={traced['correct']}, "
              f"attempted={traced['attempted']}, failed={traced['failed']})")
        spans = path[:-len(".json")] + ".spans.jsonl"
        if os.path.exists(spans):
            print(f"  {'layer':<14}{'spans':>9}{'total_ms':>14}{'self_ms':>14}")
            for layer, (n, tot, self_) in sorted(layer_table(spans).items(),
                                                 key=lambda kv: -kv[1][2]):
                print(f"  {layer:<14}{n:>9}{tot / 1e6:>14.1f}{self_ / 1e6:>14.1f}")
        print("  per-layer metrics:")
        for k, v in sorted(traced["layers"].items()):
            base = f"   [{RATIOS[k]}]" if k in RATIOS else ""
            print(f"    {k:<34}{v:>16.4f}{base}")
        for k, v in sorted(traced["info"].items()):
            print(f"    info.{k}: {json.dumps(v)}")
        plain, _ = load(w, seed, 0)
        if plain is None:
            print(f"  tracing overhead: no untraced run of seed {seed}")
            continue
        print("  tracing overhead (traced vs untraced, same seed):")
        for k, v in sorted(plain["e2e"].items()):
            t = traced["e2e"].get(k)
            if t is not None and v:
                print(f"    {k:<16}{v:>14.4f} -> {t:>14.4f}  ({(t - v) / v * 100:+.1f}%)")


if __name__ == "__main__":
    main()
