#!/usr/bin/env python3
"""Self-test of the graft benchmark: run every workload once on tiny
inputs (sf0.001-sized tables, 1,000 documents) with tracing on, and
check that the run is correct and that every declared metric, plus each
workload's own metrics, is present, finite and carries its unit.

    python3 graftbench/selftest.py        # from the root of a graft checkout

Exits 0 when every workload passes.
"""
import json
import math
import os
import subprocess
import sys
import tempfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OWN = {
    "pipeline": ["pipeline_docs_per_s", "pipeline_input_docs"],
    "query_mix": ["mix_short_s", "mix_loop_s"],
    "warehouse": ["wh_patch_s", "wh_merge_s", "wh_fold_s", "wh_lookup_s.p50", "wh_range_s",
                  "wh_read_s", "wh_space_amp"],
}
MODULES = {
    "pipeline": ["sources.load", "text.quality_filter", "dedup.exact", "dedup.minhash_pairs",
                 "dedup.components", "text.lm_quality_filter", "operators.shuffle_rank",
                 "text.pack_sequences", "sources.write_parquet"],
    "query_mix": ["operators.core", "sources.tables_tpch", "corpus.chain_sf01", "similarity.knn",
                  "operators.graph"],
    "warehouse": ["sources.versioned.patch", "sources.versioned.merge", "sources.versioned.fold",
                  "sources.versioned.lookup", "sources.versioned.range", "sources.versioned.read"],
}

EXTRA = {
    "pipeline": ["dedup.minhash_pairs.pairs", "dedup.components.useful_ratio",
                 "text.pack_sequences.fill_ratio", "sources.write_parquet.bytes"],
    "query_mix": ["operators.checkpoints.count", "operators.checkpoints.pinned_bytes"],
    "warehouse": ["sources.versioned.bytes_written_per_publish",
                  "sources.versioned.files_written_per_publish",
                  "sources.versioned.delta_layers_at_read", "sources.versioned.lookup_input_bytes"],
}


def check_metric(errors, where, metrics, name, unit=None):
    m = metrics.get(name)
    if m is None:
        errors.append(f"{where}: {name} missing")
    elif not isinstance(m.get("value"), (int, float)) or not math.isfinite(m["value"]):
        errors.append(f"{where}: {name} is not a finite number: {m.get('value')}")
    elif not m.get("unit") or (unit is not None and m["unit"] != unit):
        errors.append(f"{where}: {name} has unit {m.get('unit')!r}, want {unit!r}")


def run(workload, spec):
    errors = []
    with tempfile.NamedTemporaryFile(suffix=".json", dir=BENCH, delete=False) as tmp:
        full = tmp.name
    try:
        r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                            "--seed", "1", "--seconds", "0", "--trace", "1", "--size", "smoke",
                            "--result-out", full],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                           timeout=900)
        if r.returncode != 0:
            return [f"exited {r.returncode}: {r.stderr[-2000:]}"]
        last = json.loads(r.stdout.strip().splitlines()[-1])
        with open(full) as f:
            res = json.load(f)
    finally:
        if os.path.exists(full):
            os.unlink(full)
    if set(last) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"result keys {sorted(last)}")
    if last.get("correct") is not True:
        errors.append(f"not correct: {res['problems']} {res['failures']}")
    if not isinstance(last.get("attempted"), int) or last["attempted"] < 1:
        errors.append(f"attempted = {last.get('attempted')}")
    if last.get("failed") != 0:
        errors.append(f"failed = {last.get('failed')}")
    if set(last.get("metrics", {})) != {m["name"] for m in spec["per_layer"]}:
        errors.append("per-layer metric names differ from BENCHMARK.json")
    for m in spec["per_layer"]:
        check_metric(errors, "per_layer", last.get("metrics", {}), m["name"], m["unit"])
    for m in spec["end_to_end"]:
        check_metric(errors, "end_to_end", res["end_to_end"], m["name"], m["unit"])
    for name in OWN[workload] + ["ops_failed_frac"]:
        check_metric(errors, "named", res["named"], name)
    for span in MODULES[workload]:
        for counter in ("wall_s", "jobs", "shuffle_bytes", "driver_gap_s"):
            check_metric(errors, "modules", res["modules"], f"{span}.{counter}")
    for name in EXTRA[workload] + ["engine.spill_bytes", "engine.gc_s"]:
        check_metric(errors, "modules", res["modules"], name)
    for name in ("trace.traced_pass_s", "trace.untraced_pass_s", "trace.overhead_s"):
        check_metric(errors, "modules", res["modules"], name, "s")
    return errors


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bad = 0
    # every implemented workload, gated by BENCHMARK.json or not
    for w in OWN:
        errors = run(w, spec)
        print(f"{'PASS' if not errors else 'FAIL'} {w}")
        for e in errors:
            print(f"  {e}")
        bad += bool(errors)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
