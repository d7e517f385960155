#!/usr/bin/env python3
"""Layered benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Run from the repository root. Builds the program and the benchmark from
source (perfbench/build.py), then runs one workload in one JVM with
local[<cores>] and a single thread issuing operations.

A run sets up three times (setup_s is the median), checks every output and
warms up untimed, then times the workload's passes: two for spatial_join,
one for catalog_mix, whose untimed check pass already costs more than half
a run. Each operation counts at its fastest over the passes, as graft.Bench
reports best-of-N; wall_s is the sum of those, rows_per_s the input rows of
a pass over wall_s, and op_p50_s and op_tail_s are the Harrell-Davis
estimates of their 50th and 75th percentiles, which do not jump when one
operation crosses the percentile. retained_heap_mb is the largest heap in
use after a full collection between passes.

Workloads (BENCHMARK.json says why each was chosen):
- spatial_join: seed-generated clustered points and mixed-size polygons in
  GeoParquet; a SQL st_contains join, SpatialJoin.join in left and semi
  mode, a large-large st_intersects join, a k-nearest join, and a stream of
  bbox-pruned window queries at 0.1%, 1% and 10% selectivity, each
  read as one task.
- catalog_mix: the catalog's headline queries plus one CTE-staged query and
  one checkpoint chain over the sf0.01 test data in perfbench/data, in a
  seed-permuted order; every result hash is checked against
  perfbench/catalog.json (rewrite it with perfbench/record_catalog.py).

With --trace 0 the last stdout line holds the end-to-end metrics; with
--trace 1 it holds the per-layer metrics, each measured from outside the
program: by timing the benchmark's own calls into a module's public
functions, or from the Spark listeners the benchmark registers. A layer a
workload leaves idle reports 0. Which end-to-end metric each layer moves:

  geom.*       kernel ns/op (WKB codec, affine on 202 cities, explode on
               45,000 MultiPoints, measures, simplify, geodesic, point in
               polygon)                        -> rows_per_s, spatial_join
  functions.*  SQL expression ns/row beside the same kernel, and codegen
               fallbacks in executed plans     -> rows_per_s, spatial_join
  plans.*      planning time; index, grid, bbox and nested-loop plan counts
                                               -> op_p50_s on catalog_mix,
                                                  wall_s on spatial_join
  spatial.*    STR-tree build, probe, candidates, refine ratio, k-nearest,
               grid replication                -> wall_s, spatial_join
  sources.*    GeoParquet write rate, storage ratio, bytes read per window
                                               -> op_p50_s, spatial_join
  pipeline.*   LSH precision, ANN recall@k, operator seconds
                                               -> op_tail_s, catalog_mix
  catalog.*    query build time, eager staging jobs, execution time, live
               temp views, block storage       -> op_p50_s and
                                                  retained_heap_mb, catalog_mix
  engine.*     jobs, tasks, scheduler delay, core use, GC, shuffle, spill,
               task skew, peak RSS             -> op_p50_s / wall_s, both
  trace.overhead_s  traced minus untraced pass wall-clock

Exits non-zero without a result when the build or the run fails.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        sys.exit(f"unknown workload {a.workload}")
    classpath = build.build()
    cmd = build.java_cmd(classpath) + [
        "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace]
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit(f"run exceeded {RUN_TIMEOUT_S} s")
    lines = r.stdout.decode().strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.exit(f"run failed with code {r.returncode}")
    result = json.loads(lines[-1])
    want = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace == "1" else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        sys.exit(f"metrics {sorted(got.items())} do not match BENCHMARK.json {sorted(want.items())}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
