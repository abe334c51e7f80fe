#!/usr/bin/env python3
"""Self-test of the benchmark: tiny inputs, every workload, both modes.

    python3 perfbench/selftest.py

Run from the root of a checkout. For each workload it runs an untraced and
a traced run at tiny size and checks that:
  - the last stdout line is a result with every op correct;
  - the untraced run emits exactly the end_to_end metrics of
    BENCHMARK.json, and the traced run exactly the per_layer metrics, each
    with its unit;
  - every layer metric of a layer the workload exercises is non-zero;
  - the traced run wrote its span file, per-op counters and the tracing
    overhead.
It also checks that the benchmark refuses to run, quickly and without a
result, in a directory holding only BENCHMARK.json and perfbench/.
Exit code 0 means every check passed.
"""
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SPARK = ["spark.jobs", "spark.driver_s", "spark.jobs_s", "spark.stages", "spark.tasks",
         "spark.task_cpu_s", "spark.input_rows", "spark.peak_exec_mem_mb",
         "catalyst.actions", "catalyst.optimization_ms", "catalyst.plan_nodes_max"]
# layer metrics that must be non-zero on the workload that exercises them
EXERCISED = {
    "spatial": SPARK + [
        "model.read_ms", "model.transform_ms", "model.write_s", "query.build_ms",
        "query.scan_fraction", "geom.contains_point_ns", "geom.intersects_ns",
        "geom.wkb_read_ns", "ops.aggregate_s",
        "ops.tiles_s", "ops.tiles_ns_per_px", "sources.ngff_write_s",
        "sources.refstore_write_s", "sources.refstore_jobs", "sources.bytes_per_raster_byte",
        "ops.halo_s", "ops.halo_shuffle_per_raster_byte", "ops.rasterize_s", "ops.crop_s",
        "sources.ngff_read_s"],
    "corpus_pipeline": SPARK + [
        "pipeline.ann_search_s", "pipeline.adc_ns_per_row", "pipeline.ann_recall_at_k",
        "pipeline.bm25_s", "pipeline.band_probe_s", "pipeline.rrf_s", "pipeline.dedup_s",
        "pipeline.edit_pairs_s", "pipeline.graph_s", "pipeline.minhash_ns_per_doc",
        "pipeline.index_append_s"],
}


def run(workload, trace, cwd, seed=7):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "2", "--trace", trace, "--size", "tiny"]
    return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=400)


def main():
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {"0": {m["name"]: m["unit"] for m in bench["end_to_end"]},
            "1": {m["name"]: m["unit"] for m in bench["per_layer"]}}
    errors = []
    for wl in [w["name"] for w in bench["workloads"]]:
        for trace in ("0", "1"):
            proc = run(wl, trace, root)
            tag = f"{wl} trace={trace}"
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                errors.append(f"{tag}: exit {proc.returncode}: {proc.stderr[-500:]}")
                continue
            res = json.loads(lines[-1])
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                errors.append(f"{tag}: result keys {sorted(res)}")
            if not res.get("correct") or res.get("failed") != 0 or res.get("attempted", 0) < 1:
                errors.append(f"{tag}: correct={res.get('correct')} "
                              f"failed={res.get('failed')}/{res.get('attempted')}")
            got = {k: v.get("unit") for k, v in res.get("metrics", {}).items()}
            if got != want[trace]:
                missing = sorted(set(want[trace]) - set(got))
                extra = sorted(set(got) - set(want[trace]))
                bad = sorted(k for k in got if k in want[trace] and got[k] != want[trace][k])
                errors.append(f"{tag}: missing {missing} extra {extra} wrong units {bad}")
            for k, v in res.get("metrics", {}).items():
                if not isinstance(v.get("value"), (int, float)):
                    errors.append(f"{tag}: {k} is not a number: {v.get('value')}")
            if trace == "0":
                zero = [k for k, v in res["metrics"].items()
                        if k != "ok_frac" and not v.get("value")]
                if zero:
                    errors.append(f"{tag}: zero end-to-end metrics {zero}")
            if trace == "1":
                zero = [k for k in EXERCISED[wl] if not res["metrics"].get(k, {}).get("value")]
                if zero:
                    errors.append(f"{tag}: exercised layers read 0: {zero}")
                name = os.path.join(root, ".bench_out", f"{wl}-seed7-trace1")
                for suffix in (".spans.jsonl", ".ops.jsonl", ".json"):
                    if not os.path.isfile(name + suffix):
                        errors.append(f"{tag}: no {name + suffix}")
                with open(name + ".json") as f:
                    summary = json.load(f)
                if not summary.get("tracing_overhead"):
                    errors.append(f"{tag}: no tracing overhead in the summary")
            print(f"{tag}: checked", flush=True)

    # a directory holding only the benchmark must be refused, fast
    bare = os.path.join(root, ".bench_out", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    t0 = time.time()
    proc = run("spatial", "0", bare)
    if proc.returncode == 0 or proc.stdout.strip() or time.time() - t0 > 180:
        errors.append(f"bare directory: exit {proc.returncode}, stdout {proc.stdout[-200:]!r}")
    shutil.rmtree(bare, ignore_errors=True)
    print("bare directory: checked", flush=True)

    for e in errors:
        print(f"FAIL {e}")
    print("selftest: " + ("ok" if not errors else f"{len(errors)} failure(s)"))
    sys.exit(1 if errors else 0)


if __name__ == "__main__":
    main()
