#!/usr/bin/env python3
"""Self-test of the benchmark at tiny sizes.

    python3 perfbench/selftest.py

Run from the root of the checkout. For each workload in BENCHMARK.json
it runs perfbench/run.py at `--size tiny` three times: untraced (every
end-to-end metric, all answers correct), traced (every per-layer
metric, and > 0 for each layer the workload moves) and with `--corrupt 1` (the perturbed answer must be counted as
a failure). It also checks that run.py refuses a directory without the
program's sources. Exits non-zero on the first failed check.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))

# Per-layer metrics each workload must move (read > 0 in its traced run);
# the layer -> workload map of NOTES.md.
MOVES = {
    "profile": [
        "io.track_read_s", "io.zarr_decode_s", "io.zarr_decode_mbps",
        "io.nc3_decode_s", "io.nc3_decode_mbps", "io.layout_write_s", "io.layout_write_tasks",
        "io.ingest_shuffle_bytes", "io.layout_files", "io.layout_bytes",
        "stored_bytes_per_raw_byte", "pipeline.plan_s",
        "scan.rows_read", "scan.files_read", "scan.useful_ratio", "scan.cpu_s",
        "ops.gather_rows", "ops.aggregate_s",
        "exchange.shuffle_write_bytes", "exchange.shuffle_read_bytes",
        "profile_p50_s", "profile_ops", "ingest_zarr_s", "ingest_nc3_s",
        "peak_rss_mb", "host.busy_pct"],
    "catalog": [
        "queries.plan_s", "queries.stages", "queries.tasks",
        "queries.codegen_fallbacks", "queries.relational_s", "queries.events_s",
        "queries.text_s", "queries.dedup_s", "queries.vector_s", "queries.web_s",
        "queries.media_s", "ext.vorbis_decode_us", "ext.h264_decode_us",
        "exchange.shuffle_write_bytes", "exchange.shuffle_read_bytes",
        "catalog_total_s", "peak_rss_mb", "host.busy_pct"],
}


def run(args, cwd="."):
    p = subprocess.run([sys.executable, os.path.join("perfbench", "run.py")] + args,
                       cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE)
    out = p.stdout.decode().splitlines()
    return p.returncode, out, p.stderr.decode()


def expect(ok, what):
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        sys.exit(1)


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    for w in bench["workloads"]:
        name = w["name"]
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, out, err = run(["--workload", name, "--seed", "1", "--seconds", "1",
                                  "--trace", str(trace), "--size", "tiny"])
            expect(code == 0 and out,
                   f"{name} trace={trace}: exit 0" + ("" if code == 0 else "\n" + err[-2000:]))
            r = json.loads(out[-1])
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            expect(got == want, f"{name} trace={trace}: emits every {key} metric with its unit")
            expect(r["correct"] and r["failed"] == 0 and r["attempted"] >= 1,
                   f"{name} trace={trace}: {r['attempted']} answers, all correct")
            if trace == 0:
                expect(all(v["value"] > 0 for v in r["metrics"].values()),
                       f"{name}: end-to-end metrics are non-zero")
            else:
                zero = [k for k in MOVES[name] if not r["metrics"][k]["value"] > 0]
                expect(not zero, f"{name}: the layers it moves read > 0" +
                       (f" (0: {', '.join(zero)})" if zero else ""))
        code, out, _ = run(["--workload", name, "--seed", "1", "--seconds", "1",
                            "--trace", "0", "--size", "tiny", "--corrupt", "1"])
        r = json.loads(out[-1])
        expect(code == 0 and not r["correct"] and r["failed"] == 1,
               f"{name}: a corrupted answer counts as one failure "
               f"({r['failed']} of {r['attempted']})")
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    bare = tempfile.mkdtemp(dir=os.path.join(HERE, ".work"))
    try:
        shutil.copy("BENCHMARK.json", bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".work", "target"))
        code, out, _ = run(["--workload", bench["workloads"][0]["name"], "--seed", "1",
                            "--seconds", "1"], cwd=bare)
        expect(code != 0 and not out, "refuses a directory without the program's sources")
    finally:
        shutil.rmtree(bare)


if __name__ == "__main__":
    main()
