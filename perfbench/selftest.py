"""Self-test of the benchmark at tiny size.

    python3 perfbench/selftest.py

For every workload it checks that an untraced run prints every
end-to-end metric of BENCHMARK.json with its unit, that a traced run
prints every per-layer metric with its unit and that its layer spans and
residual add up to the traced wall time, that the layers only one
workload exercises read non-zero only there, and that the output check fails
when one expected triple is removed. Last, it checks that the benchmark
exits non-zero without a result in a directory that holds only the
benchmark. Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPAN_METRICS = ("biopax_xml.parse_s", "ingest.scan_s", "ingest.parse_s",
                "stage_a.extract_s", "stage_b.busy_s", "pipeline.run_s",
                "sinks.write_s", "pipeline.residual_s")
# layers that only one workload exercises: the hub document's
# distributed route (span parse, stage A, the stage-B delta chain) and
# the OWL front door
ONLY = {"mega_doc": ("ingest.parse_s", "stage_a.extract_s",
                     "stage_b.busy_s", "stage_b.calls"),
        "bulk_docs": ("biopax_xml.parse_s", "biopax_xml.tasks")}


def run(cwd: str, *args: str) -> tuple[int, dict | None]:
    p = subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return p.returncode, result


def expect(cond: bool, what: str) -> None:
    print(("ok    " if cond else "FAIL  ") + what, flush=True)
    if not cond:
        sys.exit(1)


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for w in (x["name"] for x in spec["workloads"]):
        base = ["--workload", w, "--seed", "7", "--seconds", "1", "--scale", "tiny"]

        code, res = run(ROOT, *base, "--trace", "0")
        expect(code == 0 and res is not None and res["correct"]
               and res["failed"] == 0 and res["attempted"] >= 1,
               f"{w}: untraced run is correct")
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        expect(got == e2e, f"{w}: every end-to-end metric with its unit")
        expect(all(v["value"] > 0 for v in res["metrics"].values()),
               f"{w}: end-to-end metrics are non-zero")

        code, res = run(ROOT, *base, "--trace", "1")
        expect(code == 0 and res is not None and res["correct"],
               f"{w}: traced run is correct")
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        expect(got == layer, f"{w}: every per-layer metric with its unit")
        v = {k: x["value"] for k, x in res["metrics"].items()}
        total = sum(v[m] for m in SPAN_METRICS)
        expect(abs(total - v["pipeline.traced_wall_s"]) < 1e-6,
               f"{w}: layer spans + residual = traced wall")
        for owner, names in ONLY.items():
            on = [m for m in names if v[m] > 0]
            expect(on == (list(names) if w == owner else []),
                   f"{w}: {', '.join(names)} non-zero only on {owner} "
                   f"(non-zero here: {on})")

        code, res = run(ROOT, *base, "--trace", "0", "--drop-expected")
        expect(code != 0 and res is not None and not res["correct"]
               and res["failed"] >= 1,
               f"{w}: output check fails with one expected triple removed")

    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    code, res = run(bare, "--workload", spec["workloads"][0]["name"],
                    "--seed", "1", "--seconds", "1", "--trace", "0")
    shutil.rmtree(bare)
    expect(code != 0 and res is None,
           "bare directory: non-zero exit and no result")


if __name__ == "__main__":
    main()
