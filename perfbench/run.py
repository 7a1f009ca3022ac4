"""KG-construction benchmark: input files on disk -> committed triple store.

    python3 perfbench/run.py --workload bulk_docs --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Every pass reads the input files
(`ingest.read_documents`, plus `biopax_xml.read_rdfxml` for OWL input),
runs `pipeline.run_pipeline` with the session's prepared dictionaries
(default arguments on bulk_docs; the scaled-down routing thresholds of
`workloads.ROUTE` on mega_doc), and commits the triples with
`sinks.write_triples` (data plus the lineage manifest), on one driver
process with `local[k]`, k = min(4, cores). See perfbench/README.md for
the workloads, the metrics and the traced-run method.

The last line of standard output is one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics when --trace 0 and the per-layer metrics when
--trace 1. The line before it records host diagnostics (CPU steal and
load average over the measured region); they explain results and never
select them.
"""

from __future__ import annotations

import argparse
import inspect
import json
import os
import pickle
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("bulk_docs", "mega_doc")
# a run must end within 180 s; stop adding timed passes after this
RUN_BUDGET_S = 150.0

E2E_UNITS = {"wall_s": "s", "triples_per_s": "1/s", "setup_s": "s",
             "worker_rss_mb": "MB"}
LAYER_UNITS = {
    "dims.load_s": "s", "dims.broadcast_mb": "MB",
    "biopax_xml.parse_s": "s", "biopax_xml.tasks": "count",
    "ingest.scan_s": "s", "ingest.parse_s": "s",
    "stage_a_local.cpu_s": "s", "stage_b_local.cpu_s": "s",
    "stage_a.extract_s": "s", "stage_b.busy_s": "s", "stage_b.calls": "count",
    "pipeline.run_s": "s", "pipeline.residual_s": "s",
    "pipeline.traced_wall_s": "s",
    "pipeline.trace_overhead_s": "s",
    "pipeline.jobs": "count", "pipeline.stages": "count",
    "pipeline.tasks": "count", "pipeline.tasks_failed": "count",
    "sinks.write_s": "s", "sinks.files": "count", "sinks.bytes": "bytes",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    # self-test hooks (perfbench/selftest.py)
    ap.add_argument("--scale", default="full", choices=("full", "tiny"),
                    help=argparse.SUPPRESS)
    ap.add_argument("--drop-expected", action="store_true",
                    help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    return args


# ---------------------------------------------------------------- host

def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def _load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class HostWindow:
    """CPU steal % and 1-minute load average over a measured region."""

    def __init__(self) -> None:
        self.steal0, self.total0 = _cpu_jiffies()
        self.load0 = _load1()

    def close(self) -> dict:
        steal, total = _cpu_jiffies()
        return {"steal_pct": round(100.0 * (steal - self.steal0)
                                   / max(1, total - self.total0), 3),
                "load1_start": self.load0, "load1_end": _load1()}


# ------------------------------------------------------------- session

def _proc_children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may hold spaces: ppid follows the last ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def python_workers(jvm_pid: int) -> list[int]:
    """Python processes below the Spark JVM (daemon and its workers)."""
    kids, out, todo = _proc_children(), [], [jvm_pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            todo.append(c)
            try:
                with open(f"/proc/{c}/comm") as f:
                    if f.read().startswith("python"):
                        out.append(c)
            except OSError:
                pass
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Largest VmHWM (peak resident set) among the processes, in MiB."""
    peak = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            pass
    return peak / 1024.0


def start_session(k: int):
    from pathways2go_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    return get_spark(
        master=f"local[{k}]",
        app_name="perfbench",
        extra={
            # split-friendly scans, as in bench.py: the corpus is
            # byte-small but compute-heavy
            "spark.sql.files.maxPartitionBytes": str(2 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(128 * 1024),
            "spark.sql.files.minPartitionNum": str(8 * k),
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait until every process is gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = python_workers(proc.pid) if proc else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin pipe breaks
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while workers and time.monotonic() < deadline:
        workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)


# ------------------------------------------------------------ the pass

def route_knobs(workload: str) -> dict:
    """mega_doc's routing thresholds, limited to the ones run_pipeline
    still takes: if a threshold is removed, the run keeps working and
    the traced run shows where the hub went."""
    from pathways2go_spark.pipeline import run_pipeline
    from workloads import ROUTE

    if workload != "mega_doc":
        return {}
    params = inspect.signature(run_pipeline).parameters
    return {k: v for k, v in ROUTE.items() if k in params}


def read_inputs(spark, paths: dict):
    """The input documents: parquet, plus the OWL files if any."""
    from pathways2go_spark.biopax_xml import read_rdfxml
    from pathways2go_spark.ingest import read_documents

    docs = read_documents(spark, paths["documents"])
    if paths["owl"]:
        docs = docs.unionByName(read_rdfxml(spark, paths["owl"]))
    return docs


def one_pass(spark, paths: dict, dims, prep, out: str) -> float:
    """Input files -> committed store. Returns wall seconds."""
    from pathways2go_spark.pipeline import run_pipeline
    from pathways2go_spark.sinks import write_triples

    t0 = time.perf_counter()
    res = run_pipeline(spark, read_inputs(spark, paths), dims, prepared=prep,
                       **route_knobs(paths["workload"]))
    write_triples(spark, res.triples, out)
    return time.perf_counter() - t0


def expected_triples(spark, paths: dict, drop_one: bool):
    """The fixture's expected triples of the workload's normal documents,
    plus the hub reference on mega_doc; with drop_one, less one triple."""
    key = ["model_id", "subj", "pred", "obj"]
    with open(paths["models"]) as f:
        models = spark.createDataFrame([(m,) for m in f.read().split()],
                                       "model_id string")
    expected = (spark.read.parquet(paths["expected"])
                .join(models, "model_id", "left_semi").select(*key))
    if paths.get("reference"):
        expected = expected.unionByName(spark.read.parquet(paths["reference"]))
    if drop_one:
        expected = expected.join(
            expected.orderBy(*key).limit(1), key, "left_anti")
    return expected.localCheckpoint(eager=True)


def committed(out: str) -> int:
    """Triples committed, from the store's lineage manifest."""
    lin = os.path.join(out, "_lineage")
    n = 0
    for name in os.listdir(lin):
        if name.endswith(".json"):
            with open(os.path.join(lin, name)) as f:
                n += json.load(f)["n_triples"]
    return n


def check(spark, out: str, expected) -> bool:
    """Set P/R of the committed store against the expected triples."""
    from pathways2go_spark.pipeline import precision_recall
    from pathways2go_spark.sinks import read_triples

    pr = precision_recall(read_triples(spark, out), expected)
    spark.catalog.clearCache()  # precision_recall caches both sides
    return pr["precision"] == 1.0 and pr["recall"] == 1.0


def dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def traced_pass(spark, paths: dict, dims, prep, out: str) -> tuple[dict, object]:
    """One pass with every layer boundary materialized and spanned.
    Returns the layer metrics and the materialized input documents."""
    from pyspark.sql import functions as F

    from pathways2go_spark.biopax_xml import read_rdfxml
    from pathways2go_spark.ingest import read_documents
    from pathways2go_spark.pipeline import run_pipeline
    from pathways2go_spark.sinks import write_triples
    import layers as T

    spans, sc = T.Spans(), spark.sparkContext
    t0 = time.perf_counter()
    xml_tasks = 0
    if paths["owl"]:
        jc = T.JobCounter(sc)
        with spans.span("biopax_xml.parse"):
            owl = read_rdfxml(spark, paths["owl"]).localCheckpoint(eager=True)
        xml_tasks = jc.delta()["tasks"]
    with spans.span("ingest.scan"):
        (read_documents(spark, paths["documents"])
         .select("doc_id", F.col("spans.kind").alias("kinds"),
                 F.col("spans.text").alias("texts"))
         .write.format("noop").mode("overwrite").save())
    docs = read_documents(spark, paths["documents"])
    if paths["owl"]:
        docs = docs.unionByName(owl)
    docs = docs.localCheckpoint(eager=True)
    jc = T.JobCounter(sc)
    with spans.span("pipeline.run"), T.wrapped(spans, T.pipeline_targets()):
        res = run_pipeline(spark, docs, dims, prepared=prep,
                           **route_knobs(paths["workload"]))
        triples = res.triples.localCheckpoint(eager=True)
    counts = jc.delta()
    with spans.span("sinks.write"):
        write_triples(spark, triples, out)
    wall = time.perf_counter() - t0

    children = {"ingest.parse_s": spans.busy("ingest.parse"),
                "stage_a.extract_s": spans.busy("stage_a.extract"),
                "stage_b.busy_s": spans.busy("stage_b")}
    layers = {
        "biopax_xml.parse_s": spans.busy("biopax_xml.parse"),
        "ingest.scan_s": spans.busy("ingest.scan"),
        **children,
        # self time: the run's span less the child layers inside it
        "pipeline.run_s": spans.busy("pipeline.run") - sum(children.values()),
        "sinks.write_s": spans.busy("sinks.write"),
    }
    files, size = dir_stats(out)
    return {
        **layers,
        "pipeline.residual_s": wall - sum(layers.values()),
        "pipeline.traced_wall_s": wall,
        "stage_b.calls": spans.calls("stage_b"),
        "biopax_xml.tasks": xml_tasks,
        **{f"pipeline.{k}": v for k, v in counts.items()},
        "sinks.files": files,
        "sinks.bytes": size,
    }, docs


def replay(docs, prep) -> dict:
    """Driver replay of the fused route over the documents it handles."""
    from pyspark.sql import functions as F

    from workloads import HUB_DOC_ID
    import layers as T

    pdf = (docs.filter(F.col("doc_id") != HUB_DOC_ID)
           .select("doc_id", F.col("spans.kind").alias("kinds"),
                   F.col("spans.text").alias("texts"))
           .toPandas())
    return T.replay_fused(pdf, prep.a_dims, prep.b_dims)


# ---------------------------------------------------------------- main

def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "pathways2go_spark")):
        print(f"perfbench: no pathways2go_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    started = time.perf_counter()
    sys.path.insert(0, ROOT)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")

    from pathways2go_spark.dims import load_dims
    from pathways2go_spark.pipeline import prepare_local_dims
    import workloads as W
    t_imports = time.perf_counter() - started

    paths = W.ensure_inputs(WORK, ROOT, args.workload, args.seed, args.scale)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    outs = os.path.join(WORK, "out", run_id)
    shutil.rmtree(outs, ignore_errors=True)
    k = min(4, os.cpu_count() or 1)

    # ---- set-up: session, dictionaries, one untimed warm-up pass
    t0 = time.perf_counter()
    spark = start_session(k)
    t_session = time.perf_counter() - t0
    try:
        t0 = time.perf_counter()
        dims = load_dims(spark, paths["dims"])
        prep = prepare_local_dims(dims)
        t_dims = time.perf_counter() - t0
        if args.workload == "mega_doc":
            W.fused_reference(paths, prep.a_dims, prep.b_dims)  # untimed
        t_warm = one_pass(spark, paths, dims, prep, os.path.join(outs, "warm"))
        setup_s = t_session + t_dims + t_warm

        expected = expected_triples(spark, paths, args.drop_expected)

        n_expected = expected.count()

        # ---- timed region: whole passes until --seconds have elapsed;
        # a traced run times one untraced pass to compare against. Every
        # pass must commit the expected number of triples; the last one
        # that does gets the full set check below. Checks are untimed.
        walls, rates, attempted, failed, last = [], [], 0, 0, None
        host = HostWindow()
        region = 0.0
        while not walls or (not args.trace and region < args.seconds):
            out = os.path.join(outs, f"pass{attempted}")
            attempted += 1
            try:
                wall = one_pass(spark, paths, dims, prep, out)
                region += wall
                n = committed(out)
            except Exception as e:  # a failed pass is counted, not fatal
                print(f"perfbench: pass failed: {e!r}", file=sys.stderr)
                n = None
            if n == n_expected:
                walls.append(wall)
                rates.append(n / wall)
                if last:
                    shutil.rmtree(last, ignore_errors=True)
                last = out
            else:
                print(f"perfbench: pass committed {n} triples, "
                      f"expected {n_expected}", file=sys.stderr)
                failed += 1
                shutil.rmtree(out, ignore_errors=True)
                if failed >= 2:
                    break
            elapsed = time.perf_counter() - started
            if walls and elapsed + 2 * max(walls) > RUN_BUDGET_S:
                break
        diag = host.close()
        t_check = time.perf_counter()
        if last and not check(spark, last, expected):
            failed += 1
        t_check = time.perf_counter() - t_check

        if args.trace:
            out = os.path.join(outs, "traced")
            attempted += 1
            host = HostWindow()
            layer, docs = traced_pass(spark, paths, dims, prep, out)
            diag = {"untimed": diag, "traced": host.close()}
            if not check(spark, out, expected):
                failed += 1
            layer.update(replay(docs, prep))
            untraced = statistics.median(walls) if walls else float("nan")
            layer["pipeline.trace_overhead_s"] = layer["pipeline.traced_wall_s"] - untraced
            layer["dims.load_s"] = t_dims
            layer["dims.broadcast_mb"] = len(pickle.dumps(
                (prep.a_dims, prep.b_dims), pickle.HIGHEST_PROTOCOL)) / 2 ** 20
            metrics = {m: {"value": layer[m], "unit": u}
                       for m, u in LAYER_UNITS.items()}
        else:
            rss = peak_rss_mb(python_workers(
                spark.sparkContext._gateway.proc.pid))
            metrics = {
                "wall_s": statistics.median(walls) if walls else None,
                "triples_per_s": statistics.median(rates) if rates else None,
                "setup_s": setup_s,
                "worker_rss_mb": rss,
            }
            metrics = {m: {"value": v, "unit": E2E_UNITS[m]}
                       for m, v in metrics.items()}
    finally:
        t_stop = time.perf_counter()
        stop_session(spark)
        t_stop = time.perf_counter() - t_stop
        shutil.rmtree(outs, ignore_errors=True)

    record = {"run": run_id, "scale": args.scale, "seconds": args.seconds,
              "k": k, "passes_s": walls, "setup": {
                  "session_s": t_session, "dims_s": t_dims, "warmup_s": t_warm},
              "check_s": t_check, "stop_s": t_stop, "imports_s": t_imports,
              "host": diag, "total_s": time.perf_counter() - started}
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    with open(os.path.join(WORK, "runs", run_id + ".json"), "w") as f:
        json.dump(record, f)
    print("host " + json.dumps(record))
    correct = failed == 0 and bool(walls)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
