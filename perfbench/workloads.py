"""Seeded, cached input generation for the benchmark workloads.

Every workload is a directory of input files plus what the output check
needs. The program under test sees only the files; the expected triples
and the dictionary tables are written beside them.

  bulk_docs  many small datagen pathway documents (all 12 topologies):
             most in multi-file parquet, a seeded subset as one BioPAX
             OWL file each. The seed permutes document order, picks the
             OWL subset, and picks the parquet file each document lands
             in.
  mega_doc   one hub-pathway document (tools/skew_bench.build_mega_doc)
             next to a few normal documents, in one parquet directory.
             The seed picks the normal documents and their order.

The seed never changes what a document means, so the expected triples of
every document come from the fixture (or, for the hub, from the fused
reference). Inputs are cached per workload, seed, size and generator
source under the work directory.
"""

from __future__ import annotations

import glob
import hashlib
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

# Both workloads read the dictionaries of the same datagen fixture
# (`replicas` replicas of the 12 topologies), so the dims layer is a
# control. bulk_docs writes `owl` of its documents as OWL files;
# mega_doc reads `docs` of them beside a hub of `reactions` reactions.
SIZES = {
    "bulk_docs": {"full": {"replicas": 150, "owl": 4},
                  "tiny": {"replicas": 4, "owl": 12}},
    "mega_doc": {"full": {"replicas": 150, "docs": 36, "reactions": 1250},
                 "tiny": {"replicas": 4, "docs": 12, "reactions": 1250}},
}

# run_pipeline's routing thresholds, scaled down 100x from their defaults
# (500k spans, 500k stage-A triples per model) so that a hub of real
# records routes to the distributed ingest, stage A and stage-B chain
# within a run's time budget. 1,250 reactions is the smallest hub of the
# build_mega_doc shape (4 n + 4 spans) over the span threshold; its model
# has about 15k stage-A triples. Normal documents have at most 24 spans
# and 47 triples.
ROUTE = {"span_threshold": 5_000, "local_threshold": 5_000}

BULK_FILES = 8
HUB_DOC_ID = "MEGA-DOC"

# sources that decide the inputs, and (with the whole package) the hub's
# reference output
_INPUT_SOURCES = ("pathways2go_spark/datagen.py",
                  "pathways2go_spark/biopax_xml.py",
                  "tools/skew_bench.py", "perfbench/workloads.py")


def _code_key(root: str, rels) -> str:
    """Hash of source files, so a cache never outlives them."""
    h = hashlib.md5()
    for rel in rels:
        h.update(rel.encode())
        with open(os.path.join(root, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


def _program_sources(root: str) -> list[str]:
    pkg = sorted(glob.glob(os.path.join(root, "pathways2go_spark", "*.py")))
    return [os.path.relpath(p, root) for p in pkg] + ["tools/skew_bench.py",
                                                       "perfbench/workloads.py"]


def _publish(tmp: str, final: str) -> str:
    """Rename a fully written directory into place (no half caches)."""
    if os.path.isdir(final):
        shutil.rmtree(tmp)
    else:
        os.rename(tmp, final)
    return final


def _base_fixture(work: str, root: str, replicas: int) -> str:
    """datagen fixture (dictionaries, expected triples, documents), which
    depends on size only."""
    from pathways2go_spark import datagen

    key = _code_key(root, _INPUT_SOURCES)
    d = os.path.join(work, "inputs", f"base-r{replicas}-{key}")
    if os.path.isdir(d):
        return d
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    datagen.write_fixture(datagen.build_fixture(replicas), tmp)
    return _publish(tmp, d)


def _read_docs(base: str) -> pa.Table:
    return pq.read_table(os.path.join(base, "documents.parquet"))


def hub_doc(n_rxn: int) -> pa.Table:
    """The hub document of tools/skew_bench as a one-row documents table."""
    import sys

    from pathways2go_spark.datagen import DOCUMENTS_SCHEMA

    tools = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    from skew_bench import build_mega_doc

    return pa.Table.from_pylist([build_mega_doc(n_rxn)],
                                schema=DOCUMENTS_SCHEMA)


def _write_owl(docs: pa.Table, out_dir: str) -> None:
    """One BioPAX RDF/XML file per document (the serializer that
    biopax_xml.write_rdfxml_files runs on executors, here on the Spark
    driver)."""
    from pathways2go_spark.biopax_xml import spans_to_rdfxml

    os.makedirs(out_dir)
    for row in docs.to_pylist():
        with open(os.path.join(out_dir, f"{row['doc_id']}.owl"), "w",
                  encoding="utf-8") as f:
            f.write(spans_to_rdfxml(row["doc_id"], row["spans"]))


def ensure_inputs(work: str, root: str, workload: str, seed: int,
                  scale: str) -> dict:
    """Generate (or reuse) the inputs of one workload, seed and size.
    Returns the paths a run needs: `documents` (parquet), `owl` (OWL
    directory or None), `dims`, `expected` (fixture expected triples),
    `models` (the model ids of the normal documents) and, on mega_doc,
    `reference` (the hub's expected triples, see fused_reference)."""
    size = SIZES[workload][scale]
    base = _base_fixture(work, root, size["replicas"])
    tag = "-".join(f"{k}{v}" for k, v in sorted(size.items()))
    d = os.path.join(work, "inputs",
                     f"{workload}-{tag}-{_code_key(root, _INPUT_SOURCES)}-s{seed}")
    out = {"dims": base, "scale": scale, "workload": workload,
           "documents": os.path.join(d, "documents"),
           "owl": os.path.join(d, "owl") if workload == "bulk_docs" else None,
           "expected": os.path.join(base, "expected_triples.parquet"),
           "models": os.path.join(d, "models.txt")}
    if workload == "mega_doc":
        key = _code_key(root, _program_sources(root))
        out["reference"] = os.path.join(
            work, "inputs", f"hub-reference-{tag}-{key}.parquet")
    if os.path.isdir(d):
        return out
    rng = random.Random(seed)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    ddir = os.path.join(tmp, "documents")
    os.makedirs(ddir)
    docs = _read_docs(base)
    order = list(range(docs.num_rows))
    rng.shuffle(order)
    if workload == "bulk_docs":
        n_owl = size["owl"]
        _write_owl(docs.take(order[:n_owl]), os.path.join(tmp, "owl"))
        rest = order[n_owl:]
        # seeded cut points: files of uneven size, each doc in a seeded file
        cuts = sorted(rng.sample(range(1, len(rest)), BULK_FILES - 1))
        for i, (a, b) in enumerate(zip([0] + cuts, cuts + [len(rest)])):
            pq.write_table(docs.take(rest[a:b]),
                           os.path.join(ddir, f"part-{i:05d}.parquet"),
                           row_group_size=250)
    else:
        order = order[:size["docs"]]
        pq.write_table(docs.take(order), os.path.join(ddir, "part-00000.parquet"))
        pq.write_table(hub_doc(size["reactions"]),
                       os.path.join(ddir, "part-00001.parquet"))
    ids = docs.column("doc_id").take(order).to_pylist()
    with open(os.path.join(tmp, "models.txt"), "w") as f:
        f.write("\n".join(ids) + "\n")
    _publish(tmp, d)
    return out


def fused_reference(paths: dict, a_dims, b_dims) -> None:
    """The hub's expected output, written once per size and program
    source: the fused per-document route (stage_a_local.fused_pipeline_udf)
    run directly on the Spark driver over the hub's records. The normal
    documents are checked against the fixture instead."""
    if os.path.exists(paths["reference"]):
        return
    import pandas as pd

    from pathways2go_spark import stage_a_local as AL
    from pathways2go_spark.stage_b_local import AUDIT_PRED

    hub = hub_doc(SIZES["mega_doc"][paths["scale"]]["reactions"]).to_pylist()[0]
    batch = pd.DataFrame({
        "doc_id": [hub["doc_id"]],
        "kinds": [[s["kind"] for s in hub["spans"]]],
        "texts": [[s["text"] for s in hub["spans"]]],
    })
    out = pd.concat(AL.fused_pipeline_udf(D=a_dims, B=b_dims)(iter([batch])))
    out = out[out["pred"] != AUDIT_PRED][["model_id", "subj", "pred", "obj"]]
    tmp = paths["reference"] + ".tmp"
    pq.write_table(pa.Table.from_pandas(out.drop_duplicates(),
                                        preserve_index=False), tmp)
    os.rename(tmp, paths["reference"])
