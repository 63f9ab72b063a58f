"""The benchmark's workloads: seeded inputs, the operations one pass runs,
and the oracle check of every operation's output.

Inputs come only from ``datagen.transcripts`` with
``TranscriptSpec(seed, max_turns=40, n_tools=1000)``; the program sees the
generated transcripts and nothing else. Each operation runs inside a span
named after the layer it calls; its check runs after the pass, outside every
span, against ``oracles.py``.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np

import oracles

PAGERANK_TOL = 1e-6
LABELPROP_ROUNDS = 4
HYPERBALL_LOG2M = 5
HYPERBALL_MAX_T = 2


@dataclass(frozen=True)
class Workload:
    name: str
    n_convs: int
    ops: tuple[str, ...]


# Why each workload exists is recorded in BENCHMARK.json.
WORKLOADS = {
    w.name: w
    for w in (
        Workload("analytics", 600, ("pagerank", "components", "labelprop", "triangles")),
        Workload("ingest-store", 1000, ("ingest", "pack", "unpack", "store", "load", "hyperball")),
    )
}

# operation -> span (layer) it runs in
SPAN = {
    "pagerank": "algos.pagerank",
    "components": "algos.components",
    "labelprop": "algos.labelprop",
    "hyperball": "algos.hyperball",
    "triangles": "algos.triangles",
    "ingest": "graph.edges",
    "pack": "operators.bitstream.pack",
    "unpack": "operators.bitstream.unpack",
    "store": "sources.bvdisk.store",
    "load": "sources.bvdisk.load",
}


class Context:
    """Everything one run shares: session, tracer, scratch directory, the
    seeded inputs and the oracle's expected answers."""

    def __init__(self, spark, tracer, workdir: str, seed: int, cores: int):
        self.spark = spark
        self.tracer = tracer
        self.workdir = workdir
        self.seed = seed
        self.cores = cores
        self.edges = None          # analytics input, persisted
        self.transcripts_path = os.path.join(workdir, "transcripts.parquet")
        self.arcs = None           # expected (src, dst), sorted
        self.n = 0
        self.expected: dict = {}
        self.nf_seen: list | None = None


def collect_arcs(df) -> tuple[np.ndarray, np.ndarray]:
    pdf = df.select("src", "dst").toPandas()
    src, dst = pdf["src"].to_numpy(np.int64), pdf["dst"].to_numpy(np.int64)
    order = np.lexsort((dst, src))
    return src[order], dst[order]


def arcs_errors(what: str, got: tuple, want: tuple) -> list[str]:
    if len(got[0]) != len(want[0]):
        return [f"{what}: {len(got[0])} arcs, want {len(want[0])}"]
    if not (np.array_equal(got[0], want[0]) and np.array_equal(got[1], want[1])):
        return [f"{what}: arc set differs from the expected one"]
    return []


# ------------------------------------------------------------------ setup

def generate(ctx: Context, n_convs: int):
    from webgraph_spark.datagen.transcripts import TranscriptSpec, generate_transcripts

    spec = TranscriptSpec(seed=ctx.seed, max_turns=40, n_tools=1000)
    with ctx.tracer.span("datagen.transcripts") as rec:
        tr = generate_transcripts(ctx.spark, n_convs=n_convs, spec=spec).persist()
        rec["turns"] = tr.count()
    return tr


def build_edges(ctx: Context, transcripts):
    from webgraph_spark.graph.edges import build_node_dictionary, extract_edges, simple_edges

    with ctx.tracer.span("graph.edges") as rec:
        nodes = build_node_dictionary(transcripts)
        edges = simple_edges(extract_edges(transcripts, nodes)).persist()
        rec["arcs"] = edges.count()
    rec["nodes"] = nodes.count()
    return edges


def prepare(ctx: Context, wl: Workload) -> None:
    """Make the workload's input from the seed: the persisted edge table
    for the analyses, the transcript parquet for ingest-store."""
    tr = generate(ctx, wl.n_convs)
    if wl.name == "ingest-store":
        tr.write.mode("overwrite").parquet(ctx.transcripts_path)
    else:
        if ctx.edges is not None:
            ctx.edges.unpersist()
        ctx.edges = build_edges(ctx, tr)
    tr.unpersist()


def expect(ctx: Context, wl: Workload) -> list[str]:
    """Compute the oracle answers once, after setup and outside every span.
    Also checks the analytics edge table against the transcript oracle."""
    import pyarrow.parquet as pq

    if wl.name == "ingest-store":
        turns = pq.read_table(ctx.transcripts_path, columns=["conv_id", "turn_idx", "tool"]).to_pandas()
        src, dst, ctx.n = oracles.transcript_arcs(turns)
        ctx.arcs = (src, dst)
        return []

    from webgraph_spark.datagen.transcripts import TranscriptSpec, transcripts_pandas_oracle

    turns = transcripts_pandas_oracle(wl.n_convs, TranscriptSpec(seed=ctx.seed, max_turns=40, n_tools=1000))
    src, dst, ctx.n = oracles.transcript_arcs(turns)
    ctx.arcs = (src, dst)
    errs = arcs_errors("graph.edges", collect_arcs(ctx.edges), ctx.arcs)
    n = ctx.n
    e = ctx.expected
    e["pagerank"] = oracles.pagerank(src, dst, n, tol=1e-13)[0]
    e["components"] = oracles.components(src, dst, n)
    e["labelprop"] = oracles.label_propagation(src, dst, n, LABELPROP_ROUNDS)
    e["triangles"] = oracles.triangles(src, dst, threads=ctx.cores)
    return errs


# -------------------------------------------------------------- operations
# run_<op>(ctx, state) executes inside the op's span and leaves its result
# in ``state``; check_<op>(ctx, state) runs after the pass.

def run_pagerank(ctx, state):
    from webgraph_spark.algos.pagerank import pagerank

    state["pagerank"] = pagerank(ctx.edges, tol=PAGERANK_TOL, max_iter=200)


def check_pagerank(ctx, state, rec):
    res = state["pagerank"]
    pdf = res.ranks.toPandas()
    rec["rounds"] = res.iterations
    if len(pdf) != ctx.n or not res.converged:
        return [f"pagerank: {len(pdf)} ranks (want {ctx.n}), converged={res.converged}"]
    ranks = np.zeros(ctx.n)
    ranks[pdf["node"].to_numpy(np.int64)] = pdf["rank"].to_numpy()
    rec["linf_err"] = float(np.abs(ranks - ctx.expected["pagerank"]).max())
    # a power iteration stopped at L-inf change < tol is within
    # tol * alpha / (1 - alpha) < 10 * tol of the fixpoint
    if rec["linf_err"] > 10 * PAGERANK_TOL:
        return [f"pagerank: L-inf error {rec['linf_err']:.2e} vs the oracle fixpoint"]
    return []


def _labels_errors(what, pdf, col, n, want):
    if len(pdf) != n:
        return [f"{what}: {len(pdf)} labels, want {n}"]
    got = np.full(n, -1, dtype=np.int64)
    got[pdf["node"].to_numpy(np.int64)] = pdf[col].to_numpy(np.int64)
    if not np.array_equal(got, want):
        return [f"{what}: {int((got != want).sum())} labels differ from the oracle"]
    return []


def run_components(ctx, state):
    from webgraph_spark.algos.components import connected_components

    state["components"] = connected_components(ctx.edges, max_iter=100)


def check_components(ctx, state, rec):
    res = state["components"]
    rec["rounds"] = res.iterations
    errs = [] if res.converged else ["components: did not converge"]
    return errs + _labels_errors("components", res.labels.toPandas(), "component",
                                 ctx.n, ctx.expected["components"])


def run_labelprop(ctx, state):
    from webgraph_spark.algos.labelprop import label_propagation

    state["labelprop"] = label_propagation(ctx.edges, max_iter=LABELPROP_ROUNDS)


def check_labelprop(ctx, state, rec):
    res = state["labelprop"]
    rec["rounds"] = res.iterations
    return _labels_errors("labelprop", res.labels.toPandas(), "label", ctx.n, ctx.expected["labelprop"])


def run_hyperball(ctx, state):
    from webgraph_spark.algos.hyperball import hyperball

    edges = state.get("loaded", ctx.edges)
    state["hyperball"] = hyperball(edges, log2m=HYPERBALL_LOG2M, max_t=HYPERBALL_MAX_T, seed=ctx.seed)


def check_hyperball(ctx, state, rec):
    nf = list(state["hyperball"].nf)
    rec["rounds"] = state["hyperball"].iterations
    errs = oracles.hyperball_errors(nf, ctx.n, len(ctx.arcs[0]), HYPERBALL_LOG2M)
    # same seed, same registers: only the order of the floating-point sum
    # over nodes may differ, so allow a relative 1e-9
    if ctx.nf_seen is None:
        ctx.nf_seen = nf
    elif len(nf) != len(ctx.nf_seen) or not np.allclose(nf, ctx.nf_seen, rtol=1e-9, atol=0):
        errs.append("hyperball: NF differs between passes with the same seed")
    return errs


def run_triangles(ctx, state):
    from webgraph_spark.algos.triangles import triangle_count

    state["triangles"] = triangle_count(ctx.edges)


def check_triangles(ctx, state, rec):
    want = ctx.expected["triangles"]
    rec["triangles"] = state["triangles"]
    return [] if state["triangles"] == want else [f"triangles: {state['triangles']}, want {want}"]


def run_ingest(ctx, state):
    from webgraph_spark.graph.edges import build_node_dictionary, extract_edges, simple_edges

    tr = ctx.spark.read.parquet(ctx.transcripts_path)
    nodes = build_node_dictionary(tr)
    edges = simple_edges(extract_edges(tr, nodes)).persist()
    state["arcs"] = edges.count()
    state["edges"], state["nodes"] = edges, nodes


def check_ingest(ctx, state, rec):
    rec["arcs"] = state["arcs"]
    rec["nodes"] = state["nodes"].count()
    return arcs_errors("ingest", collect_arcs(state["edges"]), ctx.arcs)


def run_pack(ctx, state):
    from webgraph_spark.operators.bitstream import pack_bv

    blocks = pack_bv(state["edges"]).persist()
    blocks.count()
    state["blocks"] = blocks


def check_pack(ctx, state, rec):
    from webgraph_spark.operators.bitstream import bv_bits_per_link

    rec["bits_per_link"] = float(bv_bits_per_link(state["blocks"]).collect()[0]["bits_per_link"])
    return [] if rec["bits_per_link"] > 0 else ["pack_bv: no payload bits"]


def run_unpack(ctx, state):
    from webgraph_spark.operators.bitstream import unpack_bv

    back = unpack_bv(state["blocks"]).persist()
    back.count()
    state["unpacked"] = back


def check_unpack(ctx, state, rec):
    return arcs_errors("pack_bv -> unpack_bv", collect_arcs(state["unpacked"]), ctx.arcs)


def run_store(ctx, state):
    from webgraph_spark.sources.bvdisk import write_bvgraph_distributed

    state["basename"] = os.path.join(ctx.workdir, f"bv{state['pass']}", "graph")
    os.makedirs(os.path.dirname(state["basename"]))
    write_bvgraph_distributed(state["edges"], state["basename"])


def check_store(ctx, state, rec):
    from webgraph_spark.sources.bvdisk import bvgraph_stats

    stats = bvgraph_stats(state["basename"])
    rec["bits_per_link"] = stats["graph_bits"] / max(stats["arcs"], 1)
    rec["bytes_written"] = sum(os.path.getsize(state["basename"] + ext)
                               for ext in (".graph", ".offsets", ".properties"))
    if (stats["nodes"], stats["arcs"]) != (ctx.n, len(ctx.arcs[0])):
        return [f"store: {stats['nodes']} nodes / {stats['arcs']} arcs, "
                f"want {ctx.n} / {len(ctx.arcs[0])}"]
    return []


def run_load(ctx, state):
    from webgraph_spark.sources.bvdisk import read_bvgraph

    g = read_bvgraph(ctx.spark, state["basename"]).persist()
    g.count()
    state["loaded"] = g


def check_load(ctx, state, rec):
    return arcs_errors("store -> load", collect_arcs(state["loaded"]), ctx.arcs)


RUN = {op: globals()[f"run_{op}"] for op in SPAN}
CHECK = {op: globals()[f"check_{op}"] for op in SPAN}


def release(state: dict) -> None:
    """Drop what a pass persisted or wrote."""
    for key in ("edges", "blocks", "unpacked", "loaded"):
        if key in state:
            state[key].unpersist()
    if "basename" in state:
        shutil.rmtree(os.path.dirname(state["basename"]), ignore_errors=True)
