"""Per-layer metrics of a traced run, computed from its spans.

Each layer is one module of ``webgraph_spark``; its span wraps the
benchmark's call into it. Span metrics are the median over the traced
spans of a layer; a layer the workload does not call reports 0.
"""

from __future__ import annotations

import statistics

SPAN_METRICS = [
    ("wall_s", "s", "lower"),
    ("driver_s", "s", "lower"),
    ("exec_cpu_s", "s", "lower"),
    ("gc_s", "s", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
    ("jobs", "count", "lower"),
    ("tasks", "count", "lower"),
]
SPAN_LAYERS = ["graph.edges", "algos.pagerank", "algos.components", "algos.labelprop",
               "algos.hyperball", "algos.triangles"]

# (name, unit, better) for every per-layer metric, in report order
METRICS = [
    ("session.start_s", "s", "lower"),
    ("datagen.transcripts_s", "s", "lower"),
    ("datagen.turns", "count", "higher"),
    *[(f"graph.edges.{k}", u, b) for k, u, b in SPAN_METRICS],
    ("graph.edges.arcs", "count", "higher"),
    ("graph.edges.nodes", "count", "higher"),
    ("operators.bitstream.pack_s", "s", "lower"),
    ("operators.bitstream.unpack_s", "s", "lower"),
    ("operators.bitstream.exec_cpu_s", "s", "lower"),
    ("operators.bitstream.bits_per_link", "bits", "lower"),
    ("sources.bvdisk.store_s", "s", "lower"),
    ("sources.bvdisk.store_driver_s", "s", "lower"),
    ("sources.bvdisk.store_exec_cpu_s", "s", "lower"),
    ("sources.bvdisk.bytes_written", "B", "lower"),
    ("sources.bvdisk.load_s", "s", "lower"),
    ("sources.bvdisk.load_exec_cpu_s", "s", "lower"),
    ("sources.bvdisk.bits_per_link", "bits", "lower"),
    ("plans.iterate.rounds", "count", "lower"),
    ("plans.iterate.round_s", "s", "lower"),
    ("plans.iterate.step_s", "s", "lower"),
    ("plans.iterate.materialize_s", "s", "lower"),
    ("plans.iterate.jobs_per_round", "count", "lower"),
    *[(f"{layer}.{k}", u, b) for layer in SPAN_LAYERS[1:] for k, u, b in SPAN_METRICS],
    ("algos.pagerank.rounds", "count", "lower"),
    ("algos.pagerank.s_per_round", "s", "lower"),
    ("algos.pagerank.arcs_rounds_per_s", "1/s", "higher"),
    ("algos.pagerank.linf_err", "ratio", "lower"),
    ("algos.components.rounds", "count", "lower"),
    ("algos.hyperball.rounds", "count", "lower"),
    ("algos.triangles.task_skew", "ratio", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.failed_tasks", "count", "lower"),
    ("spark.exec_cpu_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.fetch_wait_s", "s", "lower"),
    ("spark.spill_mb", "MB", "lower"),
    ("trace.pass_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
]


def _median(values) -> float:
    values = [v for v in values if v is not None]
    return float(statistics.median(values)) if values else 0.0


def layer_metrics(tracer, passes: list[dict], arcs: int) -> dict:
    """Every metric in ``METRICS`` as ``{name: {"value", "unit"}}``."""
    spans = tracer.spans
    traced = [r for r in spans if r["traced"]]

    def named(name):
        return [r for r in traced if r["name"] == name]

    def spark(name, key):
        return _median(r["spark"][key] for r in named(name))

    def attr(name, key):
        return _median(r.get(key) for r in named(name))

    v: dict[str, float] = {}
    v["session.start_s"] = _median(r["end"] - r["start"] for r in spans if r["name"] == "session")
    v["datagen.transcripts_s"] = spark("datagen.transcripts", "wall_s")
    v["datagen.turns"] = attr("datagen.transcripts", "turns")
    for layer in SPAN_LAYERS:
        for key, _, _ in SPAN_METRICS:
            v[f"{layer}.{key}"] = spark(layer, key)
    v["graph.edges.arcs"] = attr("graph.edges", "arcs")
    v["graph.edges.nodes"] = attr("graph.edges", "nodes")

    v["operators.bitstream.pack_s"] = spark("operators.bitstream.pack", "wall_s")
    v["operators.bitstream.unpack_s"] = spark("operators.bitstream.unpack", "wall_s")
    v["operators.bitstream.exec_cpu_s"] = spark("operators.bitstream.pack", "exec_cpu_s")
    v["operators.bitstream.bits_per_link"] = attr("operators.bitstream.pack", "bits_per_link")
    v["sources.bvdisk.store_s"] = spark("sources.bvdisk.store", "wall_s")
    v["sources.bvdisk.store_driver_s"] = spark("sources.bvdisk.store", "driver_s")
    v["sources.bvdisk.store_exec_cpu_s"] = spark("sources.bvdisk.store", "exec_cpu_s")
    v["sources.bvdisk.bytes_written"] = attr("sources.bvdisk.store", "bytes_written")
    v["sources.bvdisk.load_s"] = spark("sources.bvdisk.load", "wall_s")
    v["sources.bvdisk.load_exec_cpu_s"] = spark("sources.bvdisk.load", "exec_cpu_s")
    v["sources.bvdisk.bits_per_link"] = attr("sources.bvdisk.store", "bits_per_link")

    tpasses = [p for p in passes if p["traced"]]
    its = named("plans.iterate")
    rounds = [r for it in its for r in it["rounds"]]
    v["plans.iterate.rounds"] = _median(
        sum(len(it["rounds"]) for it in its if it["id"] in tracer.subtree(p["id"])) for p in tpasses)
    v["plans.iterate.round_s"] = _median(r["round_s"] for r in rounds)
    v["plans.iterate.step_s"] = _median(r["step_s"] + r["stop_s"] for r in rounds)
    v["plans.iterate.materialize_s"] = _median(r["round_s"] - r["step_s"] - r["stop_s"] for r in rounds)
    v["plans.iterate.jobs_per_round"] = (
        sum(it["spark"]["jobs"] for it in its) / len(rounds) if rounds else 0.0)

    pr = named("algos.pagerank")
    v["algos.pagerank.rounds"] = attr("algos.pagerank", "rounds")
    v["algos.pagerank.s_per_round"] = _median(
        r["spark"]["wall_s"] / r["rounds"] for r in pr if r.get("rounds"))
    v["algos.pagerank.arcs_rounds_per_s"] = _median(
        arcs * r["rounds"] / r["spark"]["wall_s"] for r in pr if r.get("rounds"))
    v["algos.pagerank.linf_err"] = attr("algos.pagerank", "linf_err")
    v["algos.components.rounds"] = attr("algos.components", "rounds")
    v["algos.hyperball.rounds"] = attr("algos.hyperball", "rounds")
    v["algos.triangles.task_skew"] = spark("algos.triangles", "task_skew")

    for key in ("jobs", "tasks", "failed_tasks", "exec_cpu_s", "gc_s", "fetch_wait_s", "spill_mb"):
        v[f"spark.{key}"] = _median(p["spark"][key] for p in tpasses)
    # passes[0] is the untraced warm-up
    walls = {t: [p["end"] - p["start"] for p in passes[1:] if p["traced"] == t] for t in (True, False)}
    v["trace.pass_s"] = _median(walls[True])
    v["trace.overhead_s"] = _median(walls[True]) - _median(walls[False])

    return {name: {"value": v[name], "unit": unit} for name, unit, _ in METRICS}
