"""Self-test of the benchmark's oracles (no Spark needed).

Checks each sparse oracle in ``oracles.py`` against the dense oracles the
test suite uses (``tests/oracles.py``) and against the program's own
single-process label-propagation reference, on small random graphs, and
checks the transcript-graph oracle against the program's pandas twin.
Run from the repository root:

    python3 perfbench/selftest.py

Exits 0 when every check passes, 1 otherwise.
"""

from __future__ import annotations

import os
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import oracles  # noqa: E402
from tests import oracles as dense  # noqa: E402
from webgraph_spark.algos.labelprop import label_propagation_numpy  # noqa: E402


def random_graph(rng: np.random.Generator, n: int, p: float) -> tuple[np.ndarray, np.ndarray]:
    adj = rng.random((n, n)) < p
    np.fill_diagonal(adj, False)
    # node n-1 has no out-arcs, so the dangling-mass path is exercised
    adj[n - 1, :] = False
    src, dst = np.nonzero(adj)
    return src.astype(np.int64), dst.astype(np.int64)


def check_graph(src: np.ndarray, dst: np.ndarray, n: int) -> list[str]:
    errs = []
    adj = dense.edges_to_adj(zip(src, dst), n)

    want = dense.pagerank_numpy(adj, tol=1e-12, max_iter=10_000)
    got, _ = oracles.pagerank(src, dst, n, tol=1e-12)
    if np.abs(got - want).max() > 1e-10:
        errs.append(f"pagerank differs by {np.abs(got - want).max():.2e}")

    if not np.array_equal(oracles.components(src, dst, n), dense.connected_components_numpy(adj)):
        errs.append("components differ")

    for rounds in (1, 2, 4, 10):
        if not np.array_equal(
            oracles.label_propagation(src, dst, n, rounds),
            label_propagation_numpy(adj, max_iter=rounds),
        ):
            errs.append(f"label propagation differs after {rounds} rounds")

    if oracles.triangles(src, dst) != dense.triangle_count_numpy(adj):
        errs.append("triangle counts differ")
    return errs


def check_transcripts() -> list[str]:
    from webgraph_spark.datagen.transcripts import TranscriptSpec, transcripts_pandas_oracle
    from webgraph_spark.graph.edges import edges_pandas_oracle

    tr = transcripts_pandas_oracle(40, TranscriptSpec(seed=7, max_turns=12, n_tools=9))
    src, dst, n = oracles.transcript_arcs(tr)
    twin = edges_pandas_oracle(tr)
    want_s, want_d = oracles.simple_arcs(twin["src"].to_numpy(), twin["dst"].to_numpy())
    errs = []
    if not (np.array_equal(src, want_s) and np.array_equal(dst, want_d)):
        errs.append("transcript arcs differ from the pandas twin")
    if n != tr[["conv_id", "turn_idx"]].drop_duplicates().shape[0] + tr["tool"].nunique():
        errs.append("transcript node count is wrong")
    return errs


def main() -> int:
    rng = np.random.default_rng(2024)
    errs = []
    for trial in range(12):
        n = int(rng.integers(2, 40))
        p = float(rng.choice([0.03, 0.08, 0.2, 0.5]))
        src, dst = random_graph(rng, n, p)
        errs += [f"graph {trial} (n={n}, p={p}): {e}" for e in check_graph(src, dst, n)]
    errs += check_transcripts()
    for e in errs:
        print("FAIL", e)
    print("selftest:", "ok" if not errs else f"{len(errs)} failures")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
