"""Independent single-process oracles for the benchmark's correctness checks.

Every function takes plain numpy arrays (an arc list ``src -> dst`` over
dense node ids ``0..n-1``) and shares no code with ``webgraph_spark``: the
engine's answer is collected after its timed span and compared with these.
Sparse throughout (``np.bincount`` / ``np.minimum.at``), so they stay cheap
at the benchmark's graph sizes; ``selftest.py`` checks them against the
dense oracles the test suite uses.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd


def simple_arcs(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Loop-free, duplicate-free arcs sorted by (src, dst)."""
    src = np.asarray(src, dtype=np.int64)
    dst = np.asarray(dst, dtype=np.int64)
    keep = src != dst
    pairs = np.unique(np.stack([src[keep], dst[keep]], axis=1), axis=0)
    return pairs[:, 0].copy(), pairs[:, 1].copy()


def pagerank(
    src: np.ndarray,
    dst: np.ndarray,
    n: int,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 10_000,
) -> tuple[np.ndarray, int]:
    """Power iteration from the uniform vector; the mass of dangling nodes
    is spread uniformly. Stops after the first round whose L-inf change is
    below ``tol``. Returns (ranks, rounds)."""
    outdeg = np.bincount(src, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    w = 1.0 / outdeg[src]
    r = np.full(n, 1.0 / n)
    for k in range(1, max_iter + 1):
        contrib = np.bincount(dst, weights=r[src] * w, minlength=n)
        new = (1.0 - alpha) / n + alpha * (contrib + r[dangling].sum() / n)
        delta = np.abs(new - r).max()
        r = new
        if delta < tol:
            return r, k
    return r, max_iter


def components(src: np.ndarray, dst: np.ndarray, n: int) -> np.ndarray:
    """Weakly connected components labelled by their minimum node id:
    min-label relaxation over both arc directions plus pointer jumping."""
    u = np.concatenate([src, dst])
    v = np.concatenate([dst, src])
    labels = np.arange(n, dtype=np.int64)
    while True:
        new = labels.copy()
        np.minimum.at(new, u, labels[v])
        new = new[new]
        if np.array_equal(new, labels):
            return labels
        labels = new


def label_propagation(src: np.ndarray, dst: np.ndarray, n: int, rounds: int) -> np.ndarray:
    """Synchronous label propagation on the symmetrized simple graph: each
    node takes its neighbours' most frequent label, ties to the smallest
    label; nodes without neighbours keep their label. Stops early once a
    round changes nothing."""
    u = np.concatenate([src, dst])
    v = np.concatenate([dst, src])
    keep = u != v
    pairs = np.unique(u[keep] * n + v[keep])
    u, v = pairs // n, pairs % n
    labels = np.arange(n, dtype=np.int64)
    for _ in range(rounds):
        keys, counts = np.unique(v * n + labels[u], return_counts=True)
        node, lab = keys // n, keys % n
        order = np.lexsort((lab, -counts, node))
        node, lab = node[order], lab[order]
        first = np.ones(len(node), dtype=bool)
        first[1:] = node[1:] != node[:-1]
        new = labels.copy()
        new[node[first]] = lab[first]
        if np.array_equal(new, labels):
            break
        labels = new
    return labels


def triangles(src: np.ndarray, dst: np.ndarray, threads: int = 1) -> int:
    """Triangles of the symmetrized simple graph, counted by DuckDB over
    the undirected edge set ``u < v``: each triangle a<b<c is the unique
    join (a,b)(b,c)(a,c)."""
    import duckdb

    lo, hi = np.minimum(src, dst), np.maximum(src, dst)
    keep = lo != hi
    und = pd.DataFrame({"u": lo[keep], "v": hi[keep]}).drop_duplicates()
    con = duckdb.connect()
    try:
        con.execute(f"SET threads={max(1, int(threads))}")
        con.register("e", und)
        (count,) = con.execute(
            "SELECT count(*) FROM e e1 JOIN e e2 ON e1.v = e2.u "
            "JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v"
        ).fetchone()
    finally:
        con.close()
    return int(count)


def hyperball_errors(nf: list[float], n: int, m: int, log2m: int) -> list[str]:
    """HyperLogLog sanity bounds on a neighbourhood function: NF(0) counts
    every node once and NF(1) counts n + m (node plus its successors).
    Allowed error is twice the relative standard deviation 1.04/sqrt(2^log2m)."""
    rsd = 1.04 / math.sqrt(1 << log2m)
    errs = []
    if len(nf) < 2:
        return [f"hyperball: NF has {len(nf)} entries, want at least 2"]
    if abs(nf[0] - n) > 2 * rsd * n:
        errs.append(f"hyperball: NF(0)={nf[0]:.1f}, want {n} +- {2 * rsd:.0%}")
    if abs(nf[1] - (n + m)) > 2 * rsd * (n + m):
        errs.append(f"hyperball: NF(1)={nf[1]:.1f}, want {n + m} +- {2 * rsd:.0%}")
    return errs


def transcript_arcs(turns: pd.DataFrame) -> tuple[np.ndarray, np.ndarray, int]:
    """The simple link graph of a transcript table ``(conv_id, turn_idx,
    tool)``, derived with pandas from its documented definition: turn nodes
    numbered by (conv_id, turn_idx), then tool nodes by name; arcs from
    each turn to the next turn of its conversation, from a turn to the tool
    it references, and from a tool to the first turn of each conversation
    that references it. Returns (src, dst, n) with arcs sorted."""
    keys = (
        turns[["conv_id", "turn_idx"]]
        .drop_duplicates()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    keys["id"] = np.arange(len(keys), dtype=np.int64)
    tools = np.sort(turns["tool"].dropna().unique())
    tool_id = pd.Series(len(keys) + np.arange(len(tools), dtype=np.int64), index=tools)

    nxt = keys.assign(turn_idx=keys["turn_idx"] - 1).rename(columns={"id": "next"})
    seq = keys.merge(nxt, on=["conv_id", "turn_idx"])
    refs = turns.loc[turns["tool"].notna(), ["conv_id", "turn_idx", "tool"]]
    ref_ids = refs.merge(keys, on=["conv_id", "turn_idx"])
    first = refs.groupby(["conv_id", "tool"], as_index=False)["turn_idx"].min()
    first_ids = first.merge(keys, on=["conv_id", "turn_idx"])

    src = np.concatenate([
        seq["id"].to_numpy(),
        ref_ids["id"].to_numpy(),
        tool_id.loc[first_ids["tool"]].to_numpy(),
    ])
    dst = np.concatenate([
        seq["next"].to_numpy(),
        tool_id.loc[ref_ids["tool"]].to_numpy(),
        first_ids["id"].to_numpy(),
    ])
    s, d = simple_arcs(src, dst)
    return s, d, len(keys) + len(tools)
