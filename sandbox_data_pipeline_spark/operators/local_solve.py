"""One policy for the capped local solves.

Every driver-side hybrid operator measures its input once and then
either solves it in ONE task (numpy in a single mapInPandas, or plain
Python on the driver) or runs its distributed loop. Below the cap the
per-round Spark overhead of the loop dominates; above it one task's
memory would not hold the input. Both branches compute the same result
(tests pin each pair together).

``LOCAL_CAPS`` maps a size kind to its cap, in the unit the site
measures. ``fits_local`` reads the table at call time, so forcing the
distributed path everywhere is one table update:

    LOCAL_CAPS.update(dict.fromkeys(LOCAL_CAPS, 0))

A cap of 0 never fits (the falsy-cap form), and an unknown kind raises
``KeyError``, so a typo cannot silently leave a local path engaged.

``unigram.VITERBI_DENSE_CELL_CAP`` is not here: it is read inside the
Python worker, out of reach of a driver-side table, and it picks a
batch kernel, not local versus distributed.
"""

from __future__ import annotations

LOCAL_CAPS: dict[str, int] = {
    # duplicate_clusters: survivor edges one union-find task solves
    # (~64 MB of int64 ids, np.unique's ~4x transient on top)
    "cc_edges": 4_000_000,
    # graph BSP operators (pagerank, label_propagation, bfs_distances,
    # hits, personalized_pagerank) and q_kcore_peel: edge rows
    "graph_edges": 4_000_000,
    # train_quality_lr: joined (doc_id, j, cnt, y) rows, ~256 MB
    "lr_rows": 8_000_000,
    # ivf_centroids_kmeans_exact: quantized cells, vectors x dim
    "kmeans_cells": 8_000_000,
    # suffix span solvers: truncated suffix positions (an
    # n x max_len uint8 window matrix, ~1 GB at max_len=128)
    "span_positions": 8_000_000,
    # q_coverage_greedy: (doc_id, bigram) rows
    "coverage_rows": 4_000_000,
    # bpe_merges: distinct word types learned driver-side
    "bpe_vocab": 1_000_000,
}


def fits_local(kind: str, size: int) -> bool:
    """True when ``size`` fits the one-task local solve of ``kind``."""
    cap = LOCAL_CAPS[kind]
    return bool(cap) and size <= cap
