"""Link-analysis operators over pair graphs (near-dup candidates,
citation/URL graphs): fixed-iteration PageRank.

Complements operators/dedup.py: duplicate_clusters (connected
components give cluster MEMBERSHIP; PageRank gives node CENTRALITY
within the dup graph — which documents sit at the hub of a
template/mirror family and are the canonical keep candidates).

Scale design: the textbook bulk-synchronous PageRank — per iteration
one join of edges against current ranks on src (both sides hash-
partitioned on the same key, so AQE reuses the layout) and one
groupBy(dst) with map-side partial sums. Iterations are a fixed,
small constant; every node in an undirected pair graph has out-
degree ≥ 1 so there is no dangling-mass correction term. Lineage is
cut (session.cut) every ``checkpoint_every`` rounds, the same
discipline as duplicate_clusters' pointer jumping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sandbox_data_pipeline_spark.operators.local_solve import fits_local
from sandbox_data_pipeline_spark.session import cut

# Capped local solve (r12; the cap is local_solve's "graph_edges"): the
# per-round Spark overhead of the BSP loops dominates bench-scale
# graphs, so graphs whose edge frame fits one task's memory are solved
# in ONE mapInPandas job (_solve_local). Every float recursion keeps
# its exact per-iteration formula (only partial-sum ORDER differs — the
# same 1e-15 drift already absorbed by the cross-engine oracle
# rounding); integer algorithms (LPA, BFS, HITS, k-core) are
# bit-identical. All final rounding stays in Spark expressions shared
# with the distributed loop. Above the cap the unchanged BSP loops run.


def _solve_local(
    edges: DataFrame,
    src: str,
    dst: str,
    solver,
    schema: str,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """The one-task branch every graph hybrid shares: rename the edge
    columns to (a, b), append ``seeds`` (first column) as rows marked
    m=1 when given, and run ``solver`` over everything in ONE
    mapInPandas task, eagerly cut. ``{id}`` in ``schema`` stands for
    the node id type."""
    id_t = edges.schema[src].dataType.simpleString()
    ab = [F.col(src).alias("a"), F.col(dst).alias("b")]
    if seeds is None:
        marked = edges.select(*ab)
    else:
        s = F.col(seeds.columns[0])
        marked = edges.select(*ab, F.lit(0).alias("m")).unionByName(
            seeds.select(s.alias("a"), s.alias("b"), F.lit(1).alias("m"))
        )
    return cut(
        marked.repartition(1)
        .mapInPandas(solver, schema.format(id=id_t))
    )


def _gather_marked(batches):
    """Collect (a, b, m) rows: m=0 edge rows, m=1 seed rows (seed id in
    BOTH a and b — no nulls, which would float-coerce int64 ids)."""
    import numpy as np

    ca, cb, cm = [], [], []
    for pdf in batches:
        if len(pdf):
            ca.append(pdf["a"].to_numpy())
            cb.append(pdf["b"].to_numpy())
            cm.append(pdf["m"].to_numpy())
    if not ca:
        return None, None, None
    m = np.concatenate(cm)
    a = np.concatenate(ca)
    b = np.concatenate(cb)
    return a[m == 0], b[m == 0], a[m == 1]


def _index_graph(a, b, extra=None):
    """Dense-index the node universe (sorted, so index order == id
    order). Returns (nodes, ea, eb[, extra_idx])."""
    import numpy as np

    parts = [a, b] if extra is None else [a, b, extra]
    nodes, inv = np.unique(np.concatenate(parts), return_inverse=True)
    ea, eb = inv[: len(a)], inv[len(a) : 2 * len(a)]
    if extra is None:
        return nodes, ea, eb
    return nodes, ea, eb, inv[2 * len(a) :]


def _pagerank_local(damping: float, iterations: int):
    def fn(batches):
        import numpy as np

        from sandbox_data_pipeline_spark.operators.dedup import (
            _cc_gather_edges,
            _cc_yield_chunked,
        )

        a, b = _cc_gather_edges(batches)
        if a is None:
            return
        nodes, ea, eb = _index_graph(a, b)
        n = len(nodes)
        deg = np.bincount(ea, minlength=n)
        sinks = deg == 0
        has_sinks = bool(sinks.any())
        safe_deg = np.where(sinks, 1, deg).astype("float64")
        r = np.full(n, 1.0 / n)
        for _ in range(iterations):
            s = np.zeros(n)
            np.add.at(s, eb, r[ea] / safe_deg[ea])
            if has_sinks:
                s = s + r[sinks].sum() / n
            r = (1.0 - damping) / n + damping * s
        yield from _cc_yield_chunked(
            {
                "node": nodes,
                "deg": deg.astype("int64"),
                "n_nodes": np.full(n, n, dtype="int64"),
                "rank": r,
            },
            n,
        )

    return fn


def _ppr_local(damping: float, iterations: int):
    def fn(batches):
        import numpy as np

        from sandbox_data_pipeline_spark.operators.dedup import (
            _cc_yield_chunked,
        )

        a, b, seed = _gather_marked(batches)
        if a is None:
            return
        # node universe = edge endpoints only (the operator LEFT-joins
        # seeds onto graph nodes — out-of-graph seeds drop)
        nodes, ea, eb = _index_graph(a, b)
        n = len(nodes)
        deg = np.bincount(ea, minlength=n)
        is_seed = np.zeros(n, dtype="int64")
        is_seed[np.searchsorted(nodes, np.intersect1d(seed, nodes))] = 1
        n_seeds = int(is_seed.sum())
        restart = is_seed / float(n_seeds) if n_seeds else is_seed * 0.0
        safe_deg = np.where(deg == 0, 1, deg).astype("float64")
        r = restart.copy()
        for _ in range(iterations):
            s = np.zeros(n)
            np.add.at(s, eb, r[ea] / safe_deg[ea])
            r = (1.0 - damping) * restart + damping * s
        yield from _cc_yield_chunked(
            {
                "node": nodes,
                "deg": deg.astype("int64"),
                "is_seed": is_seed,
                "rank": r,
            },
            n,
        )

    return fn


def _hits_local(iterations: int):
    def fn(batches):
        import numpy as np

        from sandbox_data_pipeline_spark.operators.dedup import (
            _cc_gather_edges,
            _cc_yield_chunked,
        )

        a, b = _cc_gather_edges(batches)
        if a is None:
            return
        nodes, ea, eb = _index_graph(a, b)
        n = len(nodes)
        auth = np.ones(n, dtype="int64")
        hub = np.ones(n, dtype="int64")
        for _ in range(iterations):
            s = np.zeros(n, dtype="int64")
            np.add.at(s, eb, hub[ea])
            auth = s
            s = np.zeros(n, dtype="int64")
            np.add.at(s, ea, auth[eb])
            hub = s
        yield from _cc_yield_chunked(
            {"node": nodes, "a": auth, "h": hub}, n
        )

    return fn


def _lpa_local(iterations: int):
    def fn(batches):
        import numpy as np

        from sandbox_data_pipeline_spark.operators.dedup import (
            _cc_gather_edges,
            _cc_yield_chunked,
        )

        a, b = _cc_gather_edges(batches)
        if a is None:
            return
        nodes, ea, eb = _index_graph(a, b)
        n = len(nodes)
        lab = np.arange(n)
        self_keys = np.arange(n)
        for _ in range(iterations):
            node_k = np.concatenate([eb, self_keys])
            lab_k = np.concatenate([lab[ea], lab])
            combined = node_k.astype("int64") * n + lab_k
            keys, counts = np.unique(combined, return_counts=True)
            k_node = keys // n
            k_lab = keys % n
            # winner per node: max count, ties -> smallest label VALUE
            # (= smallest index, nodes sorted); lexsort's last key is
            # primary, first-per-node after the sort is the winner
            order = np.lexsort((k_lab, -counts, k_node))
            k_node_o = k_node[order]
            first = np.ones(len(order), dtype=bool)
            first[1:] = k_node_o[1:] != k_node_o[:-1]
            lab = np.empty(n, dtype="int64")
            lab[k_node_o[first]] = k_lab[order][first]
        yield from _cc_yield_chunked({"node": nodes, "label": nodes[lab]}, n)

    return fn


def _bfs_local(max_hops: int):
    def fn(batches):
        import numpy as np

        from sandbox_data_pipeline_spark.operators.dedup import (
            _cc_yield_chunked,
        )

        a, b, seed = _gather_marked(batches)
        if seed is None or len(seed) == 0:
            return
        # node universe includes out-of-graph seeds (dist 0 rows)
        if a is None or len(a) == 0:
            nodes = np.unique(seed)
            dist = np.zeros(len(nodes), dtype="int32")
            yield from _cc_yield_chunked(
                {"node": nodes, "dist": dist}, len(nodes)
            )
            return
        nodes, ea, eb, seed_idx = _index_graph(a, b, np.unique(seed))
        n = len(nodes)
        inf = np.iinfo("int64").max - 1
        dist = np.full(n, inf, dtype="int64")
        dist[seed_idx] = 0
        for _ in range(max_hops):
            # BSP round: relax from the PREVIOUS round's snapshot only
            # (sequential in-place relaxation could reach nodes beyond
            # the hop bound, which the operator's contract excludes)
            new = dist.copy()
            np.minimum.at(new, eb, dist[ea] + 1)
            dist = new
        reached = dist < inf
        yield from _cc_yield_chunked(
            {"node": nodes[reached], "dist": dist[reached].astype("int32")},
            int(reached.sum()),
        )

    return fn


def _kcore_local(k: int, rounds: int):
    """Bounded-round k-core peel over one task's edges: per round drop
    nodes with degree < k and their incident edges — integer-exact twin
    of the unrolled distributed peel. Emits (part, degree) over the
    surviving edge set."""

    def fn(batches):
        import numpy as np

        from sandbox_data_pipeline_spark.operators.dedup import (
            _cc_gather_edges,
            _cc_yield_chunked,
        )

        a, b = _cc_gather_edges(batches)
        if a is None:
            return
        nodes, ea, eb = _index_graph(a, b)
        n = len(nodes)
        alive = np.ones(len(ea), dtype=bool)
        for _ in range(rounds):
            cnt = np.bincount(
                np.concatenate([ea[alive], eb[alive]]), minlength=n
            )
            keep = cnt >= k
            alive &= keep[ea] & keep[eb]
        cnt = np.bincount(np.concatenate([ea[alive], eb[alive]]), minlength=n)
        left = cnt > 0
        yield from _cc_yield_chunked(
            {"part": nodes[left], "degree": cnt[left].astype("int64")},
            int(left.sum()),
        )

    return fn


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 5,
    src: str = "src",
    dst: str = "dst",
    checkpoint_every: int = 4,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list (sink-node
    dangling mass redistributed uniformly). For undirected graphs,
    pass both orientations of each pair.

    Returns (node, deg, pagerank, rank_rel): pagerank rounded to
    6 dp; rank_rel = rank·|V| (relative to uniform — >1 means more
    central than average), rounded to 4 dp. Counts and degrees stay
    integral; the only floats are the rank itself, rounded once at
    the end for cross-engine hash stability.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    # The edge list feeds every iteration; without a lineage cut an
    # upstream pair-generation pipeline (MinHash banding, etc.) would
    # replay iterations+1 times. Same discipline as
    # duplicate_clusters: materialize once, iterate over the blocks.
    edges = cut(edges, eager=False)
    if fits_local("graph_edges", edges.count()):
        state = _solve_local(
            edges,
            src,
            dst,
            _pagerank_local(damping, iterations),
            "node {id}, deg long, n_nodes long, rank double",
        )
        return state.select(
            "node",
            "deg",
            F.round("rank", 6).alias("pagerank"),
            F.round(F.col("rank") * F.col("n_nodes"), 4).alias("rank_rel"),
        )
    deg = edges.groupBy(src).agg(F.count("*").alias("deg"))
    # node set = sources ∪ destinations: a genuinely directed graph
    # has sink nodes with out-degree 0 (deg coalesced to 0); their
    # outgoing mass is "dangling" and redistributes uniformly each
    # round (the standard correction). Undirected pair graphs have no
    # sinks, the dangling term is identically 0, and the arithmetic
    # reduces to the plain update the SQL oracle replays.
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
        .join(deg.select(F.col(src).alias("node"), "deg"), "node", "left")
        .select("node", F.coalesce(F.col("deg"), F.lit(0)).alias("deg"))
    )
    nodes = cut(nodes, eager=False)  # reused every round
    n = nodes.agg(F.count("*").alias("n_nodes"))
    base = nodes.crossJoin(F.broadcast(n))
    ranks = base.select(
        "node", "deg", "n_nodes", (F.lit(1.0) / F.col("n_nodes")).alias("rank")
    )
    # The sink SET is static (degrees never change), so decide ONCE
    # whether the dangling-mass term exists at all: undirected pair
    # graphs have no sinks and keep the plain linear-lineage loop with
    # no extra scan/aggregate/broadcast per round.
    has_sinks = bool(nodes.where(F.col("deg") == 0).limit(1).count())
    e = edges.select(F.col(src).alias("e_src"), F.col(dst).alias("node"))
    for i in range(iterations):
        contrib = e.join(
            ranks.select(F.col("node").alias("e_src"), "deg", "rank"), "e_src"
        ).select("node", (F.col("rank") / F.col("deg")).alias("c"))
        summed = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        d_sum = F.coalesce(F.col("s"), F.lit(0.0))
        if has_sinks:
            dangling = ranks.where(F.col("deg") == 0).agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("d_mass")
            )
            d_sum = d_sum + F.col("d_mass") / F.col("n_nodes")
        ranks = base.join(summed, "node", "left")
        if has_sinks:
            ranks = ranks.crossJoin(F.broadcast(dangling))
        ranks = ranks.select(
            "node",
            "deg",
            "n_nodes",
            (
                F.lit(1.0 - damping) / F.col("n_nodes") + F.lit(damping) * d_sum
            ).alias("rank"),
        )
        # with sinks the plan references the previous ranks TWICE
        # (contributions + dangling aggregate): lineage doubles per
        # round, so cut it every round regardless of checkpoint_every
        if has_sinks or (
            checkpoint_every
            and (i + 1) % checkpoint_every == 0
            and i + 1 < iterations
        ):
            ranks = cut(ranks, eager=False)
    return ranks.select(
        "node",
        "deg",
        F.round("rank", 6).alias("pagerank"),
        F.round(F.col("rank") * F.col("n_nodes"), 4).alias("rank_rel"),
    )


def label_propagation(
    edges: DataFrame,
    iterations: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration synchronous label propagation (Raghavan et al.
    2007) — community detection on a pair graph. Each node starts
    labeled with its own id; per round every node adopts the most
    frequent label among its neighbors PLUS its own current label
    (the self-vote damps the 2-cycle oscillation synchronous LPA is
    known for), ties broken on the smallest label. Fully integer
    arithmetic, so the result is bit-identical across engines and
    partitionings.

    Scale: one edge-vs-labels join (both hash-partitioned on the node
    id) and one (node, label) groupBy per round; iterations are a
    small fixed constant. The labels frame is referenced twice per
    round (neighbor votes + self vote), so lineage is cut every
    round — the pagerank/hits discipline.

    Returns (node, label) after ``iterations`` rounds.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    edges = cut(edges, eager=False)
    if fits_local("graph_edges", edges.count()):
        return _solve_local(
            edges, src, dst, _lpa_local(iterations), "node {id}, label {id}"
        )
    e = edges.select(F.col(src).alias("e_src"), F.col(dst).alias("node"))
    labels = cut(
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
        .select("node", F.col("node").alias("label")),
        eager=False,
    )
    for _ in range(iterations):
        votes = (
            e.join(
                labels.select(F.col("node").alias("e_src"), "label"), "e_src"
            )
            .select("node", "label")
            .unionByName(labels.select("node", "label"))
            .groupBy("node", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # argmax label per node, ties -> smallest label: min over the
        # lexicographic struct (-count, label); exact integers only
        labels = cut(
            votes.groupBy("node")
            .agg(
                F.min(
                    F.struct((-F.col("c")).alias("nc"), F.col("label"))
                ).alias("w")
            )
            .select("node", F.col("w.label").alias("label")),
            eager=False,
        )
    return labels


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Bounded-hop BFS from a seed set: min-plus relaxation, one round
    per hop — dist(v) after round k is the length of the shortest
    path from any seed within k hops (nodes unreached in ``max_hops``
    hops are absent from the result).

    Per round: one edge-vs-frontier join + one min-groupBy, both
    keyed on the node id — the same BSP shape as pagerank. All
    integer, deterministic under any partitioning.

    Returns (node, dist).
    """
    if max_hops < 1:
        raise ValueError("max_hops must be >= 1")
    edges = cut(edges, eager=False)
    if fits_local("graph_edges", edges.count()):
        return _solve_local(
            edges, src, dst, _bfs_local(max_hops), "node {id}, dist int", seeds
        )
    e = edges.select(F.col(src).alias("e_src"), F.col(dst).alias("node"))
    dist = cut(
        seeds.select(
            F.col(seeds.columns[0]).alias("node"),
            F.lit(0).cast("int").alias("dist"),
        ),
        eager=False,
    )
    for _ in range(max_hops):
        relaxed = e.join(
            dist.select(F.col("node").alias("e_src"), "dist"), "e_src"
        ).select("node", (F.col("dist") + F.lit(1)).alias("dist"))
        dist = cut(
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").cast("int").alias("dist")),
            eager=False,
        )
    return dist


def hits(
    edges: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg 1999) in EXACT int64 arithmetic:
    authority(i) = Σ hub(j) over in-edges, hub(i) = Σ authority(j)
    over out-edges, initialized at 1 — no per-round float
    normalization, so every intermediate is an exact integer sum and
    the result is bit-identical across engines, partitionings, and
    summation orders. Scores grow ~(max_deg)^(2·iterations); with the
    default 3 iterations an int64 holds graphs up to ~1000-degree
    hubs. The single normalization happens once at the end (ratio to
    the max — identical operands → identical IEEE division).

    Same BSP shape as pagerank: one edge join + one groupBy per
    half-step, all keyed on the node id.
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    edges = cut(edges, eager=False)
    if fits_local("graph_edges", edges.count()):
        state = _solve_local(
            edges, src, dst, _hits_local(iterations), "node {id}, a long, h long"
        )
    else:
        nodes = (
            edges.select(F.col(src).alias("node"))
            .unionByName(edges.select(F.col(dst).alias("node")))
            .distinct()
        )
        state = nodes.select(
            "node",
            F.lit(1).cast("long").alias("a"),
            F.lit(1).cast("long").alias("h"),
        )
        e_in = edges.select(F.col(src).alias("from_n"), F.col(dst).alias("node"))
        e_out = edges.select(F.col(src).alias("node"), F.col(dst).alias("to_n"))
        for _ in range(iterations):
            a_new = (
                e_in.join(
                    state.select(F.col("node").alias("from_n"), "h"), "from_n"
                )
                .groupBy("node")
                .agg(F.sum("h").alias("a_new"))
            )
            state = (
                state.join(a_new, "node", "left")
                .select(
                    "node",
                    F.coalesce(F.col("a_new"), F.lit(0)).cast("long").alias("a"),
                    "h",
                )
            )
            h_new = (
                e_out.join(state.select(F.col("node").alias("to_n"), "a"), "to_n")
                .groupBy("node")
                .agg(F.sum("a").alias("h_new"))
            )
            state = cut(
                state.join(h_new, "node", "left")
                .select(
                    "node",
                    "a",
                    F.coalesce(F.col("h_new"), F.lit(0)).cast("long").alias("h"),
                ),
                eager=False,
            )
    maxes = state.agg(
        F.max("a").alias("max_a"), F.max("h").alias("max_h")
    )
    return state.crossJoin(F.broadcast(maxes)).select(
        "node",
        F.col("a").alias("authority_raw"),
        F.col("h").alias("hub_raw"),
        F.when(F.col("max_a") > 0, F.round(F.col("a") / F.col("max_a"), 6))
        .otherwise(F.lit(0.0))
        .alias("authority_rel"),
        F.when(F.col("max_h") > 0, F.round(F.col("h") / F.col("max_h"), 6))
        .otherwise(F.lit(0.0))
        .alias("hub_rel"),
    )


def wedge_pairs(
    adj: DataFrame,
    min_common: int = 1,
    max_degree: int | None = None,
) -> DataFrame:
    """Common-neighbor pairs via the wedge join: for every unordered
    node pair (u, v) reachable through >= ``min_common`` shared
    middle nodes of the (src=u, dst=w) adjacency list, emit
    (u, v, cn). The shape behind triangle counting, clustering
    coefficients and common-neighbor link prediction.

    Scale: the self-join on the middle node fans out Σ_w deg(w)² — a
    single hub w of degree d contributes d² candidate rows to ONE
    join key, the stage-killing skew at web-graph densities.
    ``max_degree`` is the standard production mitigation: middle
    nodes with deg(w) > max_degree are dropped BEFORE the join (a
    broadcast anti-join against the short hub list), trading
    recall on hub-mediated pairs for a hard per-key fan-out bound of
    max_degree². Capped counts are a LOWER bound of the uncapped
    ones (each surviving wedge exists uncapped), so downstream
    thresholds (cn >= k) only shrink the candidate set — the safe
    direction for candidate generation. Default None = exact, right
    at bench SF; set it when deg² skew shows up in the shuffle-read
    tail at corpus scale."""
    if max_degree is not None:
        # hubs (deg > cap) are FEW by definition — broadcast the hub
        # list and anti-join, never the (node-count-sized) keep list
        hubs = (
            adj.groupBy("w")
            .agg(F.count(F.lit(1)).alias("_d"))
            .where(F.col("_d") > max_degree)
            .select("w")
        )
        adj = adj.join(F.broadcast(hubs), "w", "anti")
    return (
        adj.select("u", "w")
        .join(adj.select(F.col("u").alias("v"), "w"), "w")
        .where(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("cn"))
        .where(F.col("cn") >= min_common)
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    damping: float = 0.85,
    iterations: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Personalized PageRank: random walk with restart onto ``seeds``
    (one column ``node``) — influence/contamination mass flowing FROM
    the seed set, where plain PageRank measures global centrality and
    BFS only hop distance. r₀ = uniform over seeds;
    r_{k+1}(v) = (1-d)·e(v) + d·Σ_{u→v} r_k(u)/deg(u), e = the seed
    restart vector. Undirected pair graphs have no sinks, so no
    dangling term (same reduction the PageRank oracle replays).

    Returns (node, deg, is_seed, ppr): ppr rounded to 6 dp once at the
    end. Same bulk-synchronous shape and lineage discipline as
    pagerank(): per round one edges⋈ranks join + one groupBy(dst) with
    map-side partials; the seed vector is a broadcast-sized column."""
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    edges = cut(edges, eager=False)
    if fits_local("graph_edges", edges.count()):
        state = _solve_local(
            edges,
            src,
            dst,
            _ppr_local(damping, iterations),
            "node {id}, deg long, is_seed long, rank double",
            seeds.select("node"),
        )
        return state.select(
            "node", "deg", "is_seed", F.round("rank", 6).alias("ppr")
        )
    deg = edges.groupBy(src).agg(F.count("*").alias("deg"))
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
        .join(deg.select(F.col(src).alias("node"), "deg"), "node", "left")
        .select("node", F.coalesce(F.col("deg"), F.lit(0)).alias("deg"))
    )
    seed_nodes = seeds.select("node").distinct()
    base = cut(
        nodes.join(
            seed_nodes.withColumn("_s", F.lit(1)), "node", "left"
        )
        .select(
            "node", "deg", F.coalesce(F.col("_s"), F.lit(0)).alias("is_seed")
        ),
        eager=False,
    )
    n_seeds = base.agg(F.sum("is_seed").alias("n_seeds"))
    base = base.crossJoin(F.broadcast(n_seeds))
    restart = F.col("is_seed").cast("double") / F.col("n_seeds")
    ranks = base.select("node", "deg", "is_seed", "n_seeds", restart.alias("rank"))
    e = edges.select(F.col(src).alias("e_src"), F.col(dst).alias("node"))
    for _ in range(iterations):
        contrib = e.join(
            ranks.select(F.col("node").alias("e_src"), "deg", "rank"), "e_src"
        ).select("node", (F.col("rank") / F.col("deg")).alias("c"))
        summed = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = cut(
            base.join(summed, "node", "left")
            .select(
                "node",
                "deg",
                "is_seed",
                "n_seeds",
                (
                    F.lit(1.0 - damping) * restart
                    + F.lit(damping)
                    * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("rank"),
            ),
            eager=False,
        )
    return ranks.select(
        "node",
        "deg",
        "is_seed",
        F.round("rank", 6).alias("ppr"),
    )
