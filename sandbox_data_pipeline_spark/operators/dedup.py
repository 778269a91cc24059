"""Deduplication operators for large-scale text corpora.

Exact (hash-group), n-gram Jaccard (shingle join), MinHash+LSH (band
join), SimHash (bit-vote fingerprint + byte-band hamming join). All
are compositions of built-in DataFrame ops — no UDFs, no windows, no
driver-side loops — so every stage partial-aggregates and shuffles
only on well-distributed keys.

Scale notes (100 TB posture):
- Shingling is done with array expressions (split/sequence/transform),
  NOT a per-doc window: zero shuffle until the first groupBy.
- MinHash signatures are K `min()` aggregates in ONE pass over the
  exploded shingles (map-side combine shrinks the shuffle to one row
  per doc per partition) — never a K-way cross join.
- Candidate generation joins on band signatures / simhash bytes, whose
  fan-out is bounded by actual near-duplicate density, not corpus size.
- `df_cap` (document-frequency cap) drops stop-shingles before the
  exact-Jaccard self-join — the classic guard against hot-key blowup
  when vocabulary is small relative to corpus size.

The portable hash — bigint from the first 15 hex chars of md5 — is
chosen because DuckDB computes the identical value, making every
operator here oracle-checkable cross-engine.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame

from sandbox_data_pipeline_spark.operators.local_solve import fits_local
from sandbox_data_pipeline_spark.queries._envproof import stable_round
from sandbox_data_pipeline_spark.session import cut
from pyspark.sql import functions as F


def portable_hash(col: Column, salt: str = "") -> Column:
    """Deterministic 60-bit hash identical in Spark and DuckDB:
    Spark  conv(substring(md5(salt||s),1,15),16,10)::long
    DuckDB ('0x'||substr(md5(salt||s),1,15))::BIGINT
    """
    base = F.concat(F.lit(salt), col) if salt else col
    return F.conv(F.substring(F.md5(base), 1, 15), 16, 10).cast("long")


def word_shingles(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    df_cap: int | None = None,
    distinct: bool = True,
) -> DataFrame:
    """Word n-grams per document, shuffle-free until (optional) distinct.

    Shingle i is concat_ws(' ', tokens[i..i+n-1]) for i in 0..len-n:
    explode(sequence(...)) yields the start positions and a plain
    projection indexes the tokens, so Generate and Project both run
    inside whole-stage codegen (a transform() lambda would not — every
    higher-order function is interpreted, once per token).
    ``df_cap`` removes shingles appearing in more than that
    many documents (computed with one extra agg) before any self-join.

    ``distinct=False`` skips the per-doc dedup shuffle entirely — valid
    for consumers whose downstream aggregate is duplicate-insensitive
    (minhash's ``min``); set-semantics consumers (Jaccard counting)
    keep the default.
    """
    toks = F.split(F.col(text_col), " ")
    shingled = (
        docs.select(id_col, toks.alias("_toks"))
        .where(F.size("_toks") >= n)
        .select(
            id_col,
            "_toks",
            F.explode(F.sequence(F.lit(0), F.size("_toks") - n)).alias("_i"),
        )
        .select(
            id_col,
            F.concat_ws(
                " ", *[F.col("_toks")[F.col("_i") + j] for j in range(n)]
            ).alias("shingle"),
        )
    )
    if distinct:
        shingled = shingled.distinct()
    if df_cap is not None:
        hot = (
            shingled.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") > df_cap)
            .select("shingle")
        )
        shingled = shingled.join(hot, "shingle", "left_anti")
    return shingled


def exact_dedup_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup as two-level aggregation: group by content hash,
    then corpus-level stats. One row out; both aggs partial-combine."""
    groups = docs.groupBy(F.md5(F.col(text_col)).alias("fp")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return groups.agg(
        F.count(F.lit(1)).alias("n_distinct_texts"),
        F.sum("cnt").alias("n_docs"),
        F.sum(F.col("cnt") - 1).alias("n_dup_docs"),
    )


def exact_dedup_keep(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep-first exact dedup: min(id) per content hash — the survivor
    set. Equivalent to dropDuplicates([text]) but with a deterministic
    keeper, which dropDuplicates does not guarantee."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("fp"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_cnt"))
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 5,
    threshold: float = 0.2,
    id_col: str = "doc_id",
    text_col: str = "text",
    df_cap: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all colliding pairs.

    shingle self-join (shuffle key: shingle) → per-pair common count →
    join per-doc sizes → |A∩B| / (|A|+|B|-|A∩B|). Emits pairs with
    jaccard >= threshold, doc_a < doc_b.

    ``df_cap`` is ON by default: an unguarded shingle self-join is
    O(Σ df²) — one stop-shingle shared by 1M docs is 10¹² join rows.
    Capping document frequency bounds per-shingle fan-out at df_cap²;
    dropped shingles are by construction near-useless for similarity
    (they match everything). Pass ``df_cap=None`` only on corpora known
    to have no hot shingles.

    The shingle frame is cut once: sizes and both self-join sides
    read it.
    """
    sh = cut(word_shingles(docs, n=n, id_col=id_col, text_col=text_col, df_cap=df_cap))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            stable_round(F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")), 4),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "common", "jaccard")
    )


def containment_pairs(
    docs: DataFrame,
    n: int = 5,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    df_cap: int | None = 1000,
) -> DataFrame:
    """Directed n-gram containment C(A→B) = |A∩B| / |A| for colliding
    pairs — the asymmetric near-dup measure Jaccard misses: a short doc
    fully quoted inside a long one has high containment but low Jaccard
    (|A∩B|/|A∪B| shrinks with the size gap).

    Same banded plan as ngram_jaccard_pairs: shingle self-join (shuffle
    key: shingle, fan-out bounded by ``df_cap`` — ON by default, the
    O(Σ df²) guard) → per-pair common count → per-doc set sizes. Emits
    one row per unordered pair (doc_a < doc_b) with BOTH directions'
    containment, filtered on the max of the two.

    The shingle frame is consumed three times (sizes + both self-join
    sides), so it is cut eagerly, once, up front: recomputing instead
    measured 1.6x on the sf0.1 bench."""
    sh = cut(word_shingles(docs, n=n, id_col=id_col, text_col=text_col, df_cap=df_cap))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("cont_a_in_b", stable_round(F.col("common") / F.col("n_a"), 4))
        .withColumn("cont_b_in_a", stable_round(F.col("common") / F.col("n_b"), 4))
        .where(F.greatest("cont_a_in_b", "cont_b_in_a") >= threshold)
        .select("doc_a", "doc_b", "common", "cont_a_in_b", "cont_b_in_a")
    )


def perm_constants(k: int) -> list[int]:
    """Deterministic 60-bit XOR constants for the K minhash
    permutations (md5-derived, reproducible in any engine)."""
    import hashlib

    return [int(hashlib.md5(f"perm|{j}".encode()).hexdigest()[:15], 16) for j in range(k)]


def minhash_signatures(
    docs: DataFrame,
    k: int = 16,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """K-permutation MinHash signature in ONE aggregation pass:
    h_j(doc) = min over shingles of (hash(shingle) XOR c_j).

    The shingle is md5-hashed ONCE; each permutation is a bitwise XOR
    with a fixed 60-bit constant (a uniform permutation of the hash
    space — the standard cheap minhash family). The per-salt
    alternative (k md5 calls per shingle) costs k× the hashing and k×
    the codegen; XOR is one instruction. Columns h0..h{k-1}.

    Shingles are NOT deduplicated: ``min`` is duplicate-insensitive, so
    the per-doc distinct would add a full shuffle of the shingle
    strings for nothing — the only shuffle here is the partial-combined
    groupBy carrying k longs per doc per task."""
    sh = word_shingles(
        docs, n=n, id_col=id_col, text_col=text_col, distinct=False
    ).withColumn("_h", portable_hash(F.col("shingle")))
    aggs = [
        F.min(F.expr(f"_h ^ {c}").cast("long")).alias(f"h{j}")
        for j, c in enumerate(perm_constants(k))
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_bands(sig: DataFrame, k: int = 16, bands: int = 4, id_col: str = "doc_id") -> DataFrame:
    """LSH banding: band signature = md5 of the band's hash slice.
    Output (doc_id, band_idx, band_sig) — the join key space.

    Built as ONE explode over an inline array (not a union of selects):
    a union would re-evaluate the whole signature subplan per band —
    Catalyst does not share common subplans across union branches."""
    return sig.select(
        F.col(id_col), F.explode(F.array(*_band_structs(k, bands))).alias("b")
    ).select(id_col, "b.band_idx", "b.band_sig")


def _band_structs(k: int, bands: int) -> list[Column]:
    """One (band_idx, band_sig) struct per band over h0..h{k-1}."""
    r = k // bands
    return [
        F.struct(
            F.lit(bi).alias("band_idx"),
            F.md5(
                F.concat_ws("|", *[F.col(f"h{j}") for j in range(bi * r, (bi + 1) * r)])
            ).alias("band_sig"),
        )
        for bi in range(bands)
    ]


def _banded_with_sig(
    docs: DataFrame,
    k: int,
    bands: int,
    n: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """(id, sig array<long>, band_idx, band_sig) — the band-join frame
    with the full signature riding along for inline verification."""
    sig = minhash_signatures(docs, k=k, n=n, id_col=id_col, text_col=text_col)
    return sig.select(
        F.col(id_col),
        F.array(*[F.col(f"h{j}") for j in range(k)]).alias("sig"),
        F.explode(F.array(*_band_structs(k, bands))).alias("b"),
    ).select(id_col, "sig", "b.band_idx", "b.band_sig")


_EST_MATCHES = (
    "aggregate(zip_with(a.sig, b.sig, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END),"
    " 0, (acc, v) -> acc + v)"
)


def minhash_candidate_pairs(
    docs: DataFrame,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs: band-join for candidates with
    estimated Jaccard (fraction of matching minhashes) computed INLINE.

    The signature rides the band rows as one array<long> column, so the
    band self-join verifies candidates with a zip_with over the two
    arrays — no second join back to a signature table, no persist, and
    the signature pipeline executes exactly once. Cost: band-join
    shuffle rows are k longs (~8k bytes at k=16) wider; at 100 TB that
    is still ~1e-4 of corpus bytes, and it removes two shuffles and a
    cached intermediate. Measured 4× faster end-to-end at sf0.1 than
    the join-back formulation."""
    banded = _banded_with_sig(docs, k, bands, n, id_col, text_col)
    a, b = banded.alias("a"), banded.alias("b")
    est = F.expr(_EST_MATCHES)
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            stable_round(est / F.lit(float(k)), 4).alias("est_jaccard"),
        )
        .distinct()
        .where(F.col("est_jaccard") >= threshold)
    )


# Connected-components sizing (duplicate_clusters; the one-task
# union-find budget is local_solve's "cc_edges"). Contraction
# partitions target ~2M edges (~32 MB Arrow in flight, matching the
# session's maxBytesPerBatch posture).
CC_CONTRACT_TARGET = 2_000_000
CC_MAX_CONTRACTIONS = 12


def _cc_minlabel_numpy(a, b):
    """Exact min-label connected components over edge arrays (a[i]
    connected to b[i]). Vectorized min-propagation with full pointer
    jumping per round: O(log n) rounds of O(E) work. Returns
    (nodes, roots) with roots[i] = min node id of nodes[i]'s component."""
    import numpy as np

    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ea, eb = inv[: len(a)], inv[len(a) :]
    lab = np.arange(len(nodes))
    while True:
        prev = lab
        lab = lab.copy()
        np.minimum.at(lab, ea, lab[eb])
        np.minimum.at(lab, eb, lab[ea])
        while True:
            nxt = lab[lab]
            if np.array_equal(nxt, lab):
                break
            lab = nxt
        if np.array_equal(prev, lab):
            break
    # labels are INDICES into the sorted node array, so the min index
    # is the min id — root lookup is one gather.
    return nodes, nodes[lab]


def _cc_gather_edges(batches):
    import numpy as np

    ca, cb = [], []
    for pdf in batches:
        if len(pdf):
            ca.append(pdf["a"].to_numpy())
            cb.append(pdf["b"].to_numpy())
    if not ca:
        return None, None
    return np.concatenate(ca), np.concatenate(cb)


def _cc_yield_chunked(cols: dict, n: int, chunk: int = 500_000):
    """Yield a dict of equal-length arrays as pandas chunks — one giant
    yielded frame would become one giant Arrow batch (pyspark does not
    re-chunk mapInPandas output)."""
    import pandas as pd

    for lo in range(0, n, chunk):
        yield pd.DataFrame({k: v[lo : lo + chunk] for k, v in cols.items()})


def _cc_contract(batches):
    """Per-partition contraction: replace this partition's edges by the
    star (root -> member) of their local components. Connectivity of
    the UNION over partitions is preserved (each partition's star spans
    exactly the nodes its edges span), every node survives, and dense
    components collapse to n-1 rows."""
    a, b = _cc_gather_edges(batches)
    if a is None:
        return
    nodes, roots = _cc_minlabel_numpy(a, b)
    keep = roots != nodes
    yield from _cc_yield_chunked({"a": roots[keep], "b": nodes[keep]}, int(keep.sum()))


def _cc_solve(batches):
    """Single-partition exact solve: emit (doc_id, cluster_id) for every
    node, roots included."""
    a, b = _cc_gather_edges(batches)
    if a is None:
        return
    nodes, roots = _cc_minlabel_numpy(a, b)
    yield from _cc_yield_chunked({"doc_id": nodes, "cluster_id": roots}, len(nodes))


def duplicate_clusters(
    pairs: DataFrame,
    max_iter: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """Resolve near-duplicate PAIRS into CLUSTERS (connected
    components): output (doc_id, cluster_id) where cluster_id is the
    minimum doc id reachable through the pair graph — the canonical
    survivor each member should defer to.

    Two-level scheme (r12 — the per-round Spark overhead of the label
    loop dominated every CC query at bench scale: ~1.5 s/round x 12
    rounds on a 1,711-node graph):

    1. While the edge count exceeds the "cc_edges" local-solve cap
       (operators/local_solve.py), run per-partition
       CONTRACTION passes: partition edges by a deterministic synthetic
       key (pmod(xxhash64(a,b))) — skew-proof, retry-stable — and let
       one vectorized union-find per partition replace its edges by the
       star of their local components. Connectivity is preserved
       exactly; dense near-dup components collapse to (n-1) star rows,
       so real dup graphs shrink geometrically. One shuffle + one
       mapInPandas + one count per pass.
    2. Once the survivor graph is under the cap (~64 MB of ids),
       ONE task solves it exactly with vectorized min-label pointer
       jumping (O(E log n) numpy work, no per-round Spark jobs).
    3. If contraction stalls (matching-like graphs shrink < 25%/pass)
       or CC_MAX_CONTRACTIONS is hit, fall back to the distributed
       min-label propagation loop (pointer jumping, O(log diameter)
       rounds) on the contracted survivor — never wrong, just slower.
       Only that loop can fail to converge; it raises RuntimeError
       after ``max_iter`` rounds rather than silently returning
       half-propagated labels.

    ``stats`` (optional dict) receives {"iterations", "n_nodes"} —
    iterations counts contraction passes plus solve passes/rounds; the
    10x blow-up stress (tools/blowup_stress.py) asserts it against the
    log2(N) bound, which the two-level scheme satisfies by a wide
    margin."""
    sc = pairs.sparkSession.sparkContext
    id_type = pairs.schema["doc_a"].dataType.simpleString()
    edges = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b")).persist()
    n_edges = edges.count()
    passes = 0
    stalled = False
    while (
        n_edges
        and not fits_local("cc_edges", n_edges)
        and passes < CC_MAX_CONTRACTIONS
    ):
        n_parts = max(-(-n_edges // CC_CONTRACT_TARGET), sc.defaultParallelism)
        key = F.pmod(F.xxhash64(F.col("a"), F.col("b")), F.lit(n_parts * 64))
        contracted = (
            edges.repartition(n_parts, key)
            .mapInPandas(_cc_contract, f"a {id_type}, b {id_type}")
            .persist()
        )
        n_next = contracted.count()
        passes += 1
        edges.unpersist()
        edges = contracted
        stalled = n_next > n_edges * 3 // 4
        n_edges = n_next
        if stalled:
            break
    if not fits_local("cc_edges", n_edges):
        labels, rounds = _cc_propagation_loop(edges, max_iter)
        edges.unpersist()
    else:
        labels = cut(
            edges.repartition(1)
            .mapInPandas(_cc_solve, f"doc_id {id_type}, cluster_id {id_type}")
        )
        rounds = 1
        edges.unpersist()
    if stats is not None:
        stats["iterations"] = passes + rounds
        stats["n_nodes"] = labels.count()
    return labels


def _cc_propagation_loop(
    edges_ab: DataFrame, max_iter: int
) -> tuple[DataFrame, int]:
    """Distributed min-label propagation with pointer jumping — the
    pre-r12 implementation, kept as the exact fallback for graphs the
    contraction passes cannot shrink under the local-solve cap. Each
    round every node takes the min of its own, its neighbors', and its
    label's label; O(log diameter) rounds; one lineage cut per
    round keeps lineage flat. Raises RuntimeError when max_iter rounds
    were insufficient."""
    # Undirect the edges with ONE explode, not a union of two selects:
    # Catalyst does not share common subplans across union branches, so
    # the union form would execute the whole upstream pipeline twice.
    edges = (
        edges_ab.select(
            F.explode(
                F.array(
                    F.struct(F.col("a"), F.col("b")),
                    F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .persist()
    )
    changed = -1
    n_rounds = 0
    for _ in range(max_iter):
        n_rounds += 1
        neighbor_min = (
            edges.join(labels, edges.b == labels.node)
            .groupBy("a")
            .agg(F.min("label").alias("nmin"))
        )
        propagated = (
            labels.join(neighbor_min, labels.node == neighbor_min.a, "left")
            .select(
                F.col("node"),
                F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias(
                    "label"
                ),
            )
            .persist()
        )
        # pointer jumping: label <- min(label, label[label]) — doubles
        # how far a small label has spread each round
        hop = propagated.select(
            F.col("node").alias("_ln"), F.col("label").alias("_ll")
        )
        # lazy: the changed-count below is the action that
        # materializes the cut — one pass per round, not two
        new_labels = cut(
            propagated.join(hop, propagated.label == hop._ln, "left")
            .select(
                F.col("node"),
                F.least(F.col("label"), F.coalesce(F.col("_ll"), F.col("label"))).alias(
                    "label"
                ),
            ),
            eager=False,
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        propagated.unpersist()
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    if changed != 0:
        raise RuntimeError(
            f"duplicate_clusters did not converge within {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter"
        )
    return (
        labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")),
        n_rounds,
    )


def keep_canonical(
    docs: DataFrame, clusters: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Drop every clustered doc except its cluster's canonical (minimum
    id) member; unpaired docs pass through untouched. One anti-join."""
    losers = clusters.where(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return docs.join(losers, docs[id_col] == losers.doc_id, "left_anti")


def simhash_fingerprints(
    docs: DataFrame,
    bits: int = 48,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash: per-token hash votes on each bit, weighted by term
    frequency (classic Charikar weighting — unweighted distinct-token
    votes degenerate when documents share most of their vocabulary);
    fingerprint bit b is 1 iff the signed vote sum >= 0.

    tf-weighting needs NO tf table: summing ±1 per token INSTANCE
    equals summing ±tf per distinct token, so the (doc, token) groupBy
    — a shuffle proportional to corpus vocabulary — disappears and the
    only shuffle is the partial-combined per-doc vote sum (`bits` longs
    per doc per task)."""
    hashed = (
        docs.select(id_col, F.explode(F.split(F.col(text_col), " ")).alias("token"))
        .where(F.col("token") != "")
        .withColumn("h", portable_hash(F.col("token")))
    )
    # r12: branch-free vote term — ((h>>b)&1)*2-1 is +1/-1 per row,
    # value-identical to the when/otherwise form (so the sums, and the
    # fingerprints, are bit-identical), but codegen emits straight-line
    # integer arithmetic instead of 48 conditionals per token row
    # (isolated agg A/B: 0.99 -> 0.78 s at sf0.1)
    votes = [
        F.sum(
            F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    summed = hashed.groupBy(id_col).agg(*votes)
    fp = reduce(
        lambda x, y: x + y,
        [F.when(F.col(f"s{b}") >= 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long")) for b in range(bits)],
    )
    return summed.select(F.col(id_col), fp.alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    bits: int = 48,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash near-dup pairs: byte-band join (any equal byte of the
    fingerprint → candidate; with 6 bytes and hamming <= 3 at least
    three bytes must match exactly), then exact hamming filter.
    48 bits (not 32) because shared-vocabulary corpora cluster tightly
    in simhash space — fewer bits produce quadratic candidate blowup.

    The fingerprint frame feeds both self-join sides, so it is cut
    EAGERLY: with a lazy cut both branches of the one pair-join action
    recomputed the fingerprints (measured 2x regression in round 4);
    eager pays one small extra job and computes them once."""
    fps = cut(simhash_fingerprints(docs, bits=bits, id_col=id_col, text_col=text_col))
    nbytes = bits // 8
    # single-pass banding (explode, not union — see minhash_bands)
    bands = fps.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.expr(f"(simhash >> {8 * i}) & 255").alias("band_val"),
                    )
                    for i in range(nbytes)
                ]
            )
        ).alias("b"),
    ).select(id_col, "simhash", "b.band_idx", "b.band_val")
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        # hamming is functionally dependent on the pair, so filtering
        # BEFORE the dedup is equivalent — and the distinct's shuffle
        # then carries only pairs that can survive, not every band
        # collision (band-heavy corpora collide far more than they match)
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def decontaminate(
    corpus: DataFrame,
    eval_docs: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any word
    n-gram with an eval/benchmark set (the GPT-3/PaLM training-data
    hygiene step). Returns one row per contaminated corpus doc with the
    count of distinct shared n-grams and of eval docs hit.

    Scale shape: the eval side is tiny relative to the corpus (benchmarks
    are MBs against TBs), so its shingle set is broadcast — the corpus
    shingle stream joins map-side without ever shuffling; the only
    shuffle is the final groupBy over contaminated docs, bounded by the
    contamination rate, not corpus size.
    """
    ev = word_shingles(eval_docs, n=n, id_col=id_col, text_col=text_col).select(
        F.col(id_col).alias("_eval_id"), "shingle"
    )
    # distinct=False: both output aggregates are countDistinct, which
    # dedups on its own — the per-doc distinct would add a full shuffle
    # of the corpus shingle stream for nothing
    co = word_shingles(corpus, n=n, id_col=id_col, text_col=text_col, distinct=False)
    return (
        co.join(F.broadcast(ev), "shingle")
        .groupBy(id_col)
        .agg(
            F.countDistinct("shingle").alias("n_shared_shingles"),
            F.countDistinct("_eval_id").alias("n_eval_docs"),
        )
    )


def passages(
    docs: DataFrame,
    window: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Non-overlapping ``window``-token passages per document — the
    granularity for passage-level dedup (RefinedWeb/C4-style: drop
    repeated spans instead of whole near-duplicate docs, and the chunk
    unit RAG corpora dedup on before indexing).

    Chunking is pure array expressions (split → filter → slice inside
    transform), row-local in whole-stage codegen: zero shuffle, so at
    100 TB this stage is scan-bound. The trailing partial chunk is kept
    (dropping it would silently exempt short docs from dedup).

    Output: (id, passage_idx, passage_fp, n_tokens_in_passage). The
    fingerprint is md5 of the space-rejoined chunk — positionally exact,
    cross-engine reproducible.
    """
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    chunked = (
        docs.select(F.col(id_col), toks.alias("_toks"))
        .where(F.size("_toks") > 0)
        .select(
            id_col,
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, cast(ceil(size(_toks) / {window}.0) as int) - 1), "
                    f"i -> concat_ws(' ', slice(_toks, i * {window} + 1, {window})))"
                )
            ).alias("passage_idx", "_passage"),
        )
    )
    return chunked.select(
        id_col,
        F.col("passage_idx").cast("long").alias("passage_idx"),
        F.md5("_passage").alias("passage_fp"),
        (F.size(F.filter(F.split(F.col("_passage"), " "), lambda t: t != "")))
        .cast("long")
        .alias("passage_tokens"),
    )


def passage_dup_stats(
    docs: DataFrame,
    window: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide duplicate-passage inventory: one row per passage
    fingerprint occurring more than once, with occurrence/document
    counts and the deterministic keeper (min doc id, min index within
    it). One hash-groupBy on the fingerprint — uniform key, map-side
    partials, no skew hazard."""
    p = passages(docs, window=window, id_col=id_col, text_col=text_col)
    return (
        p.groupBy("passage_fp")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct(id_col).alias("n_docs"),
            F.min(id_col).alias("keep_doc"),
        )
        .where(F.col("n_copies") > 1)
    )


def passage_dup_ratio(
    docs: DataFrame,
    window: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document duplicated-passage ratio — the curation signal a
    passage-level dedup pass gates on (docs that are mostly recycled
    spans get dropped or trimmed).

    Plan: passage stream → count() window over the fingerprint (one
    shuffle on a uniform key, no self-join, input scanned once) →
    per-doc aggregate (second shuffle on the doc id). The ratio divides
    two small ints, so its 4-decimal rounding is never on a half
    boundary — cross-engine safe.
    """
    from pyspark.sql import Window as W

    p = passages(docs, window=window, id_col=id_col, text_col=text_col)
    counted = p.withColumn(
        "_copies", F.count(F.lit(1)).over(W.partitionBy("passage_fp"))
    )
    return counted.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_passages"),
        F.sum((F.col("_copies") > 1).cast("long")).alias("n_dup_passages"),
        stable_round(
            F.sum((F.col("_copies") > 1).cast("long"))
            / F.count(F.lit(1)),
            4,
        ).alias("dup_ratio"),
    )


def incremental_dedup(
    new_docs: DataFrame,
    corpus: DataFrame,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Admission filter for a fresh ingest batch against a published
    corpus — the production shape of dedup in a continuously-ingesting
    training-data pipeline (batch N+1 must dedup against everything
    already admitted, not just itself).

    Per batch doc, one verdict (checked in precedence order):

    - ``exact_corpus``  — md5(text) already published
    - ``exact_batch``   — same fp as a lower-id doc in this batch
    - ``near_corpus``   — MinHash-LSH candidate vs the corpus with
      estimated Jaccard ≥ threshold
    - ``near_batch``    — near-dup of a lower-id exact-surviving batch
      doc (deterministic keep-lowest-id, same rule as keep_canonical)
    - ``admitted``      — none of the above

    Scale: the batch↔corpus band join is new×corpus only (the corpus
    never self-joins — its pairs were resolved when ITS batches were
    admitted), and fan-out is bounded by band-bucket co-occupancy
    exactly as in minhash_candidate_pairs. At 100 TB the corpus
    signatures/bands are write-once artifacts of prior admissions; this
    function recomputes them from text only because the test corpus is
    small — pass precomputed frames by wrapping, the band frame schema
    is (id, sig, band_idx, band_sig). Exact-stage corpus fps shuffle
    once on the uniform md5 key.
    """
    fp_new = new_docs.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("fp")
    )
    corpus_fps = corpus.select(F.md5(F.col(text_col)).alias("fp")).distinct()

    from pyspark.sql import Window as W

    flagged = (
        fp_new.join(corpus_fps.withColumn("_in_corpus", F.lit(1)), "fp", "left")
        .withColumn("_min_id", F.min(id_col).over(W.partitionBy("fp")))
    )
    exact_stage = flagged.select(
        id_col,
        "fp",
        (F.col("_in_corpus").isNotNull()).alias("is_exact_corpus"),
        (F.col("_in_corpus").isNull() & (F.col(id_col) > F.col("_min_id"))).alias(
            "is_exact_batch"
        ),
    )
    survivors = exact_stage.where(
        ~F.col("is_exact_corpus") & ~F.col("is_exact_batch")
    ).select(id_col)

    e_docs = new_docs.join(survivors, id_col, "left_semi")
    e_banded = _banded_with_sig(e_docs, k, bands, n, id_col, text_col)
    c_banded = _banded_with_sig(corpus, k, bands, n, id_col, text_col)

    est = F.expr(_EST_MATCHES) / F.lit(float(k))
    near_corpus_ids = (
        e_banded.alias("a")
        .join(
            c_banded.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_sig") == F.col("b.band_sig")),
        )
        .where(est >= threshold)
        .select(F.col(f"a.{id_col}").alias(id_col))
        .distinct()
        .withColumn("is_near_corpus", F.lit(True))
    )
    near_batch_ids = (
        e_banded.alias("b")
        .join(
            e_banded.alias("a"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .where(est >= threshold)
        .select(F.col(f"b.{id_col}").alias(id_col))
        .distinct()
        .withColumn("is_near_batch", F.lit(True))
    )

    verdict = (
        F.when(F.col("is_exact_corpus"), "exact_corpus")
        .when(F.col("is_exact_batch"), "exact_batch")
        .when(F.col("is_near_corpus"), "near_corpus")
        .when(F.col("is_near_batch"), "near_batch")
        .otherwise("admitted")
    )
    return (
        exact_stage.join(near_corpus_ids, id_col, "left")
        .join(near_batch_ids, id_col, "left")
        .select(id_col, "fp", verdict.alias("verdict"))
    )


def duplicated_substring_spans(
    docs: DataFrame,
    gram_len: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    anchor_mod: int = 1,
) -> DataFrame:
    """Exact substring deduplication: maximal character spans that are
    duplicated ANYWHERE in the corpus (the suffix-array dedup of Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models
    Better", re-expressed relationally).

    Plan: every character ``gram_len``-gram of every doc (JVM-side
    substring over an exploded position sequence — no Python) → a
    COUNT window partitioned by the gram hash keeps positions whose
    gram occurs ≥ 2 times corpus-wide → per-doc gaps-and-islands merge
    of the surviving [pos, pos+L) intervals (lag + running flag-sum
    window) → one row per maximal duplicated span (doc_id, span_start,
    span_end inclusive, span_len).

    The window formulation (vs groupBy-then-semi-join-back) shuffles
    the gram stream ONCE and never materializes it: the grams are
    hashed exactly once with no checkpoint — measured 15% faster at
    sf0.1 with identical output. Grams shuffle as the portable 60-bit
    hash (8 bytes), never the raw 32-char string — and because DuckDB
    computes the identical hash, a collision (≈ n²/2⁶¹) merely merges
    the same gram groups on both engines, so the differential oracle
    stays exact rather than merely probable. At 100 TB add a df-cap
    filter for runaway boilerplate grams exactly like word_shingles'
    guard; the island merge is unchanged. Docs shorter than the gram
    are span-free by definition (filtered before the position explode,
    which also keeps F.sequence bounds valid).

    ``anchor_mod`` is the 100 TB knob: the per-character gram stream is
    8–16× corpus bytes, and shuffling all of it is the honest cost of
    EXACT spans (default, anchor_mod=1). With anchor_mod = m > 1 only
    grams whose hash ≡ 0 (mod m) survive to the shuffle — CONTENT-
    DEFINED anchoring (the winnowing/CDC trick), so both copies of a
    duplicated region keep the SAME anchors regardless of their byte
    offsets (a fixed positional stride would misalign the copies and
    miss every cross-offset duplicate). Shuffle volume drops ~m×;
    detection becomes probabilistic — a duplicated region of length
    ℓ ≥ gram_len contains an anchor with p ≈ 1 − (1−1/m)^(ℓ−gram_len+1),
    and reported span boundaries snap to anchored positions (start may
    move right, end left, by ~m expected). Production posture from Lee
    et al.: exact pass per shard via suffix arrays, anchored pass for
    the cross-shard sweep."""
    from pyspark.sql import Window

    L = gram_len
    d = docs.where(F.length(text_col) >= L).select(
        F.col(id_col), F.col(text_col).alias("_t")
    )
    grams = d.select(
        id_col,
        F.explode(F.sequence(F.lit(1), F.length("_t") - F.lit(L - 1))).alias(
            "pos"
        ),
        F.col("_t"),
    ).select(
        id_col,
        "pos",
        portable_hash(F.expr(f"substring(_t, pos, {L})")).alias("gkey"),
    )
    if anchor_mod > 1:
        grams = grams.where(F.pmod(F.col("gkey"), F.lit(anchor_mod)) == 0)
    occ = F.count(F.lit(1)).over(Window.partitionBy("gkey"))
    dup_pos = (
        grams.withColumn("occ", occ).where(F.col("occ") >= 2).drop("occ", "gkey")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    islands = (
        dup_pos.withColumn("prev", F.lag("pos").over(w))
        # same-length intervals: [pos, pos+L-1] merges with the
        # previous one iff it starts at or before prev_end + 1
        .withColumn(
            "new_span",
            F.when(
                F.col("prev").isNull() | (F.col("pos") > F.col("prev") + L),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("span_id", F.sum("new_span").over(w))
    )
    return (
        islands.groupBy(id_col, "span_id")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(L - 1)).alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
        )
    )


def prefix_filtered_jaccard(
    docs: DataFrame,
    threshold: float = 0.6,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT all-pairs n-gram Jaccard join via prefix filtering — the
    AllPairs/PPJoin family (Bayardo et al. WWW'07; Xiao et al. WWW'08)
    re-expressed relationally. Complete by construction: every pair
    with Jaccard >= threshold is emitted, unlike the MinHash/SimHash
    paths which are probabilistic and the plain shingle self-join
    (ngram_jaccard_pairs) whose df_cap trades completeness for fan-out.

    Prefix theorem: order shingles globally by (document frequency,
    shingle); for J(A,B) >= t the globally-smallest COMMON shingle must
    sit within the first ``|x| - ceil(t*|x|) + 1`` shingles of BOTH
    docs. So the candidate join keys on PREFIX shingles only — by
    construction the corpus's rarest — and the quadratic fan-out
    Σ df² runs over small df by design, which is why no df_cap is
    needed for the guard the other paths require.

    Plan: shingle df agg → per-doc rarity-sorted shingle array (one
    groupBy-doc shuffle; arrays bounded by doc length) → prefix explode
    → self-join on prefix shingle + size filter (t·max <= min) →
    distinct candidate ids → exact verify via array_intersect on the
    two docs' full shingle arrays. Output: doc_a < doc_b, sizes,
    intersection, jaccard (rounded 4).
    """
    sh = word_shingles(docs, n=n, id_col=id_col, text_col=text_col, distinct=True)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    # cut: consumed by the prefix self-join (both sides) AND both
    # verification array joins — without it the shingle + df + sort
    # pipeline re-runs up to 5x (same measured trade as
    # containment_pairs).
    per_doc = cut(
        sh.join(dfreq, "shingle")
        .groupBy(id_col)
        .agg(
            F.expr("transform(array_sort(collect_list(struct(_df, shingle))), x -> x.shingle)").alias(
                "_sorted"
            )
        )
        .select(
            F.col(id_col),
            "_sorted",
            F.size("_sorted").alias("n_sh"),
        )
        .withColumn(
            "_prefix",
            F.expr(
                f"slice(_sorted, 1, size(_sorted) - ceil({threshold} * size(_sorted)) + 1)"
            ),
        )
    )
    pref = per_doc.select(
        id_col, "n_sh", F.explode("_prefix").alias("shingle")
    )
    a = pref.select(
        F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"), "shingle"
    )
    b = pref.select(
        F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"), "shingle"
    )
    cands = (
        a.join(
            b,
            (a["shingle"] == b["shingle"])
            & (F.col("doc_a") < F.col("doc_b"))
            & (F.col("n_b") >= threshold * F.col("n_a"))
            & (F.col("n_a") >= threshold * F.col("n_b")),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    arr_a = per_doc.select(
        F.col(id_col).alias("doc_a"), F.col("_sorted").alias("_arr_a"), F.col("n_sh").alias("n_a")
    )
    arr_b = per_doc.select(
        F.col(id_col).alias("doc_b"), F.col("_sorted").alias("_arr_b"), F.col("n_sh").alias("n_b")
    )
    inter = F.size(F.array_intersect("_arr_a", "_arr_b"))
    return (
        cands.join(arr_a, "doc_a")
        .join(arr_b, "doc_b")
        .withColumn("inter", inter)
        .withColumn(
            "jaccard",
            stable_round(F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 4),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_a", "n_b", "inter", "jaccard")
    )


def fuzzy_match_pairs(
    docs: DataFrame,
    prefix: int = 8,
    body: int = 96,
    max_dist: int = 24,
    block_cap: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Entity-resolution fuzzy matching: blocked edit-distance pairs.

    Blocking key = (lang, first ``prefix`` chars); candidates compare
    the next ``body`` chars with Levenshtein (built-in on BOTH engines,
    an exact integer DP — cross-engine identical on ASCII, which the
    sanitizer guarantees by construction). Spark's thresholded
    levenshtein(l, r, k) runs the banded O(len*k) DP and returns -1
    above k, so non-matches exit early.

    Scale shape: one shuffle of narrow (id, key, body<=``body`` chars)
    rows on the block key; quadratic work is bounded per block and
    blocks above ``block_cap`` are dropped entirely (the hot-block
    guard, same policy as the df_cap shingle guard) — the guard is part
    of the operator's declared semantics so the differential oracle
    mirrors it exactly."""
    sanitize = lambda c: F.regexp_replace(c, r"[^\x00-\x7F]", "")  # noqa: E731
    d = docs.select(
        F.col(id_col),
        F.col(lang_col).alias("lang"),
        F.substring(sanitize(F.col(text_col)), 1, prefix).alias("blk"),
        F.substring(sanitize(F.col(text_col)), prefix + 1, body).alias("body"),
    )
    sizes = d.groupBy("lang", "blk").agg(F.count(F.lit(1)).alias("_bc"))
    d = d.join(
        F.broadcast(sizes.where(F.col("_bc") > block_cap)),
        ["lang", "blk"],
        "left_anti",
    )
    a, b = d.alias("a"), d.alias("b")
    lev = F.levenshtein(F.col("a.body"), F.col("b.body"), max_dist)
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .where(lev >= 0)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.lang").alias("lang"),
            lev.alias("edit_dist"),
        )
    )
