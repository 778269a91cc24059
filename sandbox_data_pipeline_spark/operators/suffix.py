"""Distributed suffix-array construction by prefix doubling — the
EXACT repeated-substring machinery behind suffix-array corpus dedup
(Lee et al. 2022, "Deduplicating Training Data Makes Language Models
Better"), on DataFrames.

The anchored/CDC span dedup (queries/dedup.py) is the approximate
production path; this is the exact one: rank every suffix of every
document globally, then adjacent suffixes in rank order with a long
common prefix ARE the repeated substrings — maximal repeats of ANY
length fall out of one pass over the rank-adjacent pairs, where n-gram
methods see only fixed lengths.

Algorithm (Manber-Myers prefix doubling, log L rounds):
  round 0: rank(pos) = codepoint of the character at pos;
  round k: re-rank by the pair (rank[pos], rank[pos + 2^k]) — after
  round k, ranks order suffixes by their first 2^(k+1) characters.
Every round is three bounded shuffles on the position table:
  1. the pair partner rank[pos + 2^k] is a LEAD window inside each
     document (positions of one doc are co-partitioned) — no join;
  2. a GLOBAL row_number over (rank, partner, doc, pos) via the
     two-phase range rank below — never a single-partition sort;
  3. equal pairs collapse to one rank (MIN of the row numbers over a
     (rank, partner) window), keeping ranks equal-for-equal-keys and
     order-preserving (density is not required by the algorithm).
At 100 TB this is the textbook terascale construction: log L rounds of
distributed sorts of the (corpus-length) position table, every step
hash- or range-partitioned, nothing driver-side but the round counter.

Determinism: tie-breaks are total ((rank, partner, doc_id, pos) is
unique), so the resulting ranks are partition-count-independent — the
differential-oracle requirement (DuckDB sorts the suffix STRINGS
directly; the two must agree row for row).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sandbox_data_pipeline_spark.operators.local_solve import fits_local
from sandbox_data_pipeline_spark.session import cut


def global_row_number(
    df: DataFrame,
    order_cols: list[str],
    out: str = "rn",
    num_parts: int | None = None,
) -> DataFrame:
    """Global 1-based row_number over ``order_cols`` WITHOUT a
    single-partition sort: range-repartition on the (unique) ordering
    tuple, rank locally within each range partition, then add the
    per-partition offsets (a frame bounded by the partition count, not
    the data). The ordering tuple MUST be unique per row — callers
    append tie-break columns to guarantee it. ``num_parts`` sizes the
    range exchange to the data (task-scheduling overhead dominates on
    small frames; at scale pass None for the session default)."""
    if num_parts is not None:
        d = df.repartitionByRange(num_parts, *order_cols)
    else:
        d = df.repartitionByRange(*order_cols)
    d = d.withColumn("_pid", F.spark_partition_id())
    if num_parts is not None:
        # pre-shape the window's exchange: HashPartitioning(_pid,
        # num_parts) satisfies the window's distribution, so Spark
        # reuses it instead of inserting a session-default-sized one
        d = d.repartition(num_parts, "_pid")
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    d = d.withColumn("_lrn", F.row_number().over(w))
    counts = d.groupBy("_pid").agg(F.count(F.lit(1)).alias("_c"))
    # unpartitioned window over the COUNTS frame only — bounded by the
    # shuffle partition count (hundreds), never by data size; the
    # WindowExec single-partition warning it triggers is cosmetic
    wo = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = counts.withColumn(
        "_off", F.coalesce(F.sum("_c").over(wo), F.lit(0))
    ).select("_pid", "_off")
    return (
        d.join(F.broadcast(offs), "_pid")
        .withColumn(out, (F.col("_lrn") + F.col("_off")).cast("long"))
        .drop("_pid", "_lrn", "_off")
    )


def _is_ascii(docs: DataFrame, text_col: str) -> bool:
    """One bounded probe: does any document carry a codepoint > 127?
    Drives the 8-char packed-rank fast path (ASCII fits 7 bits)."""
    return (
        docs.where(F.col(text_col).rlike("[^\\x00-\\x7F]")).limit(1).count()
        == 0
    )


def suffix_positions(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_len: int = 128,
) -> DataFrame:
    """(doc_id, pos, ch) for every position of the (truncated) text —
    the working table of the construction. ``max_len`` bounds the
    suffix horizon: ranks order suffixes by their first ``max_len``
    characters, which also caps the doubling rounds at ceil(log2)."""
    trunc = F.substring(F.col(text_col), 1, max_len)
    chars = F.filter(F.split(trunc, ""), lambda c: c != F.lit(""))
    return docs.select(
        F.col(id_col).alias("doc_id"), F.posexplode(chars).alias("pos", "ch")
    )


def suffix_array(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_len: int = 128,
    direct_horizon: int = 256,
) -> DataFrame:
    """(doc_id, pos, sa_rank): the global suffix array of the corpus,
    suffixes compared on their first ``max_len`` characters with
    (doc_id, pos) as the total tie-break — identical to sorting the
    suffix strings directly (the oracle's formulation).

    Two physical strategies, chosen by the horizon:

    * ``max_len <= direct_horizon``: ONE range-sort of the truncated
      suffix strings (global_row_number on (suf, doc, pos)). Shuffle
      volume is max_len bytes/position in a single exchange — at
      max_len=128 that is ~the same bytes as prefix doubling moves
      across its 4 rounds (4 x ~24 B/row x 3 exchanges), for 1/12th
      the exchanges and none of the per-round barriers (measured
      9.2 s -> 1.7 s at sf0.1). The key insight: doubling's win is
      asymptotic in the HORIZON, not the corpus — at bounded horizons
      the direct sort is strictly less shuffle.
    * larger horizons: Manber-Myers prefix doubling (module
      docstring) — O(log L) rounds of fixed-width (16 B/row) ranks,
      the only strategy whose shuffle width does not scale with L.
    """
    if max_len <= direct_horizon:
        # r12: truncated text + char array are PROJECTED before the
        # posexplode — generating off the inline filter(split(...))
        # with the _t sibling in the same select re-evaluated the
        # tokenization per emitted char row (measured 1.34 s → 0.89 s
        # at sf0.1; identical rows, exceptAll-verified)
        trunc = F.substring(F.col(text_col), 1, max_len)
        chars = F.filter(F.split(trunc, ""), lambda c: c != F.lit(""))
        base = (
            docs.select(
                F.col(id_col).alias("doc_id"),
                trunc.alias("_t"),
                chars.alias("_c"),
            )
            .select("doc_id", "_t", F.posexplode("_c").alias("pos", "ch"))
            .select(
                "doc_id",
                "pos",
                F.expr(f"substring(_t, pos + 1, {max_len})").alias("_suf"),
            )
        )
        return global_row_number(
            base, ["_suf", "doc_id", "pos"], out="sa_rank"
        ).select("doc_id", "pos", "sa_rank")
    wd = Window.partitionBy("doc_id").orderBy("pos")
    # Initial rank: the first EIGHT characters packed into one long
    # (7 bits per ASCII codepoint x 8 = 56 bits) — monotone w.r.t. the
    # 8-char prefix order, with 0-padding beyond the suffix end
    # sorting first (shorter suffix before its extensions, matching
    # string order). Computed straight off the text at explode time —
    # a NARROW projection, no window, no shuffle — and it halves the
    # doubling rounds: h starts at 8, so max_len=128 takes 4 rounds,
    # not 7. Non-ASCII input (codepoint > 127) falls back to per-char
    # init, correct at any alphabet.
    trunc = F.substring(F.col(text_col), 1, max_len)
    chars = F.filter(F.split(trunc, ""), lambda c: c != F.lit(""))
    # same projected-before-explode discipline as the direct path
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        trunc.alias("_t"),
        chars.alias("_c"),
    ).select("doc_id", "_t", F.posexplode("_c").alias("pos", "ch"))
    if _is_ascii(docs, text_col):
        pack = None
        for i in range(8):
            c = F.coalesce(
                F.ascii(F.substring(F.col("_t"), F.col("pos") + 1 + i, 1)),
                F.lit(0),
            ).cast("long") * F.lit(1 << (49 - 7 * i))
            pack = c if pack is None else pack + c
        h = 8
    else:
        pack = F.ascii("ch").cast("long")
        h = 1
    cur = cut(base.select("doc_id", "pos", pack.alias("rank")))
    n_rows = cur.count()  # cut: a metadata-cheap action
    # size the range exchanges to the data — ~50k rows per task floor;
    # at corpus scale this recovers the session's shuffle parallelism
    parts = max(4, min(int(n_rows // 50_000) + 1, 2048))
    while h < max_len:
        stepped = cur.repartition(parts, "doc_id").withColumn(
            "r2", F.coalesce(F.lead("rank", h).over(wd), F.lit(-1))
        )
        numbered = global_row_number(
            stepped, ["rank", "r2", "doc_id", "pos"], out="_grn",
            num_parts=parts,
        )
        last_round = h * 2 >= max_len
        if last_round:
            # the last round's row_number over (rank, r2, doc, pos) IS
            # the final suffix order: ranks order by the first h chars,
            # partners extend to 2h >= max_len, and (doc, pos) is the
            # declared total tie-break — no key-collapse or extra
            # ranking pass needed
            return numbered.select(
                "doc_id", "pos", F.col("_grn").alias("sa_rank")
            )
        wk = Window.partitionBy("rank", "r2")
        # EAGER: flatten the 3-shuffle round's lineage so round k+1
        # never replays rounds 1..k (the iterative-operator
        # discipline every loop here follows)
        cur = cut(
            numbered.repartition(parts, "rank", "r2")
            .withColumn("_kr", F.min("_grn").over(wk))
            .select("doc_id", "pos", F.col("_kr").alias("rank"))
        )
        h *= 2
    # max_len <= h already at entry (tiny horizons): rank by the packed
    # prefix alone, tie-broken (doc, pos)
    return global_row_number(
        cur, ["rank", "doc_id", "pos"], out="sa_rank", num_parts=parts
    ).select("doc_id", "pos", "sa_rank")


def lcp_expr(a: str, b: str) -> Column:
    """Length of the common prefix of two string columns, as one
    codegen expression: zip the character arrays, find the first
    mismatch position. Positions beyond the shorter string zip against
    NULL (never FALSE), so a full-prefix match correctly falls through
    to least(length, length)."""
    return F.coalesce(
        F.nullif(
            F.array_position(
                F.zip_with(
                    F.filter(F.split(F.col(a), ""), lambda c: c != F.lit("")),
                    F.filter(F.split(F.col(b), ""), lambda c: c != F.lit("")),
                    lambda x, y: x == y,
                ),
                F.lit(False),
            ),
            F.lit(0),
        )
        - 1,
        F.least(F.length(a), F.length(b)),
    ).cast("int")


def repeated_substrings(
    docs: DataFrame,
    min_lcp: int = 20,
    top_k: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_len: int = 128,
) -> DataFrame:
    """Exact repeated substrings via the suffix array: adjacent
    suffixes in rank order sharing a common prefix >= ``min_lcp``
    chars are repeats (of that exact length — maximal repeats, not
    fixed n-grams). Emits the ``top_k`` longest, deterministically
    ordered (lcp desc, sa_rank asc):
    (sa_rank, doc_id, pos, next_doc, next_pos, lcp).

    Scale: the SA build is the dominant cost (log L rounds, see
    module docstring); the LCP pass is ONE self-join on sa_rank+1 —
    a hash join on a unique key, never a window over the whole array —
    and the top-k is a TakeOrdered heap, no global sort.

    Capped local solve (r12): same gate as duplicate_spans — when the
    truncated position count fits local_solve's "span_positions" cap
    and the corpus is NUL-free ASCII, ONE mapInPandas task runs the suffix sort +
    adjacent-lcp + top-k (_sa_lcp_arrays, the byte-window sort shared
    with the span solvers, bit-identical rank order), emitting at most
    ``top_k`` rows; the trailing orderBy/limit then runs on <= top_k
    rows. Above the cap / non-ASCII, the construction below is
    unchanged."""
    n_pos, ascii_ok = _span_local_stats(docs, text_col, max_len)
    if ascii_ok and fits_local("span_positions", n_pos):
        local = (
            docs.select(
                F.col(id_col).alias("doc_id"),
                F.substring(F.col(text_col), 1, max_len).alias("_t"),
            )
            .repartition(1)
            .mapInPandas(
                _repeats_local_solver(min_lcp, top_k, max_len),
                "sa_rank long, doc_id long, pos int, "
                "next_doc long, next_pos int, lcp int",
            )
        )
        return local.orderBy(F.col("lcp").desc(), "sa_rank").limit(top_k)
    sa = suffix_array(docs, text_col, id_col, max_len)
    trunc = docs.select(
        F.col(id_col).alias("doc_id"),
        F.substring(F.col(text_col), 1, max_len).alias("_t"),
    )
    with_suf = sa.join(trunc, "doc_id").select(
        "sa_rank",
        "doc_id",
        "pos",
        F.expr(f"substring(_t, pos + 1, {max_len})").alias("suf"),
    )
    nxt = with_suf.select(
        (F.col("sa_rank") - 1).alias("sa_rank"),
        F.col("doc_id").alias("next_doc"),
        F.col("pos").alias("next_pos"),
        F.col("suf").alias("next_suf"),
    )
    pairs = with_suf.join(nxt, "sa_rank").withColumn(
        "lcp", lcp_expr("suf", "next_suf")
    )
    return (
        pairs.where(F.col("lcp") >= min_lcp)
        .select("sa_rank", "doc_id", "pos", "next_doc", "next_pos", "lcp")
        .orderBy(F.col("lcp").desc(), "sa_rank")
        .limit(top_k)
    )


def _adjacent_lcp_pairs(
    docs: DataFrame,
    min_len: int,
    text_col: str,
    id_col: str,
    max_len: int,
) -> DataFrame:
    """Rank-adjacent suffix pairs with lcp >= min_len:
    (sa_rank, doc_id, pos, next_doc, next_pos, lcp). The shared
    detection core of duplicate_spans / canonical_duplicate_spans —
    one hash self-join on sa_rank+1 over the suffix array, never a
    window over the whole array."""
    sa = suffix_array(docs, text_col, id_col, max_len)
    trunc = docs.select(
        F.col(id_col).alias("doc_id"),
        F.substring(F.col(text_col), 1, max_len).alias("_t"),
    )
    with_suf = sa.join(trunc, "doc_id").select(
        "sa_rank",
        "doc_id",
        "pos",
        F.expr(f"substring(_t, pos + 1, {max_len})").alias("suf"),
    )
    nxt = with_suf.select(
        (F.col("sa_rank") - 1).alias("sa_rank"),
        F.col("doc_id").alias("next_doc"),
        F.col("pos").alias("next_pos"),
        F.col("suf").alias("next_suf"),
    )
    # both consumers fan this table out into several branches
    # (duplicate_spans unions it twice; canonical_duplicate_spans'
    # run grouping reads it 5+ ways) — without the lineage cut the
    # whole log-L suffix-array construction re-executes per branch
    # (measured 8x wall on the keep-first apply at sf0.1)
    return cut(
        with_suf.join(nxt, "sa_rank")
        .withColumn("lcp", lcp_expr("suf", "next_suf"))
        .where(F.col("lcp") >= min_len)
        .select("sa_rank", "doc_id", "pos", "next_doc", "next_pos", "lcp"),
        eager=False,
    )


def _span_local_stats(docs: DataFrame, text_col: str, max_len: int):
    """(total truncated positions, corpus-is-pure-printable-ASCII) in
    ONE bounded aggregate — the local-path gate. NUL is excluded along
    with non-ASCII: the solver's zero-padded fixed-width byte sort
    needs \\x00 to be a reserved pad byte."""
    row = docs.agg(
        F.sum(F.least(F.length(text_col), F.lit(max_len))).alias("n"),
        F.max(
            F.when(F.col(text_col).rlike("[^\\x01-\\x7F]"), 1).otherwise(0)
        ).alias("nonascii"),
    ).collect()[0]
    return int(row["n"] or 0), row["nonascii"] == 0


def _merge_ivals_py(ivals: list) -> list:
    """merge_intervals' gaps-and-islands on a python list of
    (doc_id, s, e): identical semantics — ordered by (s, e) per doc, a
    new island starts where s exceeds the running max end."""
    out = []
    for doc, s, e in sorted(ivals):
        if out and out[-1][0] == doc and s <= out[-1][2]:
            if e > out[-1][2]:
                out[-1][2] = e
        else:
            out.append([doc, s, e])
    return out


def _sa_lcp_arrays(batches, max_len: int):
    """The shared numpy core of every capped local suffix solve: read
    (doc_id, _t) batches, sort all truncated suffixes via the
    zero-padded fixed-width byte window (byte order == string order
    for NUL-free ASCII; pads sort shorter suffixes first; (doc, pos)
    total tie-break — identical to the distributed sort's declared
    order), and compute the adjacent-lcp vector clamped to both
    suffix lengths. Returns None when the input held no rows at all,
    (None, None, None) when it held rows but zero positions, else
    (sdoc, spos, lcp) in rank order — rank i is 1-based i+1, pair i
    spans ranks (i, i+1)."""
    import numpy as np

    ids, txts = [], []
    for pdf in batches:
        if len(pdf):
            ids.append(pdf["doc_id"].to_numpy(np.int64))
            txts.append(pdf["_t"].to_numpy())
    if not ids:
        return None
    dids = np.concatenate(ids)
    texts = np.concatenate(txts)
    enc = [
        (t if isinstance(t, str) else "").encode("ascii")
        for t in texts
    ]
    lens = np.array([len(b) for b in enc], dtype=np.int64)
    n_pos = int(lens.sum())
    if n_pos == 0:
        return (None, None, None)
    pad = b"\x00" * max_len
    buf = np.frombuffer(b"".join(b + pad for b in enc), dtype=np.uint8)
    starts = np.concatenate(
        [[0], np.cumsum(lens[:-1] + max_len)]
    ).astype(np.int64)
    doc_arr = np.repeat(np.arange(len(enc), dtype=np.int64), lens)
    pos_arr = np.concatenate(
        [np.arange(n, dtype=np.int64) for n in lens]
    )
    idx = np.repeat(starts, lens) + pos_arr
    # Peak-memory discipline (r12 ADVICE): at the 8M-position cap the
    # n_pos x max_len window matrix is ~1 GB, and M / key-view / A /
    # neq would coexist at ~4 GB without the explicit frees below —
    # drop each as soon as its successor exists so peak stays ~2 GB
    # (buf+M, then M+A, then A+neq).
    M = np.lib.stride_tricks.sliding_window_view(buf, max_len)[idx]
    del buf, idx  # M is a fancy-index COPY; the padded buffer is dead
    key = np.ascontiguousarray(M).view(f"S{max_len}").ravel()
    order = np.lexsort((pos_arr, dids[doc_arr], key))
    del key
    A = M[order]
    del M
    sdoc = dids[doc_arr][order]
    spos = pos_arr[order]
    slen = (lens[doc_arr] - pos_arr)[order]
    neq = A[1:] != A[:-1]
    del A
    has = neq.any(axis=1)
    lcp = np.where(has, neq.argmax(axis=1), max_len)
    del neq
    lcp = np.minimum(lcp, np.minimum(slen[:-1], slen[1:]))
    return sdoc, spos, lcp


def _repeats_local_solver(min_lcp: int, top_k: int, max_len: int):
    """repeated_substrings in ONE task: rank-adjacent pairs with
    lcp >= min_lcp from the shared byte-window suffix sort, top-k by
    (lcp desc, sa_rank asc) selected with np.lexsort — the same total
    order as the distributed orderBy (sa_rank is unique). Emits at
    most top_k rows; the caller's orderBy/limit re-asserts the final
    frame order cheaply."""

    def fn(batches):
        import numpy as np
        import pandas as pd

        def empty():
            return pd.DataFrame(
                {
                    "sa_rank": pd.array([], dtype="int64"),
                    "doc_id": pd.array([], dtype="int64"),
                    "pos": pd.array([], dtype="int32"),
                    "next_doc": pd.array([], dtype="int64"),
                    "next_pos": pd.array([], dtype="int32"),
                    "lcp": pd.array([], dtype="int32"),
                }
            )

        res = _sa_lcp_arrays(batches, max_len)
        if res is None:
            return
        sdoc, spos, lcp = res
        if sdoc is None:
            yield empty()
            return
        q = np.nonzero(lcp >= min_lcp)[0]  # pair i = ranks (i, i+1)
        if len(q) == 0:
            yield empty()
            return
        sel = q[np.lexsort((q, -lcp[q]))[:top_k]]
        yield pd.DataFrame(
            {
                "sa_rank": (sel + 1).astype("int64"),
                "doc_id": sdoc[sel].astype("int64"),
                "pos": spos[sel].astype("int32"),
                "next_doc": sdoc[sel + 1].astype("int64"),
                "next_pos": spos[sel + 1].astype("int32"),
                "lcp": lcp[sel].astype("int32"),
            }
        )

    return fn


def _spans_local_solver(min_len: int, max_len: int, canonical: bool):
    """duplicate_spans / canonical_duplicate_spans in ONE task,
    bit-identical to the distributed construction (ASCII-gated):

    * suffix order: zero-padded fixed-width byte rows sorted via
      np.lexsort on (pos, doc, window bytes) — for NUL-free ASCII the
      byte order IS the string order, a shorter suffix's pad bytes
      sort before every extension, and (doc, pos) is the same total
      tie-break the distributed sort declares;
    * adjacent lcp: first mismatching byte column, clamped to both
      suffix lengths (pad-vs-pad columns compare equal past the ends);
    * runs / pairwise marking / interval merge: the exact
      canonical_duplicate_spans and merge_intervals rules on python
      ints. Equivalence is enforced by a both-paths test."""

    def fn(batches):
        import numpy as np
        import pandas as pd

        res = _sa_lcp_arrays(batches, max_len)
        if res is None:
            return
        sdoc, spos, lcp = res
        if sdoc is None:
            yield pd.DataFrame(
                {
                    "doc_id": pd.array([], dtype="int64"),
                    "span_start": pd.array([], dtype="int32"),
                    "span_end": pd.array([], dtype="int32"),
                    "span_len": pd.array([], dtype="int32"),
                }
            )
            return
        q = np.nonzero(lcp >= min_len)[0]  # pair i = ranks (i, i+1)
        ivals: list = []
        if canonical:
            k = 0
            while k < len(q):
                j = k
                while j + 1 < len(q) and q[j + 1] == q[j] + 1:
                    j += 1
                ranks = q[k : j + 1]
                run_lcp = int(lcp[ranks].min())
                members = set()
                for r in ranks:
                    members.add((int(sdoc[r]), int(spos[r])))
                    members.add((int(sdoc[r + 1]), int(spos[r + 1])))
                m_doc, m_pos = min(members)
                for r in ranks:
                    a = (int(sdoc[r]), int(spos[r]))
                    b = (int(sdoc[r + 1]), int(spos[r + 1]))
                    late = b if b > a else a
                    ivals.append(
                        (late[0], late[1], late[1] + int(lcp[r]))
                    )
                for doc, pos in members:
                    if (doc, pos) != (m_doc, m_pos):
                        ivals.append((doc, pos, pos + run_lcp))
                k = j + 1
        else:
            for r in q:
                ivals.append(
                    (int(sdoc[r]), int(spos[r]), int(spos[r]) + int(lcp[r]))
                )
                ivals.append(
                    (
                        int(sdoc[r + 1]),
                        int(spos[r + 1]),
                        int(spos[r + 1]) + int(lcp[r]),
                    )
                )
        merged = _merge_ivals_py(sorted(set(ivals)))
        yield pd.DataFrame(
            {
                "doc_id": pd.array([m[0] for m in merged], dtype="int64"),
                "span_start": pd.array(
                    [m[1] for m in merged], dtype="int32"
                ),
                "span_end": pd.array([m[2] for m in merged], dtype="int32"),
                "span_len": pd.array(
                    [m[2] - m[1] for m in merged], dtype="int32"
                ),
            }
        )

    return fn


def _spans_local(
    docs: DataFrame,
    min_len: int,
    max_len: int,
    canonical: bool,
    text_col: str,
    id_col: str,
) -> DataFrame:
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.substring(F.col(text_col), 1, max_len).alias("_t"),
        )
        .repartition(1)
        .mapInPandas(
            _spans_local_solver(min_len, max_len, canonical),
            "doc_id long, span_start int, span_end int, span_len int",
        )
    )


def merge_intervals(ivals: DataFrame) -> DataFrame:
    """Merge (doc_id, s, e) intervals into maximal disjoint spans
    (doc_id, span_start, span_end, span_len) — the gaps-and-islands
    pattern: running max of ends (window ordered by start), island
    starts where an interval begins past it. All windows partitioned
    by doc_id; no global sort."""
    wo = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wi = Window.partitionBy("doc_id").orderBy("s", "e")
    return (
        ivals.withColumn("_pm", F.max("e").over(wo))
        .withColumn(
            "_new",
            F.when(
                F.col("_pm").isNull() | (F.col("s") > F.col("_pm")), 1
            ).otherwise(0),
        )
        .withColumn("_gid", F.sum("_new").over(wi))
        .groupBy("doc_id", "_gid")
        .agg(
            F.min("s").alias("span_start"),
            F.max("e").alias("span_end"),
        )
        .select(
            "doc_id",
            F.col("span_start").cast("int").alias("span_start"),
            F.col("span_end").cast("int").alias("span_end"),
            (F.col("span_end") - F.col("span_start"))
            .cast("int")
            .alias("span_len"),
        )
    )


def duplicate_spans(
    docs: DataFrame,
    min_len: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_len: int = 128,
) -> DataFrame:
    """Per-document EXACT duplicate spans — the actionable dedup
    surface of the suffix array (what Lee et al. cut from training
    corpora): every position covered by a substring of >= ``min_len``
    chars that occurs elsewhere in the corpus, merged into maximal
    (doc_id, span_start, span_end, span_len) intervals.

    Rank-adjacent suffix pairs with lcp >= min_len mark BOTH sides'
    intervals [pos, pos+lcp); a run of k equal-prefix suffixes chains
    through adjacency, so every occurrence is marked. Interval merge:
    merge_intervals above.

    Capped local solve (r12): when the truncated position count fits
    one task's budget and the corpus is NUL-free ASCII, the whole
    pipeline (suffix sort, lcp, interval merge) runs in ONE mapInPandas
    task — bit-identical by construction (_spans_local_solver), 1 agg
    + 1 shuffle + 1 task instead of ~10 small-frame exchanges. Above
    the cap (or any non-ASCII byte) the distributed construction below
    is unchanged."""
    n_pos, ascii_ok = _span_local_stats(docs, text_col, max_len)
    if ascii_ok and fits_local("span_positions", n_pos):
        return _spans_local(
            docs, min_len, max_len, False, text_col, id_col
        )
    pairs = _adjacent_lcp_pairs(docs, min_len, text_col, id_col, max_len)
    ivals = (
        pairs.select(
            "doc_id", F.col("pos").alias("s"), (F.col("pos") + F.col("lcp")).alias("e")
        )
        .unionByName(
            pairs.select(
                F.col("next_doc").alias("doc_id"),
                F.col("next_pos").alias("s"),
                (F.col("next_pos") + F.col("lcp")).alias("e"),
            )
        )
        .distinct()
    )
    return merge_intervals(ivals)


def canonical_duplicate_spans(
    docs: DataFrame,
    min_len: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_len: int = 128,
) -> DataFrame:
    """duplicate_spans' keep-first twin: within every maximal RUN of
    rank-consecutive suffixes whose adjacent lcps are all >= min_len
    (so every member shares a >= min_len prefix with every other —
    the run lcp is the min of the chain), every occurrence except the
    (doc_id, pos)-minimum is marked and exactly that earliest one
    survives — the "remove all but one copy" policy of near-dup
    pipelines, at exact substring granularity.

    Pairwise-later marking alone is NOT enough: rank order only equals
    (doc_id, pos) order for fully identical suffixes, and a run whose
    rank order permutes its occurrences (e.g. O2, O3, O1) leaves two
    copies unmarked. Runs are grouped explicitly instead: a qualifying
    pair is a run START iff no qualifying pair sits at sa_rank - 1 (a
    hash anti-lookup, not a window), run ids are the running count of
    starts in rank order via the two-phase range prefix sum
    (operators/ids.py: global_cumsum — never a single-partition
    window), and the run minimum falls out of a partial-aggregating
    min(struct). Marked extents: the pairwise lcp where a pair marks
    its later element (same as duplicate_spans), plus the run lcp for
    every other non-minimum member — so the survivor keeps the
    run-shared prefix intact, and every marked span is a real
    duplicate of its rank-neighbor at marking time.

    Capped local solve (r12): same gate and solver as duplicate_spans
    (canonical=True replays the run grouping exactly); the distributed
    construction below is the above-cap / non-ASCII path."""
    from sandbox_data_pipeline_spark.operators.ids import global_cumsum

    n_pos, ascii_ok = _span_local_stats(docs, text_col, max_len)
    if ascii_ok and fits_local("span_positions", n_pos):
        return _spans_local(docs, min_len, max_len, True, text_col, id_col)
    pairs = _adjacent_lcp_pairs(docs, min_len, text_col, id_col, max_len)
    prev = pairs.select(
        (F.col("sa_rank") + 1).alias("sa_rank"), F.lit(1).alias("_hp")
    )
    flagged = (
        pairs.join(prev, "sa_rank", "left")
        .withColumn(
            "_start", F.when(F.col("_hp").isNull(), 1).otherwise(0)
        )
        .drop("_hp")
    )
    # members / run_meta / run_min / pairwise all read this frame —
    # cut lineage once so the range prefix sum runs once
    runs = cut(
        global_cumsum(flagged, order_cols=["sa_rank"], sum_cols=["_start"])
        .withColumnRenamed("cum__start", "run_id"),
        eager=False,
    )
    members = (
        runs.select("run_id", "doc_id", "pos")
        .unionByName(
            runs.select(
                "run_id",
                F.col("next_doc").alias("doc_id"),
                F.col("next_pos").alias("pos"),
            )
        )
        .distinct()
    )
    run_meta = runs.groupBy("run_id").agg(F.min("lcp").alias("_rl"))
    run_min = members.groupBy("run_id").agg(
        F.min(F.struct("doc_id", "pos")).alias("_m")
    )
    extra = (
        members.join(run_min, "run_id")
        .join(run_meta, "run_id")
        .where(
            (F.col("doc_id") != F.col("_m.doc_id"))
            | (F.col("pos") != F.col("_m.pos"))
        )
        .select(
            "doc_id",
            F.col("pos").alias("s"),
            (F.col("pos") + F.col("_rl")).alias("e"),
        )
    )
    later_is_next = (F.col("next_doc") > F.col("doc_id")) | (
        (F.col("next_doc") == F.col("doc_id"))
        & (F.col("next_pos") > F.col("pos"))
    )
    pairwise = runs.select(
        F.when(later_is_next, F.col("next_doc"))
        .otherwise(F.col("doc_id"))
        .alias("doc_id"),
        F.when(later_is_next, F.col("next_pos"))
        .otherwise(F.col("pos"))
        .alias("s"),
        (
            F.when(later_is_next, F.col("next_pos")).otherwise(F.col("pos"))
            + F.col("lcp")
        ).alias("e"),
    )
    ivals = pairwise.unionByName(extra).distinct()
    return merge_intervals(ivals)


def apply_span_removal(
    docs: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Emit the CLEANED corpus — the final step of suffix-array dedup
    (Lee et al. 2022 cut the detected byte ranges from the training
    text): every (span_start, span_end) character range of ``spans``
    excised from the document, in one pass.

    (doc_id, cleaned_text, n_chars_removed) for EVERY input document
    (unspanned docs pass through with 0 removed).

    Physical plan: ONE groupBy on the span table (tiny next to the
    corpus — only spanned docs appear) collecting each doc's disjoint
    spans into a sorted array, one join back to the corpus, then the
    surgery is a single JVM-side higher-order ``aggregate`` over that
    array (accumulator = (chars consumed, kept prefix)) — no Python
    UDF, no explode of the corpus, no per-span self-join. At 100 TB
    the cost is the corpus scan + a shuffle of the span table keyed by
    doc; span arrays are bounded by max_len/min_len spans per doc."""
    sp = spans.groupBy(F.col("doc_id").alias(id_col)).agg(
        F.sort_array(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("_sp"),
        F.sum(F.col("span_end") - F.col("span_start"))
        .cast("int")
        .alias("_removed"),
    )
    joined = docs.join(sp, id_col, "left")
    text = F.col(text_col)
    stitched = F.aggregate(
        F.col("_sp"),
        F.struct(
            F.lit(0).alias("last"), F.lit("").cast("string").alias("acc")
        ),
        lambda acc, s: F.struct(
            s["span_end"].alias("last"),
            F.concat(
                acc["acc"],
                text.substr(
                    acc["last"] + F.lit(1), s["span_start"] - acc["last"]
                ),
            ).alias("acc"),
        ),
        lambda acc: F.concat(
            acc["acc"], text.substr(acc["last"] + F.lit(1), F.length(text))
        ),
    )
    return joined.select(
        F.col(id_col).alias("doc_id"),
        F.when(F.col("_sp").isNull(), text)
        .otherwise(stitched)
        .alias("cleaned_text"),
        F.coalesce(F.col("_removed"), F.lit(0))
        .cast("int")
        .alias("n_chars_removed"),
    )
