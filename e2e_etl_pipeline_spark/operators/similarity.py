"""Nearest-neighbor search and pairwise cosine over embedding columns.

Tiers (SURVEY.md §2 B.8, §4.2):
  * brute_force_topk — exact cosine top-k: corpus rows hash into blocks,
    query rows replicate to every block, and a NumPy kernel scores each
    block and cuts its local top-k before the final per-query window.
    brute_force_topk_expr is the expression-form spec it is pinned to.
  * lsh_bucketed_topk / lsh_cosine_pairs — random-hyperplane (sign) LSH:
    vectors hash to sign-pattern buckets per table; candidates come from
    equi-joins on (table, bucket), so the scale cost is Σ
    bucket-collisions, not the cross product. Multiple tables trade recall
    for cost. Hyperplanes are seeded NumPy, regenerated inside the Arrow
    bucketizer task.
  * ivf_topk — centroid assignment + probe-N over the same bucket-join
    shape (deterministic first-n-by-id centroids, no training pass).
  * blocked_cosine_pairs — exact all-pairs cosine above a threshold,
    scored one block pair per task.

The three NumPy kernels share one core (list decoder, per-dimension fold,
side split, block counts from the cluster's parallelism); the blocking is
the partition-the-corpus / replicate-the-queries scheme of "Time Series
Similarity Search for Streaming Data in Distributed Systems" (EDBT 2019).
"""

from __future__ import annotations

import os
import weakref
from typing import NamedTuple

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from e2e_etl_pipeline_spark.functions.rounding import stable_round
from e2e_etl_pipeline_spark.functions.vectors import dot, l2_norm


def with_vector_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Attach the L2 norm (norm) — precompute once, reuse across joins."""
    return df.withColumn("norm", l2_norm(vec_col))


# session (weak) → {tag: [(input-files signature, JVM canonicalized plan,
# persisted frame)]}. Round-8 advice: filter_modal_dim used to persist()
# a NEW DataFrame on every invocation and never unpersist — a long
# driver session accumulated CacheManager entries (bounded only by
# Spark's canonical-plan dedupe) and, worse, every bench query re-ran the
# corpus-wide modal aggregate at action time (+21% on q_similarity_topk,
# round-8 bench). Memoizing per (session, input plan, input-file
# identity) returns the SAME persisted frame, so the aggregate
# materializes once per session and the cache population is bounded by
# distinct input plans.
#
# Three identity lessons burned in (round-9 reviews):
# * Plan identity is the JVM canonicalized plan compared via .equals —
#   NOT its toString, which is PATH-BLIND for file relations ("Relation
#   [...] parquet" prints no location, and long field lists truncate), so
#   a string key silently shares one corpus's cached frame with a
#   same-schema corpus from another path (caught live by the pytest
#   suite: the 8-dim semdedup fixture was served the sf0.01 corpus's
#   64 modal dim).
# * The plan alone is mtime-blind: a parquet path regenerated IN PLACE
#   mid-session keeps the same root path and compares plan-equal, so the
#   signature also folds each input file's (mtime_ns, size) — the same
#   invalidation signal catalog._dataset_schema uses for the same reason.
#   Inputs with more than _MEMO_MAX_FILES files (or non-stat-able URIs)
#   skip memoization entirely rather than risk staleness.
# * The dict is keyed WEAKLY by session (like catalog._SCHEMA_CACHE), so
#   a process that starts and stops several Spark sessions doesn't pin
#   dead sessions' frames/py4j objects for the process lifetime.
_FRAME_MEMO: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_MEMO_MAX_FILES = 64


def _input_files_signature(files_df: DataFrame) -> tuple | None:
    """(uri, mtime_ns, size) per input file, or None when the input is
    not memoization-safe (too many files / un-stat-able URI).

    MUST be computed from the RAW INPUT frame, never from the frame being
    memoized: Dataset.inputFiles reads the OPTIMIZED plan, and once the
    memoized frame has been persisted+materialized, cache substitution
    rewrites any semantically-equal plan to an InMemoryRelation with NO
    file scans — inputFiles comes back empty, every later lookup
    mismatches the stored signature, and the memo silently degrades to
    one persist per invocation (found live by the memo-behavior check:
    bucket grew on a same-path repeat)."""
    files = sorted(files_df.inputFiles())
    if len(files) > _MEMO_MAX_FILES:
        return None
    sig = []
    for uri in files:
        path = uri
        if path.startswith("file:"):
            path = path[5:]
            while path.startswith("//"):
                path = path[1:]
        st = os.stat(path)  # OSError → caller skips memoization
        sig.append((uri, st.st_mtime_ns, st.st_size))
    return tuple(sig)


def _memoized_persist(df: DataFrame, files_df: DataFrame, tag: str) -> DataFrame:
    """Return a persisted copy of ``df``, reused across invocations whose
    ``df`` has a semantically-equal analyzed plan over identical input
    files and same ``tag``. ``df`` must be PURE-RELATIONAL (no Python UDF
    nodes — re-pickled closures would never compare equal; the ANALYZED
    plan is compared because cache substitution only rewrites optimized
    plans); ``files_df`` is the raw input frame the file signature is
    read from (see _input_files_signature); ``tag`` must carry every
    non-plan parameter that shapes ``df``."""
    try:
        sig = _input_files_signature(files_df)
        if sig is None:
            return df.persist()
        canon = df._jdf.queryExecution().analyzed().canonicalized()
        per_session = _FRAME_MEMO.setdefault(df.sparkSession, {})
        bucket = per_session.setdefault(tag, [])
        new_files = {uri: (m, s) for uri, m, s in sig}
        for entry in list(bucket):
            fsig, jplan, frame = entry
            same_plan = jplan.equals(canon)
            if same_plan and fsig == sig:
                return frame
            # Evict superseded entries instead of pinning dead frames for
            # the session lifetime (unpersist is safe for any caller still
            # holding the old frame — it recomputes on next action). Two
            # staleness signals:
            #   1. same plan, different file identity — the path was
            #      regenerated in place (or its file set changed); the old
            #      (plan, sig) key can never hit again.
            #   2. (round-9 advice) ANY overlap between the entry's file
            #      paths and the new signature's at a different
            #      (mtime, size) — REGARDLESS of plan equality: an in-place
            #      regeneration that also changes the schema/column set
            #      produces a NON-equal plan, so signal 1 alone would keep
            #      the superseded frame persisted forever.
            stale = same_plan or any(
                uri in new_files and (m, s) != new_files[uri]
                for uri, m, s in fsig
            )
            if stale:
                bucket.remove(entry)
                try:
                    frame.unpersist()
                except Exception:  # pragma: no cover
                    pass
    except Exception:  # pragma: no cover - py4j/OS surface drift
        return df.persist()
    out = df.persist()
    bucket.append((sig, canon, out))
    return out


# DuckDB-side twin of filter_modal_dim (embed as `__dim AS (...)` and gate
# consumers with `len(embedding) = (SELECT d FROM __dim)`).
MODAL_DIM_SQL = """
      SELECT len(embedding) AS d FROM embeddings
      WHERE embedding IS NOT NULL
      GROUP BY 1 ORDER BY count(*) DESC, d ASC LIMIT 1
"""


def filter_modal_dim(em: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Keep only rows whose vector length equals the corpus's MODAL length
    (ties → smaller) — the cross-engine contract for every pairwise
    vector op (round-7 advice, extended repo-wide by the round-8 ragged
    fuzz variant): a length-mismatched zip gives DuckDB's list_sum a
    PARTIAL sum (NULL terms skipped) but Spark's zip_with/aggregate a NULL
    — silent divergence. Pinning the dimension excludes ragged vectors
    identically on both sides instead. NULL vectors drop too (size(NULL)
    is NULL under ANSI, -1 without — never equal to a real length).

    The modal frame is a 1-row broadcast join, so query construction stays
    job-free and the gate costs one tiny keyed aggregate ONCE per session
    per corpus plan (memoized persist — see _memoized_persist)."""
    # memoized persist(): the gated frame typically feeds several consumer
    # subtrees (self-join sides, counts, LSH bucketize ×2) and each would
    # otherwise embed its own copy of this full-corpus aggregate; the
    # 1-row cache pays it once per SESSION and stays
    # construction-job-free (lazy).
    dim_frame = (
        em.where(F.col(vec_col).isNotNull())
        .groupBy(F.size(vec_col).alias("__d"))
        .agg(F.count(F.lit(1)).alias("__c"))
        .orderBy(F.desc("__c"), F.asc("__d"))
        .limit(1)
        .select("__d")
    )
    dim = _memoized_persist(dim_frame, em, tag=f"modal_dim:{vec_col}")
    return em.join(
        F.broadcast(dim), F.size(vec_col) == F.col("__d")
    ).drop("__d")


def _cosine_from_norms(a_vec: Column, b_vec: Column, a_norm: Column, b_norm: Column) -> Column:
    """cosine via vectors.dot, reusing precomputed norms (cheaper than
    cosine_similarity, which would re-derive both norms per pair)."""
    return F.when((a_norm == 0) | (b_norm == 0), F.lit(None).cast("double")).otherwise(
        dot(a_vec, b_vec) / (a_norm * b_norm)
    )


def _rank_topk(scored: DataFrame, k: int, extra_cols: list[str] | None = None) -> DataFrame:
    """Shared top-k epilogue: deterministic per-query ranking (4-dp-rounded
    cosine desc, neighbor_id tiebreak), rank filter, 4-dp rounding.
    stable_round, not round: the cosine is a division-derived double, so a
    4-dp-midpoint rendering would round apart across engines under plain
    round() (functions/rounding.py — review find, round 7); the matching
    oracles use the floor(x*1e4+0.5)/1e4 form.

    The window ORDERS BY the ROUNDED cosine (round-9 advice): ordering raw
    doubles relied on bit-identical left-to-right summation across Spark's
    aggregate() and DuckDB's list_sum — proven on current data but an
    unpinned assumption; ranking on the same stable_round(cosine, 4) both
    engines emit removes it at no recall cost (a rank flip inside a 1e-4
    bucket swaps near-equal neighbors). The neighbor_id tiebreak makes the
    rounded order total, and the displayed cosine now always agrees with
    the rank order."""
    # asc_nulls_last, not asc: Spark ASC is NULLS FIRST but DuckDB is NULLS
    # LAST in both directions (registry pk-variant rule). neighbor_id is
    # non-NULL in every current caller (the pair filter drops NULL ids),
    # but the pin keeps the rule mechanical. DESC defaults agree (NULLS
    # LAST both engines) — relevant for NULL cosines from zero-norm pairs
    # (stable_round(NULL) is NULL).
    rounded = stable_round(F.col("cosine"), 4)
    win = Window.partitionBy("query_id").orderBy(
        F.desc(rounded), F.asc_nulls_last("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            rounded.alias("cosine"),
            "rank",
            *(extra_cols or []),
        )
    )


def brute_force_topk_expr(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    match_on: str | None = None,
) -> DataFrame:
    """Expression-form exact cosine top-k — the executable SPEC for
    brute_force_topk (tests pin the Arrow kernel bit-identical to this
    path), retained exactly as it shipped through round 11.

    The (small) query side is broadcast; ranking uses row_number with a
    neighbor-id tiebreaker so results are deterministic. Self-matches are
    excluded.

    ``match_on`` names a metadata column that must be EQUAL between query
    and candidate (the vector-database "filtered search" shape): the
    predicate rides the broadcast join, so candidates outside the filter
    are never scored — pre-filtering, not post-filtering a top-k that
    could then come up short. NULL metadata matches nothing (SQL
    equality), on both engines. The matched value is emitted under the
    same column name.
    """
    extra_q = [F.col(match_on).alias("_q_meta")] if match_on else []
    extra_c = [F.col(match_on).alias(match_on)] if match_on else []
    q = with_vector_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.col("norm").alias("q_norm"),
        *extra_q,
    )
    c = with_vector_norm(corpus, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.col("norm").alias("c_norm"),
        *extra_c,
    )
    cond = F.col("query_id") != F.col("neighbor_id")
    if match_on:
        cond = cond & (F.col("_q_meta") == F.col(match_on))
    scored = (
        F.broadcast(q)
        .join(c, cond)
        .select(
            "query_id",
            "neighbor_id",
            _cosine_from_norms(
                F.col("q_vec"), F.col("c_vec"), F.col("q_norm"), F.col("c_norm")
            ).alias("cosine"),
            *([F.col(match_on)] if match_on else []),
        )
    )
    return _rank_topk(scored, k, extra_cols=[match_on] if match_on else None)


# ---------------------------------------------------------------------------
# Vector-kernel core: the one list decoder, per-dimension fold, side split
# and block counts the three NumPy kernels below are built on
# ---------------------------------------------------------------------------


class _Lists(NamedTuple):
    """A decoded Arrow list<float|double> column (see _decode_lists)."""

    valid: np.ndarray  # row is not NULL
    lens: np.ndarray  # row length; -1 for a NULL row
    off: np.ndarray  # n + 1 absolute offsets into vals
    vals: np.ndarray  # the raw child array as float64 (NULL element → NaN)
    row_has_null: np.ndarray  # row holds at least one NULL element

    def matrix(self, rows, d: int) -> np.ndarray:
        """(len(rows), d) float64 matrix of ``rows`` (indices or a mask),
        each of which has length ``d``."""
        return self.vals[self.off[:-1][rows][:, None] + np.arange(d)[None, :]]


def _decode_lists(col) -> _Lists:
    """Decode an Arrow list column, applying no row policy: each kernel
    decides at its call site what NULL rows, NULL elements and off-length
    rows mean. Gathers from the RAW child array with absolute offsets —
    flatten() drops NULL rows' slots and would misalign."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    valid = ~np.asarray(col.is_null())
    off = np.asarray(col.offsets)
    lens = np.where(valid, off[1:] - off[:-1], -1)
    child = col.values
    vals = child.to_numpy(zero_copy_only=False).astype(np.float64)
    if child.null_count:
        cum = np.concatenate(
            [[0], np.cumsum(np.asarray(child.is_null(), dtype=np.int64))]
        )
        row_has_null = (cum[off[1:]] - cum[off[:-1]]) > 0
    else:
        row_has_null = np.zeros(len(col), dtype=bool)
    return _Lists(valid, lens, off, vals, row_has_null)


def _fold(A: np.ndarray, B: np.ndarray):
    """(A·Bᵀ, row norms of A, row norms of B), accumulated dimension by
    dimension, left to right, in float64 — the IEEE order of the
    vectors.dot / l2_norm folds, so every double is bit-identical to the
    expression path."""
    d = A.shape[1]
    acc = np.zeros((len(A), len(B)))
    na = np.zeros(len(A))
    nb = np.zeros(len(B))
    for kk in range(d):
        na = na + A[:, kk] * A[:, kk]
        nb = nb + B[:, kk] * B[:, kk]
        acc = acc + A[:, kk : kk + 1] * B[:, kk]
    return acc, np.sqrt(na), np.sqrt(nb)


def _split_sides(tbl):
    """A side-tagged group's (``_pside`` 0, ``_pside`` 1) halves, or None
    when either half is empty. Both sides ride ONE grouped union with a
    side tag: a cogroup of two frames derived from the same corpus trips
    Spark's ambiguous-self-join check, and q_similarity_topk's queries
    are derived from its corpus."""
    import pyarrow.compute as pc

    side = tbl.column("_pside")
    halves = tbl.filter(pc.equal(side, 0)), tbl.filter(pc.equal(side, 1))
    return None if min(h.num_rows for h in halves) == 0 else halves


def _parallelism(spark) -> int:
    """The cluster's task slots (a py4j read — runs no job, so query
    construction stays lazy). brute_force_topk uses one corpus block per
    slot; every kernel's output is invariant to its block count."""
    return max(int(spark.sparkContext.defaultParallelism), 1)


def _pair_blocks(parallelism: int) -> int:
    """blocked_cosine_pairs' block count: the smallest b whose b(b+1)/2
    block-pair groups cover ``parallelism`` (32 slots → 8 blocks, 36
    groups)."""
    b = 1
    while b * (b + 1) // 2 < parallelism:
        b += 1
    return b


def _topk_block_scorer(k: int, has_meta: bool):
    """applyInArrow kernel for brute_force_topk: one block's query rows
    (side 0, replicated to every block) × corpus rows (side 1), emitting
    each query ROW's local top-k candidate rows (query_id, neighbor_id,
    raw cosine double[, meta]).

    Bit-identity + NULL/NaN parity with brute_force_topk_expr (the
    retained spec; gated by tests/test_similarity_blocked.py):
    * dot and both norms come from _fold, so every emitted double is
      bit-identical to the expression path;
    * cosine is NULL exactly where the expression path yields NULL: a
      NULL vector, a NULL vector ELEMENT on either side (zip_with/
      aggregate NULL-propagation), a length-mismatched pair (zip_with
      pads with NULL), or a zero norm on either side (the explicit
      F.when(norm == 0) guard). NaN ELEMENTS propagate as NaN values,
      never NULL — F.when(NaN == 0) is false, matching here;
    * pairs are DROPPED (not NULL) exactly where the join predicate
      drops them: equal ids (self-match), a NULL id on either side, and
      under ``has_meta`` a NULL or unequal metadata value — all SQL
      comparisons against NULL are non-matches. Metadata compares in its
      own dtype (an int64 column never routes through float64);
    * the local top-k cut orders by the FINAL window's total order —
      stable_round(cosine, 4) DESC, where a NaN cosine rounds to 0.0
      (Spark's floor is a BIGINT), NULL last, then neighbor id ASC — so
      for any block count the union of per-block cuts provably contains
      the global top-k rows (first-k-of-a-sorted-multiset is preserved
      under any partition of the multiset). Emitting per query ROW (not
      per id) preserves duplicated-id multiplicity, which the pk fuzz
      variant requires.
    """

    def side(t):
        ids = t.column("_pid").combine_chunks()
        s = {
            "arrow_ids": ids,
            "ids": ids.to_numpy(zero_copy_only=False),
            "vec": _decode_lists(t.column("_pvec")),
        }
        if has_meta:
            meta = t.column("_pmeta").combine_chunks()
            s["meta"] = meta
            s["meta_valid"] = ~np.asarray(meta.is_null())
            # Fill NULL slots with a valid value BEFORE converting (the
            # mask above still drops them): converting a NULL-bearing
            # int64 column yields float64, where 2^53 and 2^53 + 1 are
            # equal. An all-NULL side is never compared.
            if 0 < meta.null_count < len(meta):
                meta = meta.fill_null(meta.drop_null()[0])
            s["meta_np"] = meta.to_numpy(zero_copy_only=False)
        return s

    def _score_slice(q, c, lo, hi):
        """Full (mq × slice) cosine/null/drop matrices for corpus rows
        [lo, hi) — real cosines computed per matching vector length."""
        qv, cv = q["vec"], c["vec"]
        mq = len(q["ids"])
        mc = hi - lo
        cos = np.zeros((mq, mc))
        isnull = np.ones((mq, mc), dtype=bool)
        q_clean = qv.valid & ~qv.row_has_null
        c_clean = (cv.valid & ~cv.row_has_null)[lo:hi]
        c_lens = cv.lens[lo:hi]
        for length in np.unique(qv.lens[q_clean]):
            qi = np.nonzero(q_clean & (qv.lens == length))[0]
            ci = np.nonzero(c_clean & (c_lens == length))[0]
            if len(qi) == 0 or len(ci) == 0:
                continue
            d = int(length)
            acc, na, nb = _fold(qv.matrix(qi, d), cv.matrix(ci + lo, d))
            with np.errstate(divide="ignore", invalid="ignore"):
                block = acc / (na[:, None] * nb[None, :])
            zero = (na[:, None] == 0) | (nb[None, :] == 0)
            cos[np.ix_(qi, ci)] = np.where(zero, 0.0, block)
            isnull[np.ix_(qi, ci)] = zero
        drop = q["ids"][:, None] == c["ids"][None, lo:hi]
        if has_meta:
            mv = (
                q["meta_valid"][:, None] & c["meta_valid"][None, lo:hi]
            )
            eq = np.zeros((mq, mc), dtype=bool)
            if mv.any():
                qm = q["meta_np"][:, None]
                cm = c["meta_np"][None, lo:hi]
                eq = qm == cm
                # Spark SQL equality treats NaN = NaN as TRUE (unlike
                # IEEE ==) — mirror it for floating metadata.
                if np.issubdtype(qm.dtype, np.floating) and np.issubdtype(
                    cm.dtype, np.floating
                ):
                    eq |= np.isnan(qm) & np.isnan(cm)
            drop |= ~(mv & eq)
        return cos, isnull, drop

    def _first_k(qs, cos_vals, null_flags, neighbor_ids):
        """Positions of each query row's first k candidates under the
        final window's total order: stable_round(cosine, 4) desc, NULL
        last, neighbor id asc. Spark's floor returns a BIGINT, so the
        rounded value saturates and a NaN cosine rounds to 0.0."""
        x = np.floor(cos_vals * 10000.0 + 0.5)
        x = np.clip(np.nan_to_num(x, nan=0.0), -(2.0**63), 2.0**63)
        negr = np.where(null_flags, 0.0, -x / 10000.0)
        order = np.lexsort((neighbor_ids, negr, null_flags, qs))
        run = qs[order]
        rank = np.arange(len(run)) - np.searchsorted(run, run)
        return order[rank < k]

    def empty(tbl):
        import pyarrow as pa

        id_type = tbl.schema.field("_pid").type
        fields = [
            ("query_id", id_type),
            ("neighbor_id", id_type),
            ("cosine", pa.float64()),
        ]
        if has_meta:
            fields.append(("_meta", tbl.schema.field("_pmeta").type))
        return pa.schema(fields).empty_table()

    def score(tbl):
        import pyarrow as pa

        halves = _split_sides(tbl)
        if halves is None:
            return empty(tbl)
        q, c = side(halves[0]), side(halves[1])
        nc = len(c["ids"])
        chunk = 8192  # bounds the score matrix at mq × chunk doubles
        # each slice's local top-k (query row, corpus row, cosine, null)
        parts = []
        for lo in range(0, nc, chunk):
            cos, isnull, drop = _score_slice(q, c, lo, min(lo + chunk, nc))
            qi, ci = np.nonzero(~drop)
            cv, nv = cos[qi, ci], isnull[qi, ci]
            pick = _first_k(qi, cv, nv, c["ids"][ci + lo])
            parts.append((qi[pick], ci[pick] + lo, cv[pick], nv[pick]))
        qs, cs, cv, nv = (np.concatenate(x) for x in zip(*parts))
        pick = _first_k(qs, cv, nv, c["ids"][cs])
        if len(pick) == 0:
            return empty(tbl)
        qs, cs, cv, nv = qs[pick], cs[pick], cv[pick], nv[pick]
        cols = {
            "query_id": q["arrow_ids"].take(pa.array(qs)),
            "neighbor_id": c["arrow_ids"].take(pa.array(cs)),
            "cosine": pa.array(cv, pa.float64(), mask=nv),
        }
        if has_meta:
            cols["_meta"] = c["meta"].take(pa.array(cs))
        return pa.table(cols)

    return score


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    match_on: str | None = None,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cosine, rank) — the
    blocked Arrow kernel form (round 12, guide §4.2/§2.3/§8).

    Semantics are IDENTICAL to brute_force_topk_expr (the retained
    expression spec; bit-identity gated by tests/test_similarity_blocked
    .py): same pairs, bit-identical cosine doubles, same ranking. The
    execution shape changes: instead of scoring |Q|×|C| pairs with
    interpreted zip_with/aggregate lambdas and shuffling every scored
    pair into the rank window, corpus rows hash into one deterministic
    block per cluster task slot (pmod(xxhash64(id), blocks) — guide
    §2.5; _parallelism), query rows replicate to every block, and a
    NumPy kernel scores each block's sub-matrix and emits only each
    query's LOCAL top-k candidate rows — ≤ |Q|·k·blocks skinny rows reach
    the final window instead of |Q|×|C| (§2.3 aggregate before you
    shuffle / §8 decide with small rows). The local cut uses the window's
    exact total order, so the global top-k is preserved row-for-row
    whatever the block count.

    NULL-id rows on either side never pair (the join predicate's NULL
    semantics) and are pre-filtered; everything else — NULL vectors,
    ragged lengths, NULL elements, zero norms, NULL metadata under
    ``match_on`` — reproduces the expression path inside the kernel
    (docstring of _topk_block_scorer). Per task the sub-matrix is
    |Q| × |C|/blocks doubles, chunked at 8192 corpus rows."""
    blocks = _parallelism(corpus.sparkSession)
    meta = [F.col(match_on).alias("_pmeta")] if match_on else []
    q_side = queries.where(F.col(id_col).isNotNull()).select(
        F.lit(0).alias("_pside"),
        F.explode(F.sequence(F.lit(0), F.lit(blocks - 1))).alias("_blk"),
        F.col(id_col).alias("_pid"),
        F.col(vec_col).alias("_pvec"),
        *meta,
    )
    c_side = corpus.where(F.col(id_col).isNotNull()).select(
        F.lit(1).alias("_pside"),
        F.pmod(F.xxhash64(id_col), F.lit(blocks)).cast("int").alias("_blk"),
        F.col(id_col).alias("_pid"),
        F.col(vec_col).alias("_pvec"),
        *meta,
    )
    u = q_side.unionByName(c_side)
    id_type = u.schema["_pid"].dataType.simpleString()
    out_schema = f"query_id {id_type}, neighbor_id {id_type}, cosine double"
    if match_on:
        meta_type = u.schema["_pmeta"].dataType.simpleString()
        out_schema += f", _meta {meta_type}"
    cand = u.groupBy("_blk").applyInArrow(
        _topk_block_scorer(k, has_meta=match_on is not None), out_schema
    )
    if match_on:
        cand = cand.withColumnRenamed("_meta", match_on)
    return _rank_topk(cand, k, extra_cols=[match_on] if match_on else None)


def _hyperplanes(dim: int, n_planes: int, n_tables: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randn(n_tables, n_planes, dim)


def _tables_expr(vec_col: str, n_planes: int) -> Column:
    """(table_id, bucket) struct array for ALL tables from the joined
    ``_tensor`` row. Sign-pattern bucket id per table:
    Σ (dot(v, plane_i) > 0) << i. NULL vectors hash to bucket 0 in every
    table (NULL dot → IF false → 0 per plane)."""
    return F.expr(
        f"""
        transform(_tensor, (tbl, t) -> named_struct(
          'table_id', t,
          'bucket', aggregate(
            zip_with(tbl, sequence(0, {n_planes - 1}), (p, i) ->
              IF(aggregate(zip_with({vec_col}, p,
                             (x, y) -> CAST(x AS DOUBLE) * y),
                           CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) > 0,
                 shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))),
            CAST(0 AS BIGINT), (acc, x) -> acc + x)))
        """
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 2,
) -> DataFrame:
    """IVF-style ANN: coarse quantizer + probe-N clusters.

    Deterministic coarse centroids (the first ``n_centroids`` corpus vectors
    by id — a real deployment would k-means a sample; the plan shape is
    identical). Every corpus vector is assigned to its best centroid once
    (broadcast of the tiny centroid set, max_by argmax — no shuffle of the
    corpus). Queries probe their ``n_probe`` closest centroids and join
    candidates on centroid_id: the scored set is |corpus| × n_probe /
    n_centroids in expectation, not the cross product.
    """
    # first n BY ID (not id < n, which yields zero centroids when ids
    # don't start at 0 — e.g. a decimated or re-keyed corpus).
    # asc_nulls_last: Spark ASC is NULLS FIRST, so a NULL-id corpus row
    # would otherwise become centroid #1 while a SQL oracle (DuckDB is
    # NULLS LAST in both directions) picks real ids first — the registry's
    # mechanical pk-variant rule applied to a LIMIT cutoff. The vector
    # itself is the secondary key so the cutoff is a UNIQUE total order
    # (registry LIMIT rule) even if a pathological corpus carries one id
    # with two different embeddings; array ordering is lexicographic in
    # both engines.
    cents = F.broadcast(
        corpus.orderBy(F.asc_nulls_last(id_col), F.asc(vec_col))
        .limit(n_centroids)
        .select(F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cent_vec"))
    )

    def assign(df: DataFrame, prefix: str, probes: int) -> DataFrame:
        scored = (
            with_vector_norm(df, vec_col)
            .select(
                F.col(id_col).alias(f"{prefix}_id"),
                F.col(vec_col).alias(f"{prefix}_vec"),
                F.col("norm").alias(f"{prefix}_norm"),
            )
            .join(cents)
            .select(
                f"{prefix}_id",
                f"{prefix}_vec",
                f"{prefix}_norm",
                "centroid_id",
                dot(F.col(f"{prefix}_vec"), F.col("cent_vec")).alias("cscore"),
            )
        )
        if probes == 1:
            # tie-break must MATCH the window path below (cscore desc,
            # centroid_id asc): max of (cscore, -id) picks the smallest id
            # on a score tie, so a corpus vector tied between cells lands
            # in the cell its identical query twin probes first.
            return scored.groupBy(f"{prefix}_id").agg(
                F.max_by(
                    "centroid_id",
                    F.struct(F.col("cscore"), (-F.col("centroid_id")).alias("nid")),
                ).alias("centroid_id"),
                F.first(f"{prefix}_vec").alias(f"{prefix}_vec"),
                F.first(f"{prefix}_norm").alias(f"{prefix}_norm"),
            )
        # asc_nulls_last (mechanical pk rule): a corpus with fewer than
        # n_centroids non-NULL ids can seat a NULL-id centroid, and Spark
        # ASC would order it FIRST where every SQL twin orders it last.
        w = Window.partitionBy(f"{prefix}_id").orderBy(
            F.desc("cscore"), F.asc_nulls_last("centroid_id")
        )
        return (
            scored.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") <= probes)
            .drop("_r", "cscore")
        )

    assigned = assign(corpus, "neighbor", 1)
    probed = assign(queries, "query", n_probe)
    scored = (
        probed.join(assigned, "centroid_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
        .select(
            "query_id",
            "neighbor_id",
            _cosine_from_norms(
                F.col("query_vec"), F.col("neighbor_vec"),
                F.col("query_norm"), F.col("neighbor_norm"),
            ).alias("cosine"),
        )
    )
    return _rank_topk(scored, k)


def lsh_cosine_pairs(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    n_planes: int = 5,
    n_tables: int = 12,
    seed: int = 42,
) -> DataFrame:
    """All unordered candidate pairs with cosine >= threshold — the dedup
    shape of LSH (q_dedup_embedding): unlike the ANN top-k, a dedup stage
    must surface EVERY above-threshold pair, so there is no per-query rank
    truncation (k would silently cap recall for hub vectors with many
    near-duplicates). Returns (id_a, id_b, cosine) with id_a < id_b.

    Same bucketed equi-join core as lsh_bucketed_topk: cost is
    Σ per-bucket collisions across tables, never the corpus cross
    product. Recall compounds with table count as 1-(1-p)^T; the
    (5 planes, 12 tables) default measures 0.83 recall at 500 vectors
    and 0.74 at 5000 on the synthetic near-orthogonal corpus at
    threshold 0.4 (tools-measured, round 7) — production corpora with
    true near-dups (cosine > 0.9) sit far above both."""
    pairs = _lsh_scored_pairs(
        corpus,
        id_col,
        vec_col,
        dim=dim,
        n_planes=n_planes,
        n_tables=n_tables,
        seed=seed,
    )
    # Threshold on the ROUNDED cosine (round-9 advice): comparing the raw
    # division-derived double against the threshold relied on bit-identical
    # summation across engines — a corpus value a few ULPs apart near the
    # threshold would split the edge SET, not just a display cell. The
    # rounded value is what both engines emit, so thresholding on it makes
    # the edge set engine-identical by construction (oracles use the same
    # floor-form on the same comparison).
    rounded = stable_round(F.col("cosine"), 4)
    return pairs.where(rounded >= threshold).select(
        F.col("query_id").alias("id_a"),
        F.col("neighbor_id").alias("id_b"),
        rounded.alias("cosine"),
    )


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH buckets.

    Each vector lands in one bucket per table; candidate pairs share a
    (table, bucket) key. 2^n_planes buckets/table keeps expected bucket size
    |corpus|/256 — the join output is linear in corpus size for spread-out
    data. Recall grows with n_tables.
    """
    scored = _lsh_scored_pairs(
        corpus,
        id_col,
        vec_col,
        dim=dim,
        n_planes=n_planes,
        n_tables=n_tables,
        seed=seed,
        queries=queries,
    )
    return _rank_topk(scored, k)


def _lsh_bucketizer(
    vec_name: str,
    n_planes: int,
    n_tables: int,
    seed: int,
    dim: int | None,
):
    """mapInArrow kernel: append (table_id, bucket) to every input row,
    replicated once per table — NumPy replacement for _tables_expr with
    identical bucket values (same seeded tensor, and _fold's
    per-dimension accumulation, so every dot's sign matches the JVM fold).

    Row classes, mirroring the expression form exactly:
    * conforming rows (length == planes dim, no NULL elements): bucket =
      Σ_i (dot_i > 0) << i, with the NaN-keeps-bit ~(acc <= 0) form
      (Spark treats NaN as greater than any double);
    * NULL vectors, NULL-element vectors, and length-mismatched vectors:
      bucket 0 in every table (zip_with pads with NULL → NULL dot → IF
      false), exactly as the expression path behaved.
    ``dim=None`` derives the dimension from the batch and requires it
    uniform (every registered caller gates the corpus to one length
    first; mixed lengths raise loudly rather than bucket silently)."""

    def run(batches):
        import pyarrow as pa

        planes_cache: dict[int, np.ndarray] = {}

        def planes_for(d: int) -> np.ndarray:
            w = planes_cache.get(d)
            if w is None:
                w = _hyperplanes(d, n_planes, n_tables, seed).reshape(
                    n_tables * n_planes, d
                )
                planes_cache[d] = w
            return w

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            v = _decode_lists(batch.column(vec_name))
            if dim is not None:
                d = dim
            else:
                cand = np.unique(v.lens[v.valid])
                if len(cand) > 1:
                    raise RuntimeError(
                        "_lsh_bucketizer: mixed vector lengths "
                        f"{cand.tolist()} reached the bucketizer — gate "
                        "the corpus (filter_modal_dim / size filter) first"
                    )
                d = int(cand[0]) if len(cand) else 0
            # Row policy: only conforming rows get sign bits; every other
            # row keeps bucket 0 in every table.
            buckets = np.zeros((n, n_tables), dtype=np.int64)
            conform = v.valid & (v.lens == d) & ~v.row_has_null
            if conform.any():
                acc, _, _ = _fold(v.matrix(conform, d), planes_for(d))
                bits = ~(acc <= 0)
                buckets[conform] = (
                    bits.reshape(-1, n_tables, n_planes).astype(np.int64)
                    << np.arange(n_planes, dtype=np.int64)[None, None, :]
                ).sum(axis=2)
            idx = np.repeat(np.arange(n), n_tables)
            base = batch.drop_columns([vec_name]).take(pa.array(idx))
            yield pa.record_batch(
                list(base.columns)
                + [
                    pa.array(
                        np.tile(np.arange(n_tables, dtype=np.int32), n),
                        pa.int32(),
                    ),
                    pa.array(buckets.reshape(-1), pa.int64()),
                ],
                names=list(base.schema.names) + ["table_id", "bucket"],
            )

    return run


def _lsh_scored_pairs(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int | None = None,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    queries: DataFrame | None = None,
) -> DataFrame:
    """Shared LSH core: bucketize, equi-join on (table, bucket), dedupe
    candidate pairs, score cosine. ``queries=None`` self-joins the corpus
    (the dedup all-pairs shape). Returns (query_id, neighbor_id, cosine)
    unranked."""
    self_pairs = queries is None
    if queries is None:
        queries = corpus

    def bucketize(df: DataFrame, prefix: str) -> DataFrame:
        # Arrow bucketizer (round-11 optimization): the sign-pattern
        # buckets used to come from _tables_expr — n_tables × n_planes
        # interpreted zip_with/aggregate dots PER VECTOR (the HOF lambdas
        # are CodegenFallback; measured ~1.5 s per bucketized side at
        # sf0.1 for 12×5). The mapInArrow form hands whole batches to
        # NumPy with the identical per-dimension left-to-right IEEE
        # accumulation, so every dot's SIGN — and therefore every bucket
        # id — is unchanged; the hyperplane tensor is regenerated in-task
        # from the same seeded RandomState the SQL-literal oracles embed.
        # Output is (id, table_id, bucket) ONLY — the candidate join and
        # its dedupe shuffle ids, never vectors (guide §2.3/§8: decide
        # with small rows, attach the payload once afterwards).
        nv = df.select(
            F.col(id_col).alias(f"{prefix}_id"),
            F.col(vec_col).alias(f"{prefix}_vec"),
        )
        id_type = nv.schema[f"{prefix}_id"].dataType.simpleString()
        return nv.mapInArrow(
            _lsh_bucketizer(
                f"{prefix}_vec", n_planes, n_tables, seed, dim=dim
            ),
            f"{prefix}_id {id_type}, table_id int, bucket bigint",
        )

    def attach(df: DataFrame, prefix: str) -> DataFrame:
        # One deterministic (vector, norm) per id for the re-attach join:
        # min-by-vector mirrors the min-per-id reduction the LSH oracles
        # already pin (an id duplicated by a regeneration re-attaches ONE
        # vector, exactly like the old carry-through-dedupe plan kept one
        # arbitrary — here deterministic — pair row).
        one = df.groupBy(F.col(id_col).alias(f"{prefix}_id")).agg(
            F.min(vec_col).alias(f"{prefix}_vec")
        )
        return one.select(
            f"{prefix}_id",
            f"{prefix}_vec",
            l2_norm(f"{prefix}_vec").alias(f"{prefix}_norm"),
        )

    q = bucketize(queries, "query")
    c = bucketize(corpus, "neighbor")
    # Self-join (dedup) mode: keep only the ordered half of each pair
    # BEFORE the dedupe shuffle and the cosine dot — halves both, and the
    # unordered pair is what a dedup stage consumes anyway.
    pair_filter = (
        F.col("query_id") < F.col("neighbor_id")
        if self_pairs
        else F.col("query_id") != F.col("neighbor_id")
    )
    cand = (
        q.join(c, ["table_id", "bucket"])
        .where(pair_filter)
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.join(attach(queries, "query"), "query_id").join(
        attach(corpus, "neighbor"), "neighbor_id"
    )
    return scored.select(
        "query_id",
        "neighbor_id",
        _cosine_from_norms(
            F.col("query_vec"), F.col("neighbor_vec"), F.col("query_norm"), F.col("neighbor_norm")
        ).alias("cosine"),
    )


# ---------------------------------------------------------------------------
# Blocked exact all-pairs cosine (the verification-harness shape, vectorized)
# ---------------------------------------------------------------------------
#
# The exact all-pairs ground truth (q_dedup_embedding_bound and friends) is
# quadratic BY DESIGN — but expressing the per-pair cosine as
# zip_with + aggregate higher-order functions evaluates interpreted
# per-element lambdas on every one of the N²/2 pairs (measured 35 s at
# sf0.1 for 4M pairs). The blocked form instead ships each hash block's
# (id, vector) matrix ONCE per block pair through Arrow and hands whole
# blocks to NumPy (optimization guide §4.2 "do the heavy lifting in native
# code" + §8 "move big rows once"): the dot products accumulate dimension
# by dimension in the SAME left-to-right IEEE-754 order as the JVM fold,
# so every emitted double is bit-identical to the higher-order-function
# path (gated by tests/test_similarity_blocked.py; a 4M-pair live compare
# measured 0 bit diffs).
#
# NaN/NULL parity notes (each mirrors the JVM path's behavior exactly):
# * NULL vector elements arrive as NaN (Arrow null → NaN for float
#   to_numpy) → dot/norm NaN → the rounded-threshold compare is false →
#   pair excluded; Spark's NULL propagation excludes the same pairs.
# * Zero/NaN norms: the mask is ~(norm <= 0), which keeps NaN like
#   Spark's (norm > 0) does (Spark treats NaN as greater than any
#   double); such pairs then drop at the threshold on both paths.
# * The threshold compares floor(c*1e4 + 0.5)/1e4 — the stable_round op
#   sequence — so the surviving edge set is the one both engines emit.


def _blocked_pair_scorer(threshold: float):
    """Score one (block_i, block_j) pair: every cross pair's cosine via
    _fold (bit-identical to the JVM fold), keep id_a < id_b above the
    stable-rounded threshold."""

    def matrix(t):
        # Row policy: ragged or NULL vectors raise (callers gate the
        # corpus to its modal dimension); NULL elements decode as NaN.
        v = _decode_lists(t.column("_pvec"))
        if not v.valid.all() or (v.lens != v.lens[0]).any():
            raise RuntimeError(
                "blocked_cosine_pairs: ragged or NULL vectors reached the "
                "scorer — gate the corpus with filter_modal_dim first"
            )
        ids = t.column("_pid").to_numpy(zero_copy_only=False).astype(np.int64)
        return ids, v.matrix(np.arange(len(ids)), int(v.lens[0]))

    def score(tbl):
        import pyarrow as pa

        halves = _split_sides(tbl)
        if halves is None:
            ids = [("id_a", pa.int64()), ("id_b", pa.int64())]
            return pa.schema(ids + [("cosine", pa.float64())]).empty_table()
        # Diagonal groups hold the same block on both sides: the id_a <
        # id_b mask enumerates each unordered pair once. Off-diagonal
        # groups hold DISJOINT blocks (ids can never repeat across blocks
        # — the block is a function of the id), so every cross pair is
        # kept and emitted with its ids ordered.
        diagonal = tbl.column("_bi")[0].as_py() == tbl.column("_bj")[0].as_py()
        ia, A = matrix(halves[0])
        ib, B = matrix(halves[1])
        if A.shape[1] != B.shape[1]:
            raise RuntimeError(
                "blocked_cosine_pairs: dimension mismatch across blocks — "
                f"{A.shape[1]} vs {B.shape[1]}; gate with filter_modal_dim"
            )
        out_a: list = []
        out_b: list = []
        out_c: list = []
        chunk = 2048  # bounds the cosine matrix at chunk × |B| doubles
        for s in range(0, len(A), chunk):
            iac = ia[s : s + chunk]
            acc, na, nb = _fold(A[s : s + chunk], B)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = acc / (na[:, None] * nb[None, :])
                rounded = np.floor(cos * 10000.0 + 0.5) / 10000.0
            keep = ~(na[:, None] <= 0) & ~(nb[None, :] <= 0) & (rounded >= threshold)
            if diagonal:
                keep &= iac[:, None] < ib[None, :]
            r, c = np.nonzero(keep)
            out_a.append(np.minimum(iac[r], ib[c]))
            out_b.append(np.maximum(iac[r], ib[c]))
            out_c.append(cos[r, c])
        return pa.table(
            {
                "id_a": pa.array(np.concatenate(out_a), pa.int64()),
                "id_b": pa.array(np.concatenate(out_b), pa.int64()),
                "cosine": pa.array(np.concatenate(out_c), pa.float64()),
            }
        )

    return score


def blocked_cosine_pairs(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All unordered pairs (id_a < id_b, both norms > 0) whose
    stable_round(cosine, 4) >= threshold, over a modal-dim-gated corpus —
    the EXACT ground-truth primitive, blocked: vectors hash into b
    deterministic blocks (pmod(xxhash64(id), b) — guide §2.5's
    deterministic synthetic key), each unordered block pair cogroups into
    one task, and NumPy scores the whole sub-matrix. b is _pair_blocks of
    the cluster's parallelism, so the b(b+1)/2 block-pair tasks cover
    every slot. Shuffle volume is O(N·b) vector rows; compute is the
    same N²/2 cosines the semantics demand, vectorized. Emitted
    ``cosine`` is the RAW double — bit-identical to the zip_with/aggregate
    fold — so callers apply stable_round exactly as before.

    NULL ids never pair (the JVM path's id_a < id_b drops them); rows are
    filtered here so block assignment is total."""
    blocks = _pair_blocks(_parallelism(corpus.sparkSession))
    em = corpus.where(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("_pid"), F.col(vec_col).alias("_pvec")
    )
    block = F.pmod(F.xxhash64("_pid"), F.lit(blocks)).cast("int")
    # Both replica streams ride ONE grouped frame with a side tag; the
    # scorer splits the group by side (_split_sides).
    side_a = em.select(
        F.lit(0).alias("_pside"),
        block.alias("_bi"),
        F.explode(F.sequence(block, F.lit(blocks - 1))).alias("_bj"),
        "_pid",
        "_pvec",
    )
    side_b = em.select(
        F.lit(1).alias("_pside"),
        F.explode(F.sequence(F.lit(0), block)).alias("_bi"),
        block.alias("_bj"),
        "_pid",
        "_pvec",
    )
    return (
        side_a.unionByName(side_b)
        .groupBy("_bi", "_bj")
        .applyInArrow(
            _blocked_pair_scorer(threshold),
            "id_a long, id_b long, cosine double",
        )
    )
