"""Rank fusion for hybrid retrieval.

Lexical retrieval (``text.bm25_scores``) and dense retrieval
(``text.hash_embed`` → ``similarity.cosine_topk_*``) each produce a ranked
candidate list; production search fuses them. Reciprocal-rank fusion
(Cormack/Clarke/Buettcher, SIGIR'09) is the standard score-free combiner:
``rrf(d) = Σ_sources 1/(k + rank_source(d))`` with missing-source terms
dropped — robust to incomparable score scales, which is exactly the
lexical-vs-cosine situation.

Exactness: fusion consumes RANKS (integers), not scores, so the only float
arithmetic is the fixed left-to-right sum of ``1/(k + rank)`` terms —
IEEE-deterministic in both engines when the oracle writes the same
parenthesization (and casts its literals to DOUBLE; DuckDB decimal literals
would divide differently).

Scale contract: ranking uses a GLOBAL window (score desc, id asc), which is
single-task — correct here because retrieval outputs are CANDIDATE lists
(top-k or query-term hits), orders of magnitude smaller than the corpus;
the corpus-sized work already happened inside the retrieval operators. Do
not point this at a corpus-sized relation.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from polars_order_book_spark.operators.order_book import _register_self_by_value


def rrf_fuse(
    sources: "Sequence[tuple[str, DataFrame, str, str]]",
    *,
    id_col: str = "doc_id",
    k: int = 60,
) -> DataFrame:
    """Fuse ranked candidate lists → (id_col, rank_<name>..., rrf double).

    ``sources``: tuples of (name, df, kind, col) where kind is ``"rank"``
    (col is an existing 1-based rank) or ``"score"`` (rank is derived as
    row_number over score DESC with id ASC tie-break — deterministic across
    engines). Documents missing from a source contribute nothing for it
    (standard RRF). Output contains every document present in at least one
    source. ``k`` is the RRF damping constant (60 in the original paper).
    """
    if not sources:
        raise ValueError("sources must be non-empty")
    ranked = []
    for name, df, kind, col in sources:
        rcol = f"rank_{name}"
        if kind == "rank":
            r = df.select(F.col(id_col), F.col(col).cast("long").alias(rcol))
        elif kind == "score":
            w = Window.orderBy(F.col(col).desc(), F.col(id_col).asc())
            r = df.select(
                F.col(id_col), F.row_number().over(w).cast("long").alias(rcol)
            )
        else:
            raise ValueError(f"kind must be 'rank' or 'score', got {kind!r}")
        ranked.append(r)
    out = ranked[0]
    for r in ranked[1:]:
        out = out.join(r, on=id_col, how="full_outer")
    # fixed left-to-right sum so the oracle's identical parenthesization
    # reproduces the double bit-for-bit
    rrf = None
    for name, *_ in sources:
        term = F.coalesce(
            F.lit(1.0) / (F.lit(k) + F.col(f"rank_{name}")).cast("double"),
            F.lit(0.0),
        )
        rrf = term if rrf is None else (rrf + term)
    return out.select(
        id_col, *[f"rank_{name}" for name, *_ in sources], rrf.alias("rrf")
    )


# --- MMR diverse rerank -------------------------------------------------------
#
# Ship by value: the applyInPandas closure references module-level helpers
# (same contract as operators/order_book.py / frequency.py).
_register_self_by_value(__name__)

_MICRO = 1_000_000


def _cos_micro(a, b) -> int:
    """Cosine in integer micros with a FIXED evaluation order: left-to-right
    dot products, sqrt, the dot/(na*nb) parenthesization, then
    floor(x*1e6+0.5) — matching DuckDB's list_dot_product-based oracle
    expression term for term (the same convention every ANN oracle in this
    repo relies on)."""
    import math

    dot = 0.0
    naa = 0.0
    nbb = 0.0
    for x, y in zip(a, b):
        dot += x * y
        naa += x * x
        nbb += y * y
    c = dot / (math.sqrt(naa) * math.sqrt(nbb))
    return int(math.floor(c * _MICRO + 0.5))


def mmr_rerank(
    vectors: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    k: int = 5,
    m_candidates: int = 20,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance rerank (Carbonell & Goldstein, SIGIR'98):
    from each query's top-``m_candidates`` cosine candidates, greedily pick
    ``k`` maximizing ``lam·rel(d) − (1−lam)·max_{s∈selected} sim(d, s)`` —
    the standard diversity pass between ANN recall and answer assembly.
    Returns (query_id, neighbor_id, mmr_rank, mmr_score).

    Distribution: recall is the existing corpus-sized ANN; the greedy loop
    runs per query group in ONE applyInPandas over the m-candidate lists
    (k·m cosine evaluations per query, never m² up front, and never a
    driver collect — queries parallelize across tasks). Candidate vectors
    attach via a broadcast of the (queries × m)-row candidate list against
    the vectors relation, so the big side is scanned once with a hash join.

    Exactness: relevance and pairwise similarities quantize to integer
    micros before any comparison; scores are ``lam·rel_m − (1−lam)·ms_m``
    with both weights rendered at full binary precision in the oracle, so
    selection (argmax with neighbor-id tie-break) is engine-portable. The
    oracle unrolls the k greedy steps as chained CTEs.
    """
    if k <= 0 or m_candidates < k:
        raise ValueError(f"need m_candidates >= k > 0, got k={k}, m={m_candidates}")
    if not (0.0 <= lam <= 1.0):
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    from polars_order_book_spark.operators.similarity import (
        _as_double,
        cosine_topk_bruteforce,
    )

    cand = cosine_topk_bruteforce(
        vectors,
        queries,
        vec_col=vec_col,
        id_col=id_col,
        query_id_col=query_id_col,
        k=m_candidates,
    )
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("_vv")
    )
    with_vec = v.join(
        F.broadcast(
            cand.select(
                "query_id",
                "neighbor_id",
                F.floor(F.col("cosine") * _MICRO + F.lit(0.5)).cast("long").alias("_rel_m"),
            )
        ),
        "neighbor_id",
    )
    beta = 1.0 - lam  # binary-exact complement, rendered verbatim in the oracle

    def greedy(pdf):
        import pandas as pd

        qid = pdf["query_id"].iloc[0]
        rows = pdf.sort_values("neighbor_id")
        ids = list(rows["neighbor_id"])
        rel = dict(zip(rows["neighbor_id"], rows["_rel_m"]))
        vec = {i: list(map(float, v)) for i, v in zip(rows["neighbor_id"], rows["_vv"])}
        remaining = list(ids)
        # max pairwise sim vs the selected set; None = empty set so a
        # negative true max is never clamped toward zero
        maxsim: dict = {i: None for i in ids}
        out = []
        for step in range(1, k + 1):
            best = None
            for cid in remaining:
                ms = maxsim[cid]
                score = lam * rel[cid] if ms is None else lam * rel[cid] - beta * ms
                key = (score, -cid)
                if best is None or key > best[0]:
                    best = (key, cid, score)
            if best is None:
                # fewer than k candidates for this query (small corpus /
                # self-excluded): emit what exists instead of crashing
                break
            _, chosen, score = best
            out.append((qid, chosen, step, score))
            remaining.remove(chosen)
            for cid in remaining:
                s = _cos_micro(vec[cid], vec[chosen])
                if maxsim[cid] is None or s > maxsim[cid]:
                    maxsim[cid] = s
        return pd.DataFrame(
            out, columns=["query_id", "neighbor_id", "mmr_rank", "mmr_score"]
        )

    return with_vec.groupBy("query_id").applyInPandas(
        greedy,
        schema="query_id long, neighbor_id long, mmr_rank int, mmr_score double",
    )


# --- hard-negative mining -----------------------------------------------------


def hard_negatives(
    vectors: DataFrame,
    queries: DataFrame,
    positives: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    positive_id_col: str = "positive_id",
    k: int = 10,
    sim_ceiling: "float | None" = None,
) -> DataFrame:
    """Mine hard negatives for contrastive training: per query, the top-``k``
    most-similar corpus vectors that are NOT the query itself and NOT in its
    ``positives`` set — the highest-loss negatives a dual-encoder trainer
    wants (Karpukhin et al., DPR, EMNLP'20 §3.2 pick exactly this: top BM25/
    dense candidates minus gold passages).

    ``positives`` is a (query_id, positive_id) relation of pairs to exclude
    (gold answers, same-label members, known near-dups). ``sim_ceiling``, if
    set, additionally drops candidates with cosine >= ceiling — the standard
    false-negative guard: a candidate nearly identical to the query is far
    more likely an unlabeled positive than a useful negative (CTRLsum/ANCE
    denoising rule).

    Returns ``(query_id, neighbor_id, rank, cosine)``, rank 1-based by
    (cosine desc, neighbor_id asc) AFTER all exclusions, so every query gets
    its k best admissible negatives — never an under-filled list from
    filtering a pre-cut top-k.

    Scale: scoring is the brute ``crossJoin(broadcast(queries))`` map scan —
    the query set is the bounded side by contract (training batches, not the
    corpus). The positives exclusion is a left_anti join ON
    (query_id, neighbor_id) — pairs-sized, co-partitioned with the score
    shuffle key. For corpus-scale query sets, mine per shard with the IVF
    index instead; this operator is the exact baseline that evaluates that
    index (same contract as cosine_topk_bruteforce, similarity.py).
    """
    from polars_order_book_spark.operators.similarity import (  # noqa: PLC0415
        _as_double,
        _dot,
        _guarded_norm,
        _topk,
    )

    q = queries.select(
        F.col(query_id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", _guarded_norm(F.col("qv"), "hard_negatives"))
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("vv")
    ).withColumn("vn", _guarded_norm(F.col("vv"), "hard_negatives"))
    sim = (
        v.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("qv"), F.col("vv")) / (F.col("qn") * F.col("vn"))).alias(
                "cosine"
            ),
        )
    )
    if sim_ceiling is not None:
        sim = sim.where(F.col("cosine") < F.lit(float(sim_ceiling)))
    excl = positives.select(
        F.col(query_id_col).alias("query_id"),
        F.col(positive_id_col).alias("neighbor_id"),
    )
    return _topk(sim.join(excl, ["query_id", "neighbor_id"], "left_anti"), k)
