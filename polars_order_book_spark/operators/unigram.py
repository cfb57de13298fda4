"""Unigram (SentencePiece-shaped) subword tokenizer: corpus-derived integer
piece costs + EXACT min-cost Viterbi segmentation.

BPE (operators/bpe.py) covers the merge-table family; this covers the other
major subword family, where a word's segmentation is chosen globally over a
piece VOCABULARY rather than built by local merges. Production SentencePiece
scores pieces with EM-trained log-probabilities; this implementation uses an
integer surrogate — ``cost(piece) = bits(max_count) - bits(count) + 1``
(``bits(n)`` = length of n's binary representation, a floor(log2)+1 both
engines compute without libm) — so the whole model and the DP over it stay
engine-exact and the tokenization is oracle-checkable bit-for-bit, the
repo-wide discipline. The EM refinement changes only the cost table, not the
machinery; the cost column is the injection point.

Pieces = every single character (guaranteed segmentability) plus the top-K
multi-character substrings by corpus-weighted occurrence count. Viterbi
minimizes the LEXICOGRAPHIC objective (total cost, then piece count),
encoded as ``cost * 2^20 + pieces`` — a single BIGINT both engines minimize
identically (valid while a word has < 2^20 pieces, i.e. always).

Scale shape: vocabulary construction is one substring explode (bounded ×
max_piece_len² per word char) + a counted groupBy; the model is vocab-sized
and ships in the tokenizer's closure like BPE merge ranks; tokenization is
``mapInPandas`` with per-batch distinct-word caching (the apply_bpe shape) —
no shuffle, no per-row Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_order_book_spark.operators.order_book import _register_self_by_value

COMBINE = 1 << 20  # lexicographic (cost, n_pieces) encoding multiplier


_register_self_by_value(__name__)


def unigram_vocab(
    df: DataFrame,
    text_col: str = "text",
    *,
    max_piece_len: int = 4,
    top_multi: int = 50,
) -> DataFrame:
    """(piece, n, cost): every single character plus the ``top_multi``
    multi-char substrings (length <= max_piece_len) by corpus-weighted
    occurrence count (ALL occurrences, overlapping), with the integer
    bit-length cost. Ties in the top-K break on (n desc, piece asc) — a
    total order both engines share. The 1-row max-count aggregate broadcasts
    (the text_tfidf global-normalizer pattern)."""
    if max_piece_len < 2:
        raise ValueError(f"max_piece_len must be >= 2, got {max_piece_len}")
    if top_multi < 0:
        raise ValueError(f"top_multi must be >= 0, got {top_multi}")
    from polars_order_book_spark.operators.bpe import word_frequencies

    wf = word_frequencies(df, text_col)
    # one struct per (start, len) pair, exploded JVM-side
    sub_expr = (
        f"filter(flatten(transform(sequence(1, length(word)), i -> "
        f"transform(sequence(1, {max_piece_len}), l -> "
        f"named_struct('p', CASE WHEN i + l - 1 <= length(word) "
        f"THEN substring(word, i, l) END)))), x -> x.p IS NOT NULL)"
    )
    subs = (
        wf.select("freq", F.explode(F.expr(sub_expr)).alias("s"))
        .groupBy(F.col("s.p").alias("piece"))
        .agg(F.sum("freq").alias("n"))
    )
    subs = subs.localCheckpoint(eager=False)  # feeds chars, top-K, and max
    chars = subs.where(F.length("piece") == 1)
    multi = (
        subs.where(F.length("piece") > 1)
        .orderBy(F.col("n").desc(), F.col("piece"))
        .limit(top_multi)
    )
    mx = subs.agg(F.max("n").alias("__mx"))
    return (
        chars.unionByName(multi)
        .crossJoin(F.broadcast(mx))
        .select(
            "piece",
            "n",
            (F.length(F.bin(F.col("__mx"))) - F.length(F.bin(F.col("n"))) + 1)
            .cast("long")
            .alias("cost"),
        )
    )


def viterbi_segment(
    word: str, costs: "dict[str, int]", max_piece_len: int = 4
) -> "tuple[int, list[str]]":
    """Exact min-(cost, n_pieces) segmentation of one word. Returns
    (combined_cost, pieces) with combined = total_cost * COMBINE + n_pieces.
    Backtracking prefers the SHORTEST last piece among optimal predecessors
    (a fixed, documented tie-break for the piece LIST; the combined cost is
    unique regardless). Raises if the word is unsegmentable (a character
    missing from the vocab — the caller's contract is chars-complete)."""
    n = len(word)
    best: "list[int | None]" = [None] * (n + 1)
    back: "list[int]" = [0] * (n + 1)
    best[0] = 0
    for i in range(1, n + 1):
        for j in range(1, min(max_piece_len, i) + 1):
            c = costs.get(word[i - j:i])
            if c is None or best[i - j] is None:
                continue
            cand = best[i - j] + c * COMBINE + 1
            if best[i] is None or cand < best[i] or (cand == best[i] and j < back[i]):
                best[i], back[i] = cand, j
    if best[n] is None:
        raise ValueError(f"unsegmentable word {word!r}: vocab lacks a character")
    pieces: "list[str]" = []
    i = n
    while i > 0:
        pieces.append(word[i - back[i]:i])
        i -= back[i]
    pieces.reverse()
    return best[n], pieces


def unigram_tokenize(
    df: DataFrame,
    vocab: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_piece_len: int = 4,
    max_vocab_rows: int = 1_000_000,
) -> DataFrame:
    """Tokenize text with a (piece, cost) vocabulary → ``(id_col, n_pieces,
    total_cost, pieces)``. The vocabulary is collected driver-side under the
    same fail-fast cap as the BPE trainer (models are corpus-independent
    sized) and ships in the mapInPandas closure; each Arrow batch
    deduplicates words so Viterbi runs once per DISTINCT word per batch.
    Word splitting matches the trainer's tokenizer exactly (Java ``\\s``,
    the apply_bpe convention)."""
    import re

    import pandas as pd

    costs = _collect_costs(vocab, max_vocab_rows)
    java_ws = re.compile(r"[ \t\n\x0b\f\r]+")

    def run(batches):
        for pdf in batches:
            cache: dict = {}
            n_out, c_out, p_out = [], [], []
            for t in pdf[text_col].fillna(""):
                words = [w for w in java_ws.split(str(t).strip(" ").lower()) if w]
                tot_c, tot_n, doc_pieces = 0, 0, []
                for w in words:
                    got = cache.get(w)
                    if got is None:
                        got = viterbi_segment(w, costs, max_piece_len)
                        cache[w] = got
                    combined, pieces = got
                    tot_c += combined // COMBINE
                    tot_n += combined % COMBINE
                    doc_pieces.extend(pieces)
                n_out.append(tot_n)
                c_out.append(tot_c)
                p_out.append(doc_pieces)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_pieces": pd.Series(n_out, dtype="int64"),
                    "total_cost": pd.Series(c_out, dtype="int64"),
                    "pieces": p_out,
                }
            )

    from pyspark.sql.types import (
        ArrayType, LongType, StringType, StructField, StructType,
    )

    out_schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType, True),
            StructField("n_pieces", LongType(), True),
            StructField("total_cost", LongType(), True),
            StructField("pieces", ArrayType(StringType()), True),
        ]
    )
    return df.select(id_col, text_col).mapInPandas(run, out_schema)


def _collect_costs(vocab: DataFrame, max_vocab_rows: int) -> "dict[str, int]":
    """Vocab-bounded collect of the (piece, cost) model — the BPE-trainer
    fail-fast contract (model state ships in closures, never data). ONE
    action: collect limit(cap + 1) and check the length — a separate
    count() action would re-execute the vocab's whole lineage (for an EM
    round that lineage is a full corpus E-step; review finding)."""
    rows = vocab.select("piece", "cost").limit(max_vocab_rows + 1).collect()
    if len(rows) > max_vocab_rows:
        raise ValueError(
            f"vocabulary exceeds max_vocab_rows={max_vocab_rows}; prune "
            "pieces (top_multi) before training/tokenizing"
        )
    return {r["piece"]: int(r["cost"]) for r in rows}


def _em_piece_counts(
    word_freqs: DataFrame, costs: "dict[str, int]", max_piece_len: int
) -> DataFrame:
    """E-step (hard EM): Viterbi-segment every distinct word under the
    current cost table and count piece usage weighted by word frequency.
    mapInPandas pre-aggregates per Arrow batch (each batch yields at most
    vocab-sized rows), one groupBy finishes — shuffle volume is
    batches × vocab, never corpus-sized."""
    import pandas as pd

    def run(batches):
        for pdf in batches:
            agg: dict = {}
            for w, f in zip(pdf["word"], pdf["freq"]):
                _, pieces = viterbi_segment(str(w), costs, max_piece_len)
                fi = int(f)
                for p in pieces:
                    agg[p] = agg.get(p, 0) + fi
            yield pd.DataFrame(
                {"piece": list(agg.keys()),
                 "n": pd.Series(list(agg.values()), dtype="int64")}
            )

    return (
        word_freqs.mapInPandas(run, "piece string, n long")
        .groupBy("piece")
        .agg(F.sum("n").alias("n"))
    )


def _em_recost(counts: DataFrame, chars: DataFrame) -> DataFrame:
    """M-step: new vocab = every single character (kept at usage 0 so any
    word stays segmentable) plus each multi-char piece the E-step actually
    used; cost(piece) = bits(max_n) - bits(n) + 1 (bits = length of the
    binary rendering, bits(0) = 1 — bin(0) is '0' in both engines). All
    relations are vocab-sized; the 1-row max broadcasts."""
    char_rows = chars.join(counts, on="piece", how="left").select(
        "piece", F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n")
    )
    multi = counts.where(F.length("piece") > 1).select(
        "piece", F.col("n").cast("long").alias("n")
    )
    vocab_n = char_rows.unionByName(multi)
    mx = vocab_n.agg(F.max("n").alias("__mx"))
    return vocab_n.crossJoin(F.broadcast(mx)).select(
        "piece",
        "n",
        (F.length(F.bin(F.col("__mx"))) - F.length(F.bin(F.col("n"))) + 1)
        .cast("long")
        .alias("cost"),
    )


def unigram_em_vocab(
    df: DataFrame,
    text_col: str = "text",
    *,
    iters: int = 2,
    max_piece_len: int = 4,
    top_multi: int = 50,
    max_vocab_rows: int = 1_000_000,
) -> DataFrame:
    """DISTRIBUTED hard-EM (Viterbi) refinement of the unigram vocabulary:
    start from :func:`unigram_vocab`'s bit-length proxy costs and run
    ``iters`` EM rounds — E-step = the existing exact Viterbi as a
    mapInPandas piece-count pass over the distinct-word table, M-step = one
    vocab-sized aggregate rebuilding the cost table (the documented
    injection point). The loop is shaped like
    :func:`bpe.learn_bpe_merges_distributed`: per round one corpus-scan
    aggregation whose shuffle is vocab-bounded plus one vocab-sized collect
    (model state, never data); each round's vocabulary lineage restarts from
    the collected cost literal, so plan size stays constant across rounds.

    Integer costs keep the whole loop engine-exact: the DuckDB oracle
    replays every round (forward DP with encoded back-pointers + a
    backtracking fold), and the result is hash-checkable bit-for-bit.
    Multi-char pieces the E-step never uses are pruned (SentencePiece's
    prune step, deterministic here); single characters are kept at usage 0
    so segmentability is invariant. Returns (piece, n, cost) after the
    final M-step.
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    from polars_order_book_spark.operators.bpe import word_frequencies

    wf = word_frequencies(df, text_col).localCheckpoint(eager=False)
    vocab = unigram_vocab(
        df, text_col, max_piece_len=max_piece_len, top_multi=top_multi
    )
    chars = vocab.where(F.length("piece") == 1).select("piece")
    for _ in range(iters):
        costs = _collect_costs(vocab, max_vocab_rows)
        counts = _em_piece_counts(wf, costs, max_piece_len)
        vocab = _em_recost(counts, chars)
    return vocab


def unigram_em_vocab_local(
    word_freqs: "dict[str, int]",
    *,
    iters: int = 2,
    max_piece_len: int = 4,
    top_multi: int = 50,
) -> "dict[str, tuple[int, int]]":
    """Pure-Python reference of :func:`unigram_em_vocab` over a word→freq
    table — the byte-identity witness the distributed trainer is pinned
    against (the learn_bpe_merges / _distributed relationship). Returns
    piece -> (n, cost)."""
    def bl(n: int) -> int:
        return max(1, int(n).bit_length())

    subs: "dict[str, int]" = {}
    for w, f in word_freqs.items():
        for i in range(len(w)):
            for ln in range(1, max_piece_len + 1):
                if i + ln <= len(w):
                    p = w[i:i + ln]
                    subs[p] = subs.get(p, 0) + f
    chars = sorted(p for p in subs if len(p) == 1)
    multi = sorted(
        (p for p in subs if len(p) > 1), key=lambda p: (-subs[p], p)
    )[:top_multi]
    mx = max(subs.values(), default=0)
    vocab = {p: (subs[p], bl(mx) - bl(subs[p]) + 1) for p in [*chars, *multi]}
    for _ in range(iters):
        costs = {p: c for p, (_, c) in vocab.items()}
        counts: "dict[str, int]" = {}
        for w, f in word_freqs.items():
            _, pieces = viterbi_segment(w, costs, max_piece_len)
            for p in pieces:
                counts[p] = counts.get(p, 0) + f
        new = {p: counts.get(p, 0) for p in chars}
        new.update({p: n for p, n in counts.items() if len(p) > 1})
        mx2 = max(new.values(), default=0)
        vocab = {p: (n, bl(mx2) - bl(n) + 1) for p, n in new.items()}
    return vocab
