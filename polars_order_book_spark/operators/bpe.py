"""BPE tokenizer training over a distributed corpus.

The missing piece between the text-quality operators and a training run: learn
a byte-pair-encoding merge table FROM the corpus and tokenize WITH it. The
scale split follows the classic Sennrich et al. (2016) observation that BPE
trains on the word-frequency table, not the corpus:

1. ``word_frequencies`` — the 100 TB part: one distributed explode + count
   (map-side partial agg; shuffle = one row per distinct word). Exact,
   oracle-able.
2. ``learn_bpe_merges`` — driver-side merge learning over that (bounded)
   table, guarded by an explicit row cap exactly like ``cosine_topk_blas``'s
   query cap: vocabularies are ~1e5-1e7 rows regardless of corpus size, and a
   corpus whose DISTINCT-word table exceeds the cap fails fast instead of
   OOMing the driver. Deterministic: ties break on the lexicographically
   smallest pair.
2b. ``learn_bpe_merges_distributed`` — the same loop with the segmentation
   state kept DISTRIBUTED: per merge, one pair-count shuffle + a 1-row
   argmax collect + a map-only string ``replace`` (greedy non-overlapping
   replace IS the BPE merge step under the bracketed-symbol encoding — see
   ``_seg_init_sql``). Byte-identical merges to the driver loop (pinned by
   test); use it when the distinct-word table exceeds the driver cap.
3. ``apply_bpe`` — distributed tokenization with the learned ranks
   (mapInPandas; the merge table ships in the closure). Each Arrow batch
   deduplicates its words first, so the greedy merge loop runs once per
   DISTINCT word per batch, not once per token.
4. ``bpe_pair_counts`` — the first learning step as a standalone relational
   query (char-level adjacent-pair counts weighted by word frequency) — fully
   SQL-expressible, so the driver oracle can hash-check the training math.

End-of-word handling: the classic "</w>" sentinel marks word-final symbols so
merges distinguish "er" inside a word from "er" at the end. The sentinel is
one SYMBOL (never splittable); pair keys render it literally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_order_book_spark.operators.order_book import _register_self_by_value

EOW = "</w>"


_register_self_by_value(__name__)


def word_frequencies(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over whitespace-tokenized lowercased text — the exact,
    distributed input to BPE training. One explode + one counted groupBy."""
    from polars_order_book_spark.operators.text import tokens

    return (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def bpe_pair_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adjacent symbol-pair counts of the FIRST BPE iteration (char-level
    segmentation, end-of-word sentinel), weighted by word frequency —
    relational end to end: transform(sequence) emits each word's pairs
    JVM-side, one groupBy sums. Returns (sym_left, sym_right, pair_freq).

    This is the training step the SQL oracle can re-derive; the full
    iterative loop lives in :func:`learn_bpe_merges` (driver-side over the
    bounded word table, like every published BPE trainer).
    """
    wf = word_frequencies(df, text_col)
    # substring is 1-based; position i pairs char i with char i+1, and the
    # last char pairs with the end-of-word sentinel. One parsed expression.
    pair_expr = (
        "transform(sequence(1, length(word)), i -> named_struct("
        "'l', substring(word, i, 1), "
        f"'r', CASE WHEN i = length(word) THEN '{EOW}' "
        "ELSE substring(word, i + 1, 1) END))"
    )
    return (
        wf.select(F.col("freq"), F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy(F.col("p.l").alias("sym_left"), F.col("p.r").alias("sym_right"))
        .agg(F.sum("freq").alias("pair_freq"))
    )


def learn_bpe_merges(
    word_freqs: DataFrame,
    n_merges: int,
    *,
    max_vocab_rows: int = 1_000_000,
) -> "list[tuple[str, str]]":
    """Learn ``n_merges`` BPE merges from a (word, freq) table.

    The table is collected driver-side — the documented contract of every
    BPE trainer (vocab size is corpus-independent); ``max_vocab_rows`` fails
    fast above the cap instead of OOMing (same pattern as
    ``cosine_topk_blas``). Deterministic: the best pair is
    (max pair_freq, then lexicographically smallest (left, right)).
    Returns the ordered merge list usable by :func:`apply_bpe`.
    """
    if n_merges <= 0:
        raise ValueError(f"n_merges must be > 0, got {n_merges}")
    # ONE action: limit(cap+1).collect() both enforces the cap and
    # materializes the rows — a separate count() re-executed the whole
    # word-frequency lineage (the corpus aggregation) just to count
    # (r8 self-review; the unigram._collect_costs pattern).
    rows = word_freqs.limit(max_vocab_rows + 1).collect()
    if len(rows) > max_vocab_rows:
        raise ValueError(
            f"word-frequency table exceeds max_vocab_rows={max_vocab_rows}; "
            "BPE training needs the distinct-word table driver-side — raise "
            "the cap with the driver heap, or pre-prune rare words "
            "(freq filter) first."
        )
    vocab: dict[tuple, int] = {}
    for r in rows:
        w, f = r[0], int(r[1])
        if w:
            vocab[tuple(w) + (EOW,)] = vocab.get(tuple(w) + (EOW,), 0) + f

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict[tuple, int] = {}
        for sym, f in vocab.items():
            for i in range(len(sym) - 1):
                p = (sym[i], sym[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        # deterministic: highest freq, ties to the lexicographically smallest pair
        top_freq = max(counts.values())
        best_pair = min(p for p, c in counts.items() if c == top_freq)
        merges.append(best_pair)
        merged = best_pair[0] + best_pair[1]
        new_vocab: dict[tuple, int] = {}
        for sym, f in vocab.items():
            out = []
            i = 0
            while i < len(sym):
                if i + 1 < len(sym) and (sym[i], sym[i + 1]) == best_pair:
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            t = tuple(out)
            new_vocab[t] = new_vocab.get(t, 0) + f
        vocab = new_vocab
    return merges


def _seg_init_sql(word_sql: str) -> str:
    """Bracketed-symbol string encoding of a word's initial char-level BPE
    segmentation: each symbol wrapped as chr(31)||sym||chr(30), plus the
    end-of-word sentinel. ``[a, b, </w>]`` renders as
    ``\\x1fa\\x1e\\x1fb\\x1e\\x1f</w>\\x1e``.

    Why a STRING, not an array: merging pair (l, r) greedily left-to-right
    without overlap — the BPE step — is exactly ``replace(s, open||l||close
    ||open||r||close, open||l||r||close)``. Every engine's ``replace``
    (Spark UTF8String, DuckDB, Python str.replace) scans left-to-right and
    resumes AFTER the substitution, and adjacent matches share no characters
    under this bracketing, so all three produce the identical segmentation —
    the property that makes the distributed trainer byte-identical to the
    driver loop and the oracle. Pinned by
    test_string_replace_is_greedy_nonoverlapping_bpe.

    Contract: symbols must not contain chr(30)/chr(31) — whitespace-split
    corpus words never do unless the corpus embeds those control bytes.
    """
    return (
        f"concat(concat_ws('', transform(sequence(1, length({word_sql})), "
        f"i -> concat(chr(31), substring({word_sql}, i, 1), chr(30)))), "
        f"concat(chr(31), '{EOW}', chr(30)))"
    )


# Adjacent (l, r) symbol pairs from a bracketed segmentation string: strip
# the outer brackets, split on close||open, pair index i with i+1. The
# size<2 guard matters: a fully-merged word is ONE symbol, and Spark's
# sequence(1, 0) counts DOWN ([1, 0]) rather than returning empty — the
# unguarded transform would index past the array.
_SEG_PAIRS_SQL = (
    "CASE WHEN size(__syms) < 2 "
    "THEN CAST(array() AS array<struct<l:string,r:string>>) "
    "ELSE transform(sequence(1, size(__syms) - 1), i -> named_struct("
    "'l', __syms[i - 1], 'r', __syms[i])) END"
)


def learn_bpe_merges_distributed(
    word_freqs: DataFrame,
    n_merges: int,
) -> "list[tuple[str, str]]":
    """Learn ``n_merges`` BPE merges with the corpus-sized state DISTRIBUTED —
    the 100 TB path :func:`learn_bpe_merges` caps out of.

    The driver loop holds the whole distinct-word table in memory; here the
    segmentation table stays a DataFrame and each iteration is one
    pair-count aggregation (the :func:`bpe_pair_counts` shape: map-side
    partial, shuffle = one row per distinct PAIR) plus a 1-row collect of
    the argmax — driver state is the merge list itself, exactly like the
    classifier's model-dim-bounded GD loop. The merge is applied to every
    segmentation by a map-only ``replace`` on the bracketed-symbol encoding
    (see :func:`_seg_init_sql` for why string replace IS the greedy
    non-overlapping BPE step), and the relation is lazily localCheckpoint-ed
    per iteration so lineage/plan size stays constant across iterations (the
    connected-components convention).

    Determinism matches the driver trainer bit-for-bit: best pair = highest
    summed freq, ties to the lexicographically smallest (l, r) — Spark's
    UTF-8 binary string order equals Python's code-point order. Byte-identity
    of the returned merges (and thus of downstream ``apply_bpe`` tokens) is
    pinned by test on the real corpus.

    Scale: per merge, one shuffle whose cardinality is the distinct-pair
    count (vocab-bounded) over a distinct-word-sized scan. n_merges is
    typically 1e4-1e5; for very large vocabularies batch this by pre-pruning
    rare words — the classic frequency-threshold trick — before training.
    """
    if n_merges <= 0:
        raise ValueError(f"n_merges must be > 0, got {n_merges}")
    # The bracketed-symbol encoding reserves \x1f/\x1e as symbol delimiters;
    # a corpus word embedding either control byte would silently corrupt the
    # encoding and break byte-identity with learn_bpe_merges (which handles
    # such symbols fine as tuple elements). Keep the divergence LOUD: every
    # row asserts the contract before entering the loop.
    # Null-safe: the assert must PASS for NULL words — Catalyst's
    # CombineFilters merges this with the `word != ''` filter into one
    # AND, and NULL-AND-x still evaluates x, so a bare ~rlike(NULL)
    # (= NULL) would raise on a row the filter is about to drop — where
    # the driver trainer skips falsy words (r8 self-review).
    clean = F.assert_true(
        F.col("word").isNull() | ~F.col("word").rlike("[\x1e\x1f]"),
        F.concat(
            F.lit("learn_bpe_merges_distributed: word contains reserved "
                  "control byte \\x1e/\\x1f: "),
            F.col("word"),
        ),
    )
    seg = word_freqs.where(F.col("word") != "").where(clean.isNull()).select(
        F.expr(_seg_init_sql("word")).alias("s"),
        F.col("freq").cast("long").alias("freq"),
    ).localCheckpoint(eager=False)
    merges: list[tuple[str, str]] = []
    open_, close = "\x1f", "\x1e"
    for _ in range(n_merges):
        pairs = (
            seg.select(
                "freq",
                F.split(
                    F.expr("substring(s, 2, length(s) - 2)"), close + open_
                ).alias("__syms"),
            )
            .select("freq", F.explode(F.expr(_SEG_PAIRS_SQL)).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("pair_freq"))
        )
        best = pairs.orderBy(
            F.col("pair_freq").desc(), F.col("l"), F.col("r")
        ).limit(1).collect()
        if not best:
            break
        left, right = best[0]["l"], best[0]["r"]
        merges.append((left, right))
        pat = open_ + left + close + open_ + right + close
        rep = open_ + left + right + close
        seg = seg.select(
            F.replace(F.col("s"), F.lit(pat), F.lit(rep)).alias("s"), "freq"
        ).localCheckpoint(eager=False)
    return merges


def apply_bpe(
    df: DataFrame,
    merges: "list[tuple[str, str]]",
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize text with a learned merge list → (id_col, bpe_tokens
    array<string>, n_bpe_tokens long). mapInPandas; each batch deduplicates
    words so the greedy merge loop runs per DISTINCT word, then rebuilds each
    document from the word→pieces map."""
    import re

    import pandas as pd

    ranks = {tuple(m): i for i, m in enumerate(merges)}
    # Match word_frequencies' tokenizer EXACTLY: Spark's split(lower(trim(x)),
    # '\\s+') uses Java \s = [ \t\n\x0B\f\r] (ASCII only). Python str.split()
    # splits on ALL Unicode whitespace (NBSP, ideographic space, ...), so a
    # text with U+00A0 would produce apply-time words the trainer never saw.
    java_ws = re.compile(r"[ \t\n\x0b\f\r]+")

    def encode_word(word: str) -> "list[str]":
        sym = list(word) + [EOW]
        while len(sym) > 1:
            best_rank, best_i = None, None
            for i in range(len(sym) - 1):
                r = ranks.get((sym[i], sym[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_i = r, i
            if best_i is None:
                break
            sym[best_i:best_i + 2] = [sym[best_i] + sym[best_i + 1]]
        return sym

    def run(batches):
        for pdf in batches:
            texts = pdf[text_col].fillna("")
            cache: dict = {}
            toks_out, counts = [], []
            for t in texts:
                # .strip(" ") not .strip(): Spark's trim removes only the
                # space character, and Python's bare strip() would also eat
                # Unicode whitespace that Spark keeps inside the first word.
                words = [w for w in java_ws.split(str(t).strip(" ").lower()) if w]
                doc: list = []
                for w in words:
                    enc = cache.get(w)
                    if enc is None:
                        enc = encode_word(w)
                        cache[w] = enc
                    doc.extend(enc)
                toks_out.append(doc)
                counts.append(len(doc))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "bpe_tokens": toks_out,
                    "n_bpe_tokens": pd.Series(counts, dtype="int64"),
                }
            )

    from pyspark.sql.types import ArrayType, LongType, StringType, StructField, StructType

    # Keep the caller's id dtype (string UUIDs, ints, ...) instead of
    # hardcoding long.
    out_schema = StructType(
        [
            StructField(id_col, df.schema[id_col].dataType, True),
            StructField("bpe_tokens", ArrayType(StringType()), True),
            StructField("n_bpe_tokens", LongType(), True),
        ]
    )
    return df.select(id_col, text_col).mapInPandas(run, out_schema)
