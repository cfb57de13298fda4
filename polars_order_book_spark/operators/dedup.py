"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

North-star pipeline operators (BASELINE.json) designed Spark-first for 100 TB:

* exact dedup        — one hash-aggregate shuffle on md5(text); map-side
                       partial agg makes it bandwidth-bound, not skew-bound.
* MinHash + LSH      — shingle → 60-bit hashes → per-seed min (partial agg) →
                       band buckets → self-join INSIDE buckets only. The
                       candidate join is the classic LSH trick: |pairs| shrinks
                       from O(N²) to the bucket-collision count, and the band
                       join key is a single md5 string — shuffle-friendly and
                       AQE-skew-splittable.
* SimHash            — 32-bit signature via per-bit majority vote; near-dup
                       candidates = equal signatures (or banded halves).
* n-gram Jaccard     — verification metric for candidate pairs.

Everything is built-in expressions (explode/groupBy/window) — no Python UDFs —
and every step has an exact DuckDB mirror for the oracle (portable md5-derived
hashes from functions.hashing; engine-native hashes are not cross-engine
stable so they are avoided).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from polars_order_book_spark.functions.hashing import hash64
from polars_order_book_spark.operators.text import tokens

DEFAULT_SHINGLE_K = 3
DEFAULT_NUM_HASHES = 16
DEFAULT_BAND_ROWS = 4


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical texts; returns (content_hash, keep_id, n_copies) with
    keep_id = min id per group (deterministic survivor)."""
    h = F.md5(F.col(text_col))
    return (
        df.groupBy(h.alias("content_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
             k: int = DEFAULT_SHINGLE_K) -> DataFrame:
    """Token k-shingles per document: (id, shingle) exploded, duplicates kept.
    1-based element_at matches DuckDB list indexing in the oracle.

    The token array is materialized as a projected column BEFORE the
    higher-order transform: subexpressions inside lambda bodies are not
    CSE'd, so inlining tokens(text) would re-run the regex split per
    element_at — O(len²) per document."""
    from polars_order_book_spark.functions.runtime import fan_out_for_compute

    # parallelism follows scan bytes, not compute: a small compressed text
    # shard is one task, and the shingle lambda chain then runs on one core
    # (functions/runtime.py fan_out_for_compute; no-op on wide inputs)
    base = fan_out_for_compute(
        df.select(F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__toks"))
    )
    return base.select("doc_id", F.explode(_kshingles(F.col("__toks"), k)).alias("shingle"))


def _kshingles(toks: Column, k: int) -> Column:
    """The k-shingle strings of a projected token-array column, in text order
    with duplicates kept (empty when the doc has fewer than k tokens)."""
    idx = F.when(F.size(toks) >= k, F.sequence(F.lit(0), F.size(toks) - k)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(k)]),
    )


MINHASH_PRIME = 2147483647  # 2^31 - 1


def minhash_signatures(sh: DataFrame, num_hashes: int = DEFAULT_NUM_HASHES) -> DataFrame:
    """Wide signature (doc_id, mh_0..mh_{k-1}).

    Each distinct shingle is md5-hashed ONCE; the k permutations are affine
    maps h_s = ((2s+1)·h + 10007·s + 1) mod p over that base hash — the
    classic universal-hash MinHash family. All k minima aggregate in a single
    groupBy (map-side partial agg; shuffle = one row per doc), versus k·|sh|
    rows for an explode-by-seed formulation — a 16x shuffle reduction that
    dominates at scale."""
    hbase = hash64(F.col("shingle")) % MINHASH_PRIME
    # Permutation aggs parse from SQL strings — one py4j call per seed instead
    # of ~8 Column-builder calls each (driver plan-build time, STATUS.md r5).
    aggs = [
        F.expr(
            f"min(({2 * s + 1}L * __hb + {10007 * s + 1}L) % {MINHASH_PRIME}L)"
        ).alias(f"mh_{s}")
        for s in range(num_hashes)
    ]
    # No distinct(): min is invariant under duplicate shingles, so the single
    # groupBy (with map-side partial agg) replaces a distinct+groupBy double
    # shuffle.
    return sh.withColumn("__hb", hbase).groupBy("doc_id").agg(*aggs)


def lsh_band_buckets(sig: DataFrame, band_rows: int = DEFAULT_BAND_ROWS) -> DataFrame:
    """(doc_id, band, band_hash): md5 over each band's minhashes (wide input).

    The signature width must divide into whole bands: silently dropping the
    remainder columns would run fewer hashes than the caller sized their
    (b, r) S-curve for, quietly lowering recall (r8 review) — refuse
    instead."""
    n_sig = len([c for c in sig.columns if c.startswith("mh_")])
    if n_sig % band_rows != 0:
        raise ValueError(
            f"signature width {n_sig} is not divisible by band_rows "
            f"{band_rows}: {n_sig % band_rows} minhash column(s) would be "
            "silently dropped from every bucket, lowering recall below the "
            "(b, r) S-curve — pick num_hashes divisible by band_rows"
        )
    n_bands = n_sig // band_rows
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[F.col(f"mh_{b * band_rows + j}").cast("string") for j in range(band_rows)],
                )
            ).alias("band_hash"),
        )
        for b in range(n_bands)
    ]
    return sig.select(
        "doc_id", F.explode(F.array(*bands)).alias("__b")
    ).select("doc_id", F.col("__b.band").alias("band"), F.col("__b.band_hash").alias("band_hash"))


def lsh_candidate_pairs(buckets: DataFrame, bucket_cap: int | None = None) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing any band bucket. The self-join is
    keyed on (band, band_hash) — only colliding docs meet.

    ``bucket_cap`` salt-splits buckets above that size before the self-join
    (see :func:`functions.skew.salted_pair_join`): a degenerate corpus (every
    doc identical ⇒ one bucket holds everything) otherwise concentrates the
    whole m² pair space in one task, which AQE cannot split mid-key. Results
    are identical either way."""
    if bucket_cap:
        from polars_order_book_spark.functions.skew import salted_pair_join

        return salted_pair_join(
            buckets, ["band", "band_hash"], "doc_id", "doc_a", "doc_b", bucket_cap
        ).distinct()
    a = buckets.select(F.col("band"), F.col("band_hash"), F.col("doc_id").alias("doc_a"))
    b = buckets.select(F.col("band"), F.col("band_hash"), F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, on=["band", "band_hash"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def jaccard_verify(pairs: DataFrame, sh: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Exact shingle-set Jaccard per candidate pair; keeps pairs ≥ threshold.
    Set sizes are tiny per doc, so both joins shuffle on doc ids only."""
    distinct_sh = sh.distinct()
    sizes = distinct_sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    inter = (
        pairs.join(distinct_sh.withColumnRenamed("doc_id", "doc_a"), on="doc_a")
        .join(
            distinct_sh.withColumnRenamed("doc_id", "doc_b"),
            on=["doc_b", "shingle"],  # equi-join on the shingle = set intersection
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n_shingles", "na"), on="doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n_shingles", "nb"), on="doc_b")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double") / (F.col("na") + F.col("nb") - F.col("n_inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_inter", "jaccard")
    )


# Past this many verified pairs the components run distributed: 5M edges is
# about 80 MB of longs on the driver.
_MAX_DRIVER_EDGES = 5_000_000


def neardup_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    *,
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph → survivor
    selection: returns (doc_id, component, is_survivor) where ``component`` is
    the MIN doc id reachable through pair edges and the survivor is the member
    equal to its component id. The step after any pairwise dedup — collapse
    transitive duplicate clusters to one kept document.

    The pair relation is lazily checkpointed, then its size is probed against
    ``_MAX_DRIVER_EDGES``. At or below the cap the pair list is collected and
    union-find runs on the driver — milliseconds, zero iterative Spark jobs;
    above it the components come from :func:`neardup_components_star`
    (``max_iter`` bounds its rounds). The checkpoint lets the probe and the
    collect share one execution of the (expensive) upstream pair pipeline.
    This is the bounded-collect pattern the BLAS top-k and BPE trainer use:
    verified duplicate PAIRS are orders of magnitude smaller than the corpus,
    so most real runs take the driver path, and the cap fails over — never
    over-collects. Both paths give identical output (pinned equal by test).
    """
    cleaned = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .where(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
        .localCheckpoint(eager=False)
    )
    if cleaned.limit(_MAX_DRIVER_EDGES + 1).count() <= _MAX_DRIVER_EDGES:
        return _components_driver_unionfind(cleaned)
    return neardup_components_star(cleaned, "u", "v", max_iter=max_iter)


def _components_driver_unionfind(cleaned: DataFrame) -> DataFrame:
    """Driver union-find over a collected (u, v) pair list — the sub-cap limb
    of :func:`neardup_components`. Same edge semantics as the star variant:
    null endpoints were dropped upstream, self-pairs contribute their node as
    a singleton but no edge. Output contract identical (min-id component,
    survivor = member equal to the component id)."""
    from pyspark.sql.types import BooleanType, StructField, StructType

    rows = cleaned.collect()
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in rows:
        u, v = r[0], r[1]
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo

    node_dt = cleaned.schema[cleaned.columns[0]].dataType
    out_schema = StructType(
        [
            StructField("doc_id", node_dt, True),
            StructField("component", node_dt, True),
            StructField("is_survivor", BooleanType(), True),
        ]
    )
    data = [(n, find(n), n == find(n)) for n in parent]
    return cleaned.sparkSession.createDataFrame(data, out_schema)


def neardup_components_star(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    *,
    max_iter: int = 25,
) -> DataFrame:
    """Connected components via alternating large-star / small-star rounds —
    the MapReduce CC algorithm of Kiveris et al. (SoCC'14, "Connected
    Components in MapReduce and Beyond"). Same output contract as
    ``neardup_components`` (doc_id, component, is_survivor), pinned equal by
    test; :func:`neardup_components` runs it for pair graphs above its
    driver cap.

    Each round rewrites the edge relation itself, so it converges in
    O(log² n) (O(log n) in practice) rounds *independent of diameter* — the
    scale-safe choice when duplicate clusters can be long chains (e.g.
    near-dup drift across crawl snapshots). Raises if the fixpoint is not
    reached within ``max_iter`` rounds.

    - large-star: for each node u, connect every strictly-larger neighbor to
      u's current minimum neighbor (including u).
    - small-star: connect u and its smaller-or-equal neighbors to the
      minimum.

    Each round is two groupBy(node) aggregations over the current edge set —
    shuffles keyed on node id, AQE-skew-splittable; lineage truncated per
    round. Eager (bounded by ``max_iter``) like every iterative fixpoint.
    Converged when the edge relation is a star forest (every edge touches its
    component minimum), detected by the large-star round producing no change.
    """
    # Rows with a null endpoint are malformed and dropped whole; self-pairs
    # contribute their node (as a singleton) but no edge. The cleaned pair
    # relation is checkpointed FIRST: both the edge and node relations read
    # it, and without truncation the (potentially expensive) upstream pair
    # pipeline — e.g. the full MinHash-LSH verify — would execute once per
    # consumer.
    cleaned = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .where(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
        .localCheckpoint(eager=False)
    )
    edges = (
        cleaned.select(
            F.greatest(F.col("u"), F.col("v")).alias("u"),
            F.least(F.col("u"), F.col("v")).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nodes = (
        cleaned.select(F.col("u").alias("node"))
        .unionByName(cleaned.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def _star(e: DataFrame, large: bool) -> DataFrame:
        # Neighborhoods in both directions; Γ⁺(u) includes u itself.
        nbrs = e.select(F.col("u").alias("n"), F.col("v").alias("m")).unionByName(
            e.select(F.col("v").alias("n"), F.col("u").alias("m"))
        )
        nbrs = nbrs.unionByName(nbrs.select(F.col("n"), F.col("n").alias("m")).distinct())
        mins = nbrs.groupBy("n").agg(F.min("m").alias("mn"))
        joined = nbrs.join(mins, on="n")
        if large:
            out = joined.where(F.col("m") > F.col("n")).select(
                F.col("m").alias("u"), F.col("mn").alias("v")
            )
        else:
            out = joined.where(F.col("m") <= F.col("n")).select(
                F.col("m").alias("u"), F.col("mn").alias("v")
            )
        return (
            out.where(F.col("u") != F.col("v"))
            .select(
                F.greatest(F.col("u"), F.col("v")).alias("u"),
                F.least(F.col("u"), F.col("v")).alias("v"),
            )
            .distinct()
        )

    n_old = None  # carried across rounds: one count per round, not two
    for _ in range(max_iter):
        new_edges = _star(_star(edges, large=True), large=False).localCheckpoint(
            eager=False
        )
        if n_old is None:
            n_old = edges.count()
        n_new = new_edges.count()
        # short-circuit: the set-equality check (a union-distinct count) only
        # runs when the cardinalities already match, i.e. near convergence
        unchanged = (
            n_old == n_new
            and new_edges.unionByName(edges).distinct().count() == n_old
        )
        edges = new_edges
        n_old = n_new
        if unchanged:
            # Fixpoint of (large ∘ small) = star forest: every edge links a
            # member to its component minimum. Per-node min is taken for
            # determinism; at the fixpoint each member has exactly one center.
            centers = edges.groupBy("u").agg(F.min("v").alias("label"))
            labels = nodes.join(
                centers.withColumnRenamed("u", "node"), on="node", how="left"
            ).select("node", F.coalesce("label", "node").alias("label"))
            return labels.select(
                F.col("node").alias("doc_id"),
                F.col("label").alias("component"),
                (F.col("node") == F.col("label")).alias("is_survivor"),
            )
    raise RuntimeError(
        f"neardup_components_star did not converge in {max_iter} rounds"
    )


def apply_dedup(
    df: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Materialize the dedup decision: keep every row that is either outside
    any duplicate cluster or its cluster's survivor. One broadcast-or-shuffle
    anti-join of the (small) non-survivor set against the corpus — the final
    step of the near-dup pipeline."""
    losers = components.where(~F.col("is_survivor")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def minhash_lsh_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = DEFAULT_SHINGLE_K,
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_rows: int = DEFAULT_BAND_ROWS,
    threshold: float = 0.5,
    bucket_cap: int | None = 4096,
) -> DataFrame:
    """Full near-dup pipeline: shingle → minhash → LSH bands → Jaccard verify.

    ``bucket_cap`` (default 4096) bounds per-task candidate generation even on
    adversarial corpora; pass None for the unsalted join."""
    sh = shingles(df, text_col, id_col, k)
    sig = minhash_signatures(sh, num_hashes)
    buckets = lsh_band_buckets(sig, band_rows)
    pairs = lsh_candidate_pairs(buckets, bucket_cap)
    return jaccard_verify(pairs, sh, threshold)


def minhash_lsh_incremental_pairs(
    new: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = DEFAULT_SHINGLE_K,
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_rows: int = DEFAULT_BAND_ROWS,
    threshold: float = 0.5,
    bucket_cap: int | None = 4096,
) -> DataFrame:
    """Incremental near-dup check: NEW batch vs EXISTING corpus only.

    The production crawl loop — "is this freshly-scraped document a
    near-duplicate of anything already in the training set?" — must not pay
    for corpus×corpus pairs it already adjudicated. Candidates here come
    from a BIPARTITE band join (new buckets × corpus buckets), so pair
    volume is O(new-side collisions), not O((new+corpus)² collisions);
    within-new and within-corpus pairs are never generated (run the batch
    pipeline on the new slice separately if within-batch dups matter).

    Same signatures/bands/verify as :func:`minhash_lsh_duplicates` — a doc
    pair scores identically whichever entry point meets it (pinned by test).
    ``bucket_cap`` salt-splits hot buckets on BOTH sides
    (:func:`functions.skew.salted_bipartite_join`); a doc id present on both
    sides pairs with itself and is filtered. Returns
    (new_id, corpus_id, n_inter, jaccard) for pairs ≥ threshold.
    """
    sh_new = shingles(new, text_col, id_col, k)
    sh_corpus = shingles(corpus, text_col, id_col, k)
    b_new = lsh_band_buckets(minhash_signatures(sh_new, num_hashes), band_rows)
    b_corpus = lsh_band_buckets(minhash_signatures(sh_corpus, num_hashes), band_rows)
    ln = b_new.select("band", "band_hash", F.col("doc_id").alias("new_id"))
    rc = b_corpus.select("band", "band_hash", F.col("doc_id").alias("corpus_id"))
    if bucket_cap:
        from polars_order_book_spark.functions.skew import salted_bipartite_join

        met = salted_bipartite_join(
            ln, rc, ["band", "band_hash"], "new_id", "corpus_id", bucket_cap
        )
    else:
        met = ln.join(rc, on=["band", "band_hash"])
    cands = (
        met.where(F.col("new_id") != F.col("corpus_id"))
        .select("new_id", "corpus_id")
        .distinct()
    )
    # NOTE: this bipartite verify mirrors jaccard_verify's arithmetic
    # (n_inter / (na + nb - n_inter), >= threshold) but CANNOT call it: a
    # doc id present on BOTH sides with different text would merge its
    # shingle sets in jaccard_verify's single relation. The identical-
    # scoring contract is pinned by
    # tests/test_dedup.py::test_incremental_pair_scores_match_batch_verify
    # — edit BOTH blocks together (r8 review).
    dn = sh_new.distinct()
    dc = sh_corpus.distinct()
    sizes_n = dn.groupBy("doc_id").agg(F.count(F.lit(1)).alias("na"))
    sizes_c = dc.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nb"))
    inter = (
        cands.join(dn.withColumnRenamed("doc_id", "new_id"), on="new_id")
        .join(
            dc.withColumnRenamed("doc_id", "corpus_id"),
            on=["corpus_id", "shingle"],
        )
        .groupBy("new_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes_n.withColumnRenamed("doc_id", "new_id"), on="new_id")
        .join(sizes_c.withColumnRenamed("doc_id", "corpus_id"), on="corpus_id")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", "n_inter", "jaccard")
    )


def simhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                       bits: int = 32) -> DataFrame:
    """Per-doc SimHash: majority vote over token-hash bits, weights = token
    multiplicity. Bit b of md5(token) is extracted with nibble arithmetic
    (no shift operators — keeps the DuckDB oracle expression identical).

    Shape: one row per token occurrence, ONE groupBy(doc_id) computing all
    ``bits`` votes as wide aggregate columns (the same single-agg trick as
    minhash_signatures) — versus exploding bits×|tokens| rows into a
    groupBy(doc, bit), a ``bits``-fold shuffle reduction. The md5 is common-
    subexpression-eliminated across the 32 vote expressions by codegen."""
    tok = df.select(F.col(id_col).alias("doc_id"), F.explode(tokens(F.col(text_col))).alias("tok"))

    # Vote and signature expressions parse from SQL strings — the per-bit
    # Column-builder formulation cost ~0.5 s of driver plan-build per query
    # (measured, STATUS.md r5); the parsed Catalyst trees are identical.
    def bit_sql(b: int) -> str:
        # nibble (b // 4) of md5, little-endian within nibble: (v div 2^(b%4)) % 2
        nib = f"CAST(conv(substring(md5(tok), {b // 4 + 1}, 1), 16, 10) AS INT)"
        return f"CAST(FLOOR({nib} / {2 ** (b % 4)}) AS INT) % 2"

    votes = tok.groupBy("doc_id").agg(
        *[
            F.expr(f"sum(CASE WHEN {bit_sql(b)} = 1 THEN 1 ELSE -1 END)").alias(f"v{b}")
            for b in range(bits)
        ]
    )
    sig = " + ".join(
        f"CASE WHEN v{b} > 0 THEN CAST({2 ** b} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for b in range(bits)
    )
    return votes.select("doc_id", F.expr(sig).alias("simhash"))


def _shingle_arrays(df: DataFrame, text_col: str, id_col: str, k: int,
                    block_col: str | None) -> DataFrame:
    """(doc_id[, __blk], __sh): DISTINCT shingles per doc as ONE array,
    ordered by (hash64, shingle) — a global total order derived in-array (no
    shuffle, no window)."""
    from polars_order_book_spark.functions.runtime import fan_out_for_compute

    cols = [F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__toks")]
    if block_col is not None:
        cols.append(F.col(block_col).alias("__blk"))
    # compute-bound lambda chain over a bytes-narrow scan: provision
    # parallelism by compute (see functions/runtime.py fan_out_for_compute)
    base = fan_out_for_compute(df.select(*cols))
    keyed = F.transform(
        F.array_distinct(_kshingles(F.col("__toks"), k)),
        lambda s: F.struct(hash64(s).alias("h"), s.alias("s")),
    )
    ordered = F.transform(F.array_sort(keyed), lambda x: x["s"])
    out = ["doc_id", "__blk"] if block_col is not None else ["doc_id"]
    return base.withColumn("__sh", ordered).select(*out, "__sh")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = DEFAULT_SHINGLE_K,
    block_col: str | None = None,
    threshold: float = 0.5,
    prefix_group_cap: int | None = 4096,
    candidate_budget: int | None = 10_000_000,
) -> DataFrame:
    """Exact n-gram Jaccard pairs ≥ threshold via PREFIX FILTERING — never
    all-pairs.

    Candidate generation uses the set-similarity-join prefix theorem: order
    every doc's shingles by a global total order (the portable shingle hash,
    ties by value) and keep only the first ``n − ceil(t·n) + 1`` shingles;
    any two sets with J ≥ t MUST share a prefix shingle, so joining on prefix
    shingles alone loses no pairs. A length filter (|A| ≥ t·|B|, necessary
    for J ≥ t) prunes further before exact verification over the full
    shingle sets.

    Physical shape:

    * each doc's shingle set is ONE hash-ordered array column (map-only) —
      no exploded shingle relation, no distinct shuffle, no rank window;
    * only the PREFIX explodes into the candidate join (n − ⌈t·n⌉ + 1 rows
      per doc instead of n);
    * verification is ``array_intersect`` on the two docs' arrays after
      joining the bounded candidate set back — two joins that move one array
      per doc.

    Scale contract: cost is Σ per-prefix-shingle collision group², and the
    prefix keeps each doc's first shingles in hash order, so a shingle
    common to a block only generates candidates from the docs whose prefix
    it falls in — one giant block (e.g. block_col='lang' with one dominant
    language) does not imply a |block|² join. Per-row memory is the doc's
    shingle set (bounded by doc length). ``block_col`` is an optional
    semantic restriction (only intra-block pairs are reported), not the
    scalability mechanism.

    Guards (both on by default — this operator is the BOUNDED-block exact
    path; MinHash-LSH is the unbounded-corpus path):

    * ``candidate_budget`` fail-fast: the candidate join's exact output
      cardinality Σ df(prefix-shingle)² is computed from one extra
      model-sized aggregate and asserted ≤ budget on the rows feeding the
      join — a boilerplate-heavy corpus that saturates the shingle space
      (measured at sf1: 18.5M candidates killed an 8 GiB heap mid-stage
      with no warning, SCALE.md) dies instantly with a message naming
      ``dedup_minhash_lsh`` instead of OOMing. ``None`` disables.
    * ``prefix_group_cap`` salting: prefix-shingle groups above the cap
      salt-split via :func:`functions.skew.salted_pair_join` (triangle
      decomposition — same results, pair meets exactly once), so one hot
      shingle can't concentrate its df² pair space in a single task.
      ``None`` disables (budget check still applies if set).
    """
    # arr feeds the prefix explode, both pair-join sides, the group-size/
    # budget aggregate and both verify-array joins — the map-heavy shingling
    # would re-execute per consumer; compute it once
    arr = _shingle_arrays(df, text_col, id_col, k, block_col).localCheckpoint(
        eager=False
    )
    blk = ["__blk"] if block_col is not None else []
    n_sh = F.size("__sh")

    # ceil(t·n) in float arithmetic can land one ULP above an exact integer
    # product (0.435·1000 = 435.00000000000006 → ceil 436), shortening the
    # prefix below what the theorem requires and silently dropping a boundary
    # pair; nudge down before ceil so exact products stay exact.
    def _ceil_t(n_col):
        return F.ceil(F.lit(threshold) * n_col - F.lit(1e-9))

    prefix_len = (n_sh - _ceil_t(n_sh) + 1).cast("int")
    pref = arr.select(
        *blk,
        F.col("doc_id"),
        n_sh.alias("n_sh"),
        F.explode(F.slice("__sh", 1, prefix_len)).alias("shingle"),
    )
    # length filter: J >= t forces t·|B| <= |A| (and symmetrically)
    lengths_ok = (F.col("na") >= _ceil_t(F.col("nb"))) & (F.col("nb") >= _ceil_t(F.col("na")))
    if prefix_group_cap is not None or candidate_budget is not None:
        from polars_order_book_spark.functions.skew import salted_pair_join

        cands = salted_pair_join(
            pref.select(*blk, "shingle", "doc_id", "n_sh"),
            [*blk, "shingle"],
            "doc_id",
            "doc_a",
            "doc_b",
            # budget-only mode: a cap past any real group size makes the
            # triangle decomposition degenerate to the plain self-join
            prefix_group_cap if prefix_group_cap is not None else 1 << 62,
            payload=[("n_sh", "na", "nb")],
            pair_budget=candidate_budget,
            budget_msg=(
                "ngram_jaccard_pairs: exact prefix-filter join is the "
                "bounded-block path; for unbounded corpora use "
                "MinHash-LSH (dedup_minhash_lsh / "
                "minhash_duplicate_pairs)"
            ),
        ).where(lengths_ok)
    else:
        a = pref.select(*blk, F.col("doc_id").alias("doc_a"), "shingle", F.col("n_sh").alias("na"))
        b = pref.select(*blk, F.col("doc_id").alias("doc_b"), "shingle", F.col("n_sh").alias("nb"))
        cands = a.join(b, on=[*blk, "shingle"]).where(
            (F.col("doc_a") < F.col("doc_b")) & lengths_ok
        )
    cands = cands.select("doc_a", "doc_b").distinct()
    sets = arr.select("doc_id", "__sh")
    return (
        cands.join(sets.select(F.col("doc_id").alias("doc_a"), F.col("__sh").alias("__sa")), on="doc_a")
        .join(sets.select(F.col("doc_id").alias("doc_b"), F.col("__sh").alias("__sb")), on="doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("__sa", "__sb")))
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.size("__sa") + F.size("__sb") - F.col("n_inter")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _fuzzy_segment_candidates(
    rows: DataFrame,
    blocks: "list[str]",
    id_col: str,
    prefix_len: int,
    max_dist: int,
    bucket_cap: int,
    candidate_budget: "int | None",
    budget_msg: str,
) -> DataFrame:
    """PassJoin-style candidate generation for :func:`fuzzy_duplicate_pairs`
    (pigeonhole over ``max_dist + 1`` segments — see the public docstring).

    ``rows``: (id, *blocks, _pfx, _lb). Returns distinct (id_a < id_b)
    candidate pairs satisfying the admission rule (same block, |Δ_lb| ≤ 1),
    a SUPERSET of the true ed ≤ max_dist pairs, verified downstream.

    Three legs, all salted + budget-guarded:

    * full × full (both prefixes exactly ``prefix_len`` chars): index side
      explodes each prefix's τ+1 segments as (slot, text); probe side
      explodes every substring of its own prefix within ±τ of each slot's
      home position (the untouched segment's maximal shift = net indels
      before it ≤ τ); equi-join on (*blocks, slot, segment-text). Join-key
      cardinality grows with corpus CONTENT, not with a fixed bucket grid.
    * short × any same-bucket / adjacent-bucket: rows with prefixes shorter
      than ``prefix_len`` (short docs) pair through the length-bucket
      joins restricted to the short side — this population cannot saturate
      the way full-length buckets do (every doc ≥ prefix_len chars lands
      in the full class).
    """
    if prefix_len <= max_dist:
        raise ValueError(
            f"segments strategy needs prefix_len ({prefix_len}) > max_dist "
            f"({max_dist}) — shorter prefixes leave zero-length segments"
        )
    from polars_order_book_spark.functions.skew import salted_bipartite_join

    nseg = max_dist + 1
    base, rem = divmod(prefix_len, nseg)
    seg_bounds = []  # (slot, start0, length)
    pos = 0
    for i in range(nseg):
        ln = base + 1 if i < rem else base
        seg_bounds.append((i, pos, ln))
        pos += ln
    # Shift window for the full × full leg: both prefixes are EXACTLY
    # prefix_len chars, so an edit script with t insertions has exactly t
    # deletions; the untouched segment's shift is the net indels before it,
    # bounded by min(#ins, #del) = t <= floor(max_dist / 2). Half the probe
    # windows of the naive +/-max_dist bound, same exhaustiveness.
    max_shift = max_dist // 2
    probe_bounds = []  # (slot, start0, length) — shifted windows, clamped
    for i, start, ln in seg_bounds:
        for shift in range(-max_shift, max_shift + 1):
            ps = start + shift
            if 0 <= ps <= prefix_len - ln:
                probe_bounds.append((i, ps, ln))

    plen = F.length(F.col("_pfx"))
    full = rows.where(plen == prefix_len)
    shorts = rows.where(plen < prefix_len)

    def explode_windows(rel, bounds, ident):
        wins = F.array(*[
            F.struct(
                F.lit(i).alias("__slot"),
                F.substring(F.col("_pfx"), s + 1, ln).alias("__seg"),
            )
            for i, s, ln in bounds
        ])
        return rel.select(
            *blocks,
            F.col(id_col).alias(ident),
            F.col("_lb").alias(f"_lb_{ident}"),
            F.explode(wins).alias("__w"),
        ).select(
            *blocks, ident, f"_lb_{ident}", "__w.__slot", "__w.__seg"
        ).distinct()  # a probe window can repeat text across shifts

    idx = explode_windows(full, seg_bounds, "id_b")
    probes = explode_windows(full, probe_bounds, "id_a")
    full_pairs = (
        salted_bipartite_join(
            probes, idx, [*blocks, "__slot", "__seg"], "id_a", "id_b",
            bucket_cap,
            pair_budget=candidate_budget, budget_msg=budget_msg,
        )
        .where(F.col("id_a") != F.col("id_b"))
        .where(F.abs(F.col("_lb_id_a") - F.col("_lb_id_b")) <= 1)
        .select(F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"))
    )

    # short-side legs: (short × any) within same/adjacent length buckets.
    # Three bipartite joins so each unordered pair meets at least once
    # regardless of which side is short or which bucket is lower.
    s_side = shorts.select(
        *blocks, F.col("_lb").alias("_blk"), F.col(id_col).alias("id_a")
    )
    s_up = shorts.select(
        *blocks, (F.col("_lb") + 1).alias("_blk"), F.col(id_col).alias("id_a")
    )
    all_side = rows.select(
        *blocks, F.col("_lb").alias("_blk"), F.col(id_col).alias("id_b")
    )
    all_up = rows.select(
        *blocks, (F.col("_lb") + 1).alias("_blk"), F.col(id_col).alias("id_b")
    )
    short_legs = []
    for left, right in ((s_side, all_side), (s_up, all_side), (s_side, all_up)):
        short_legs.append(
            salted_bipartite_join(
                left, right, [*blocks, "_blk"], "id_a", "id_b", bucket_cap,
                pair_budget=candidate_budget, budget_msg=budget_msg,
            )
            .where(F.col("id_a") != F.col("id_b"))
            .select(F.least("id_a", "id_b").alias("id_a"),
                    F.greatest("id_a", "id_b").alias("id_b"))
        )
    cand = full_pairs
    for leg in short_legs:
        cand = cand.unionByName(leg)
    return cand.distinct()


def fuzzy_duplicate_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: "list[str] | None" = None,
    length_block: int = 64,
    prefix_len: int = 64,
    max_dist: int = 10,
    bucket_cap: int = 2000,
    candidate_budget: "int | None" = 10_000_000,
    candidate_strategy: str = "buckets",
) -> DataFrame:
    """Near-duplicate pairs by EDIT DISTANCE on normalized text prefixes,
    with blocking — the record-linkage flavor of dedup (catches small
    insertions/typos that shingle-Jaccard dilutes and exact-hash misses).

    Candidate generation is blocked, never all-pairs: two rows compare only
    if they agree on ``block_cols`` (default: none) AND their byte lengths
    fall in the same ``length_block`` bucket OR adjacent buckets — a true
    near-dup within ``max_dist`` edits can differ in length by at most
    ``max_dist``, so comparing bucket b against {b, b+1} (via a second
    join, not an inequality join) is exhaustive for length_block >=
    max_dist while keeping the join a pure equi-join. Within oversized
    blocks the self-join goes through ``salted_pair_join`` (triangle
    salting caps per-task pair work at ~bucket_cap²).

    The bucket-b-vs-b+1 candidate join is salt-split the same way
    (``salted_probe_join``), so boundary-straddling hot bucket pairs are
    also bounded by ~bucket_cap per task.

    Verification is ``levenshtein(prefix_a, prefix_b)`` on the first
    ``prefix_len`` chars of lower(trim(text)) — banded by Spark's threshold
    variant JVM-side; O(prefix_len * max_dist) per pair, independent of
    document size. Emits (id_a < id_b, dist). Compose with
    ``neardup_components`` + ``apply_dedup`` for survivors, exactly like
    the LSH pipeline.

    ``candidate_budget`` (r8 scale check): the (block, length-bucket) key
    space does NOT grow with the corpus, so candidate pairs grow
    quadratically once blocks saturate — measured 55.8× wall at 10× data
    on the saturated synthetic corpus. Both candidate joins carry the
    budget as an exact Σ-product fail-fast (same machinery as
    ``ngram_jaccard_pairs``). The budget is enforced PER JOIN, not on the
    union: the buckets strategy runs 2 candidate joins (same-bucket,
    adjacent-bucket) and the segments strategy 4 (full×full plus the three
    short-side bucket legs), so total admitted candidate work can reach
    ~2× / ~4× the nominal budget before any guard fires — size the budget
    as a per-join executor-memory ceiling, not a total-work cap. Past
    bounded blocks, use
    ``lsh_candidate_pairs``/``minhash`` (``dedup_minhash_lsh``, measured
    2.08× at 10×), add higher-selectivity ``block_cols``, or switch to
    ``candidate_strategy="segments"`` (below); raise the budget only with
    executor memory to match.

    ``candidate_strategy="segments"`` — the EXACT scale path (PassJoin-
    style pigeonhole, Li/Deng/Feng VLDB'11 §3): partition each full
    prefix into ``max_dist + 1`` segments; ≤ max_dist edits can touch at
    most max_dist of them, so some segment survives UNTOUCHED in the other
    prefix, shifted by at most max_dist positions (the net indels before
    it). Candidates = an equi-join of each row's (slot, segment) index
    against each row's enumerated (slot, substring-at-shifted-window)
    probes — selectivity comes from exact segment CONTENT. Measured on a
    deterministic open-vocabulary (Heaps-law) corpus
    (tools/openvocab_check.py, BENCH_LOCAL_openvocab.json, r9): the
    content-keyed advantage is REAL but conditional on segment length
    ``prefix_len/(max_dist+1)``. At max_dist=3 (16-char segments) the
    strategy scales 1.51× on 10× data finding exactly the planted pairs,
    while length-bucket blocking at the SAME tau fails its budget at 474M
    candidates. At the default max_dist=10 the ~6-char segments are
    dominated by any natural corpus's FIXED common-word core, so
    candidates still grow quadratically (57M at 10×, ~8× fewer than
    buckets but past the budget) — the fail-fast stays the binding guard.
    Rows with prefixes shorter than ``prefix_len`` (short docs)
    still pair through length-sub-bucketed joins restricted to the short
    side — a population that cannot saturate the way full-length blocks
    do. Output is IDENTICAL to the buckets strategy (same admission rule:
    same block, |length-bucket Δ| ≤ 1, levenshtein(prefix) ≤ max_dist) —
    pinned by test; the same ``candidate_budget`` fail-fast rides on every
    join.
    """
    if length_block < max_dist:
        raise ValueError(
            f"length_block ({length_block}) must be >= max_dist ({max_dist}) "
            "or adjacent-bucket blocking misses true pairs"
        )
    if candidate_strategy not in ("buckets", "segments"):
        raise ValueError(
            f"candidate_strategy must be 'buckets' or 'segments', got "
            f"{candidate_strategy!r}"
        )
    blocks = list(block_cols or [])
    norm = F.lower(F.trim(F.col(text_col)))
    rows = df.select(
        F.col(id_col),
        *blocks,
        F.substring(norm, 1, prefix_len).alias("_pfx"),
        (F.length(norm) / F.lit(length_block)).cast("long").alias("_lb"),
    )

    from polars_order_book_spark.functions.skew import (
        salted_bipartite_join,
        salted_pair_join,
    )

    budget_msg = (
        "fuzzy_duplicate_pairs: exact edit-distance blocking saturated — "
        "use dedup_minhash_lsh (lsh_candidate_pairs) past bounded blocks, "
        "candidate_strategy='segments', higher-selectivity block_cols, or "
        "raise candidate_budget"
    )

    if candidate_strategy == "segments":
        cand = _fuzzy_segment_candidates(
            rows, blocks, id_col, prefix_len, max_dist,
            bucket_cap, candidate_budget, budget_msg,
        )
    else:
        def pairs_on(key_expr):
            keyed = rows.withColumn("_blk", key_expr)
            p = salted_pair_join(
                keyed, [*blocks, "_blk"], id_col, "id_a", "id_b", bucket_cap,
                pair_budget=candidate_budget, budget_msg=budget_msg,
            )
            return p

        same = pairs_on(F.col("_lb"))
        # bucket b vs b+1: shift the LEFT copy's bucket up; the pair meets
        # once. This A-vs-B join goes through salted_bipartite_join — BOTH
        # sides are salt-split, so the hot bucket of a boundary-straddling
        # pair (fixed-template boilerplate at lengths L and L+length_block)
        # is bounded whether it sits below or above the boundary; build-
        # side-only salting (salted_probe_join) would miss a hot upper
        # bucket.
        below = rows.withColumn("_blk", F.col("_lb") + 1).select(
            *blocks, "_blk", F.col(id_col).alias("id_a")
        )
        above = rows.withColumn("_blk", F.col("_lb")).select(
            *blocks, "_blk", F.col(id_col).alias("id_b")
        )
        adjacent = (
            salted_bipartite_join(
                below, above, [*blocks, "_blk"], "id_a", "id_b", bucket_cap,
                pair_budget=candidate_budget, budget_msg=budget_msg,
            )
            .where(F.col("id_a") != F.col("id_b"))
            .select(F.least("id_a", "id_b").alias("id_a"),
                    F.greatest("id_a", "id_b").alias("id_b"))
        )
        cand = same.select("id_a", "id_b").unionByName(adjacent).distinct()

    pfx = rows.select(F.col(id_col), F.col("_pfx"))
    joined = (
        cand.join(pfx.select(F.col(id_col).alias("id_a"), F.col("_pfx").alias("_pa")),
                  on="id_a")
        .join(pfx.select(F.col(id_col).alias("id_b"), F.col("_pfx").alias("_pb")),
              on="id_b")
    )
    dist = F.levenshtein(F.col("_pa"), F.col("_pb"), max_dist)
    return (
        joined.withColumn("dist", dist)
        .where(F.col("dist") >= 0)
        .select("id_a", "id_b", F.col("dist").cast("long"))
    )


def banding_recall_eval(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    sample_filter: Column | None = None,
    k: int = DEFAULT_SHINGLE_K,
    num_hashes: int = DEFAULT_NUM_HASHES,
    band_rows: int = DEFAULT_BAND_ROWS,
    threshold: float = 0.5,
    bucket_cap: int | None = 4096,
) -> DataFrame:
    """Measure the MinHash banding scheme's RECALL against exact ground
    truth on a document sample — the ann_recall_* pattern for dedup ("is
    (16 hashes, 4-row bands) actually catching 0.5-Jaccard pairs on MY
    corpus?", answered with data before a 100 TB run; the (b, r) banding
    S-curve says ~1-(1-t^r)^b but the tokenization and shingle distribution
    shift it in practice).

    Ground truth: every pair with one endpoint in the sample and exact
    shingle-Jaccard ≥ threshold, found via the shared-shingle equi-join
    (a pair with Jaccard > 0 must share a shingle — never all-pairs; the
    sample side is tiny so the join replicates only sample shingles).
    Predicted: the full LSH pipeline restricted to sample-touching pairs —
    its verify stage already enforces ≥ threshold, so precision is 1.0 by
    construction and the one number that can degrade is recall (a true pair
    whose signatures never collide in any band).

    Returns ONE row: (n_true, n_caught, recall_micro) — recall_micro NULL
    when the sample holds no true pairs. Integer counts; the ratio is the
    only float, quantized to micros.
    """
    if sample_filter is None:
        sample_filter = F.col(id_col) < 50
    sh = shingles(df, text_col, id_col, k)
    dsh = sh.distinct()
    ssh = dsh.join(
        df.where(sample_filter).select(F.col(id_col).alias("doc_id")), "doc_id"
    )
    pairs0 = (
        ssh.select(F.col("doc_id").alias("_s"), "shingle")
        .join(dsh.select(F.col("doc_id").alias("_o"), "shingle"), "shingle")
        .where(F.col("_s") != F.col("_o"))
        .select(
            F.least("_s", "_o").alias("doc_a"), F.greatest("_s", "_o").alias("doc_b")
        )
        .distinct()
    )
    truth = jaccard_verify(pairs0, sh, threshold).select("doc_a", "doc_b")
    pred = (
        minhash_lsh_duplicates(
            df,
            text_col,
            id_col,
            k=k,
            num_hashes=num_hashes,
            band_rows=band_rows,
            threshold=threshold,
            bucket_cap=bucket_cap,
        )
        .select("doc_a", "doc_b")
        .withColumn("_hit", F.lit(1))
    )
    scored = truth.join(pred, ["doc_a", "doc_b"], "left")
    return scored.agg(
        F.count(F.lit(1)).alias("n_true"),
        F.count("_hit").alias("n_caught"),
        F.when(
            F.count(F.lit(1)) > 0,
            F.floor(
                F.count("_hit").cast("double")
                / F.count(F.lit(1)).cast("double")
                * 1_000_000
                + F.lit(0.5)
            ).cast("long"),
        ).alias("recall_micro"),
    )


def leakage_safe_split(
    df: DataFrame,
    components: DataFrame,
    weights: "list[float]",
    names: "list[str] | None" = None,
    *,
    id_col: str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Train/val/test labels that can never leak near-duplicates across the
    eval wall: the split key is the document's duplicate-COMPONENT id (its
    own id when un-duplicated), so an entire near-dup cluster lands in one
    split. Splitting by raw doc id — what naive pipelines do — puts two
    90%-identical documents on opposite sides of the wall and inflates eval.

    ``components`` is any (doc_id, component) relation (neardup_components
    output). One left equi-join (the components relation is dedup-pair-sized,
    tiny vs the corpus — broadcastable) + the split_assign map — no shuffle
    of the corpus beyond the join. Adds ``group_id`` and ``split``.
    """
    from polars_order_book_spark.operators.sampling import split_assign

    base = df.join(
        F.broadcast(
            components.select(
                F.col("doc_id").alias(id_col), F.col("component").alias("_comp")
            )
        ),
        id_col,
        "left",
    ).withColumn(
        # STRING group key, not cast('long') (r8 review): a corpus with
        # non-numeric ids would cast to NULL for every row, hash NULL, and
        # emit a corpus-wide NULL split. split_assign hashes the key's
        # string form anyway, so the string coalesce is the portable one.
        "group_id",
        F.coalesce(F.col("_comp").cast("string"), F.col(id_col).cast("string")),
    )
    return split_assign(base, "group_id", weights, names, salt=salt).drop("_comp")
