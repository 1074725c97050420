"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Scale design (the whole point of these operators is the 100 TB case):

- **Exact** dedup prefixes the grouping key with ``xxhash64(content)``
  so the shuffle *comparator* works on 8 bytes and content bytes only
  break ties (collision safety). Content still travels once — any
  exact dedup must move it — but never gets re-compared in full except
  inside a hash bucket.
- **Candidate generation never does O(n²)**: near-dup operators explode
  per-document signatures (shingles / MinHash bands / SimHash chunks)
  and self-join on the signature — cost is Σ bucket², controlled by a
  ``max_signature_freq`` cap that drops degenerate hot buckets (a
  standard LSH trick; a shingle appearing in 10⁶ documents carries no
  discriminative signal but would create a 10¹²-pair bucket).
- **Exact verification after candidates**: MinHash/SimHash candidates
  are verified with the exact n-gram Jaccard before being reported, so
  the *output* contract is exact (and oracle-checkable) while the
  *search* is sub-quadratic.
- **Shared subtrees are persisted**: each near-dup operator references
  its tokenized/signed frame from 2-3 places in one plan (candidate
  generation, both sides of the verify join). Without a cache the
  shingle lambdas — the dominant cost — re-run once per reference, so
  the frames are ``persist()``-ed (MEMORY_AND_DISK) for the query's
  lifetime. They are bounded by corpus-token size and LRU-evicted;
  callers running many dedup queries in one session can
  ``spark.catalog.clearCache()`` between them.

All expressions are native Spark SQL lambdas (whole-stage codegen);
MinHash uses a universal hash family ``(a·h + b) mod p`` over 31-bit
primes so products stay inside int64 under ANSI overflow checking.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prioritizing_event_processing_with_apache_kafka_spark.operators.caching import (
    scoped_persist,
)

__all__ = [
    "SIGNATURE_STORE_VERSION",
    "with_shingles",
    "exact_dedup",
    "remove_duplicate_spans",
    "span_frequencies",
    "contamination_pairs",
    "bloom_contamination_pairs",
    "edit_distance_pairs",
    "ngram_jaccard_pairs",
    "source_overlap_matrix",
    "ngram_containment_pairs",
    "prefix_filter_jaccard_pairs",
    "token_multiset_jaccard",
    "with_minhash_signature",
    "incremental_minhash_pairs",
    "incremental_minhash_with_store",
    "minhash_lsh_pairs",
    "oph_minhash_pairs",
    "with_simhash",
    "simhash_pairs",
]

MINHASH_PRIME = 2_147_483_647  # 2^31 - 1 (Mersenne); keeps a*h+b in int64

# Version of the persisted-signature hash basis. Signatures only match
# across runs when both sides were produced by the same basis; a store
# signed under an older basis band-matches NOTHING and would silently
# admit every near-duplicate of history. v3 = component-wise
# xxhash64(w1..wk) shingle hashes (v2 was xxhash64 of the space-joined
# shingle string). Ingest stamps this into a ``sig_version`` column;
# :func:`incremental_minhash_pairs` fails fast on a mismatch.
SIGNATURE_STORE_VERSION = 3


def with_shingles(
    df: DataFrame,
    *,
    text_col: str = "text",
    k: int = 4,
    out_col: str = "shingles",
    keep_tokens: str | None = None,
) -> DataFrame:
    """Distinct k-token shingles per document (the near-dup alphabet).

    ``keep_tokens`` — also expose the split token array under this
    column name instead of dropping it, so a pipeline that later needs
    the tokens again (e.g. :func:`with_minhash_signature` via its
    ``tokens_col`` hook) pays the split once.

    Formulated as a zip of k shifted views of the token array rather
    than the obvious ``transform(sequence(...), i -> slice(tokens, i, k))``:
    the slice-per-position lambda re-evaluates ``split`` and copies a
    k-slice for every position — O(tokens²) per document and measured
    ~4× slower at sf0.1. Here ``split`` runs once per row (the tokens
    live in a real column, so CollapseProject won't duplicate the
    non-cheap expression across the k references), each shifted view is
    one O(tokens) slice, and the per-position work is a constant-width
    struct concat. Short documents match the old semantics exactly:
    positions past the end zip as NULLs, which ``concat_ws`` skips.
    """
    toks = "__peps_toks"
    parts = [
        f"slice({toks}, {i + 1}, greatest(size({toks}) - {i}, 0))" for i in range(k)
    ]
    zipped = f"arrays_zip({', '.join(parts)})"
    fields = ", ".join(f"s.`{i}`" for i in range(k))
    shingle_expr = (
        f"array_distinct(transform(slice({zipped}, 1, greatest(size({toks}) - {k - 1}, 1)), "
        f"s -> concat_ws(' ', {fields})))"
    )
    out = df.withColumn(toks, F.split(F.col(text_col), " ")).withColumn(
        out_col, F.expr(shingle_expr)
    )
    if keep_tokens is None:
        return out.drop(toks)
    return out.withColumnRenamed(toks, keep_tokens) if keep_tokens != toks else out


def _shingle_hash_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    tokens_col: str | None = None,
) -> DataFrame:
    """Occurrence-level ``(id, __h)`` k-token shingle hashes with NO
    string shingles materialized.

    The probabilistic near-dup operators only ever consume shingle
    *hashes* (MinHash mins, OPH bin mins, LSH candidates), so building
    ``concat_ws`` strings and ``array_distinct``-ing them first — the
    dominant cost of :func:`with_shingles` — is pure overhead on those
    paths. Here each window of the zipped k token slices is hashed
    component-wise (``xxhash64(w1 .. wk)``), which distinguishes token
    boundaries at least as well as the space-joined string. Min/set
    aggregates downstream are idempotent over duplicate occurrences, so
    no distinct pass is needed. Short documents (< k tokens) hash their
    single NULL-padded window — NULL components are skipped by
    ``xxhash64``, mirroring how ``concat_ws`` skips them on the string
    path. Measured 1.6× faster end-to-end on the OPH operator at sf0.1
    with an identical output pair set.

    ``tokens_col`` — name of an existing token-array column (e.g. from
    :func:`with_shingles`'s ``keep_tokens``) to window instead of
    re-splitting ``text_col``; the split then runs once per pipeline.
    """
    if tokens_col is not None:
        toks = tokens_col
        base = df
    else:
        toks = "__peps_toks"
        base = df.withColumn(toks, F.split(F.col(text_col), " "))
    parts = [
        f"slice({toks}, {i + 1}, greatest(size({toks}) - {i}, 0))" for i in range(k)
    ]
    zipped = f"arrays_zip({', '.join(parts)})"
    fields = ", ".join(f"__z.`{i}`" for i in range(k))
    return base.select(
        id_col,
        F.explode(
            F.expr(f"slice({zipped}, 1, greatest(size({toks}) - {k - 1}, 1))")
        ).alias("__z"),
    ).select(id_col, F.expr(f"xxhash64({fields})").alias("__h"))


def _hash_sets(pos_hashes: DataFrame, id_col: str, out_col: str) -> DataFrame:
    """(id, distinct shingle-hash array) from occurrence-level rows."""
    return pos_hashes.groupBy(id_col).agg(F.collect_set("__h").alias(out_col))


def _verify_jaccard_hashed(
    candidates: DataFrame, hash_sets: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact Jaccard over distinct shingle-HASH sets for candidate
    pairs. Set cardinalities (and therefore the reported Jaccard) equal
    the string-shingle values unless two distinct shingles of one pair
    collide in 64 bits (~1e-15 per pair at typical document sizes) —
    the same negligible-collision contract ``exact_dedup`` already
    makes for its hash-prefixed grouping key."""
    sets_x = hash_sets.select(F.col(id_col).alias("x"), F.col("__hs").alias("__sx"))
    sets_y = hash_sets.select(F.col(id_col).alias("y"), F.col("__hs").alias("__sy"))
    inter = F.size(F.array_intersect(F.col("__sx"), F.col("__sy")))
    union = F.size("__sx") + F.size("__sy") - inter
    return (
        candidates.join(sets_x, "x")
        .join(sets_y, "y")
        .withColumn("jaccard", inter.cast("double") / union.cast("double"))
        .filter(F.col("jaccard") >= threshold)
        .select("x", "y", "jaccard")
    )


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Canonical-representative exact dedup.

    Groups by ``xxhash64(content)`` *and* content — the hash prefix
    makes grouping comparisons effectively 8-byte, while content in the
    key guards against hash collisions. Keeps the smallest id. Returns
    (kept id, n_copies).
    """
    return (
        df.select(
            F.xxhash64(F.col(content_col)).alias("__h"),
            F.col(content_col).alias("__c"),
            F.col(id_col),
        )
        .groupBy("__h", "__c")
        .agg(
            F.min(id_col).alias(f"{id_col}_keep"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(f"{id_col}_keep", "n_copies")
    )


def _span_rows(
    df: DataFrame, id_col: str, text_col: str, span_tokens: int
) -> DataFrame:
    """(id, __pos, __span) — disjoint consecutive token spans."""
    toks = "__peps_toks"
    spans = (
        f"transform(sequence(0, cast(ceil(size({toks}) / {span_tokens}.0) AS INT) - 1), "
        f"i -> concat_ws(' ', slice({toks}, i * {span_tokens} + 1, {span_tokens})))"
    )
    return df.withColumn(toks, F.split(F.col(text_col), " ")).select(
        id_col, F.posexplode(F.expr(spans)).alias("__pos", "__span")
    )


def span_frequencies(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 10,
) -> DataFrame:
    """Corpus-wide span frequency table: ``(span, n_docs, n_occurrences)``
    per distinct ``span_tokens``-token span — the boilerplate report
    behind :func:`remove_duplicate_spans` (one map-side-combinable
    aggregation; the natural input to a "what IS the boilerplate"
    audit before choosing a removal threshold)."""
    sp = _span_rows(df, id_col, text_col, span_tokens)
    return sp.groupBy(F.col("__span").alias("span")).agg(
        F.countDistinct(id_col).alias("n_docs"),
        F.count(F.lit(1)).alias("n_occurrences"),
    )


def remove_duplicate_spans(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 10,
    max_docs: int = 1,
) -> DataFrame:
    """Corpus-level duplicate-span removal (the C4/RefinedWeb move:
    drop boilerplate text that repeats *across* documents, keeping the
    documents themselves).

    Each document is cut into consecutive ``span_tokens``-token spans
    (the tail span may be shorter). A span seen in more than
    ``max_docs`` distinct documents is removed from every document; the
    survivors are stitched back in their original order.

    Scale shape: spans are disjoint, so the explode is O(tokens) rows —
    not the O(tokens·k) of shingling. The span-frequency count is a
    map-side-combinable aggregation (partial counts collapse before the
    shuffle); the frequency table then joins back onto the span stream
    (AQE broadcasts it while it fits, sort-merge beyond that — the same
    join either way, no plan change needed at 100 TB) and the reproject
    groups by document id. Nothing is collected to the driver and no
    step is sensitive to how many spans turn out to be duplicated.

    Returns ``(id_col, clean_text, n_spans, n_removed)`` — one row per
    input document; a fully-boilerplate document survives with an empty
    ``clean_text`` rather than disappearing.
    """
    # persisted: sp feeds the frequency aggregate AND the keep-join
    sp = scoped_persist(_span_rows(df, id_col, text_col, span_tokens))
    freq = sp.groupBy("__span").agg(
        F.countDistinct(id_col).alias("__n_docs")
    )
    kept = (
        sp.join(freq, "__span")
        .withColumn("__keep", F.col("__n_docs") <= F.lit(max_docs))
        .groupBy(id_col)
        .agg(
            F.concat_ws(
                " ",
                F.expr(
                    "transform(sort_array(collect_list(CASE WHEN __keep THEN "
                    "struct(__pos, __span) END)), s -> s.__span)"
                ),
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("__keep"), 0).otherwise(1)).alias("n_removed"),
        )
    )
    return kept.select(id_col, "clean_text", "n_spans", "n_removed")


def edit_distance_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    max_distance: int = 50,
    max_signature_freq: int | None = None,
) -> DataFrame:
    """Near-dup pairs by absolute Levenshtein distance, shingle-blocked.

    Candidates come from the same shared-k-shingle equi-join the other
    near-dup operators use (never all-pairs); each candidate is then
    scored with the *banded* ``levenshtein(l, r, threshold)`` — Spark
    prunes the DP to the ±threshold diagonal, so the per-pair cost is
    O(len·threshold) rather than O(len²).

    Blocking recall: a pair at edit distance ``d`` shares a k-token
    shingle unless the edits scatter across every k-run — impossible
    while the token-level edit count is below ``tokens/k``, which any
    near-duplicate is far under. Precision is exact: reported distances
    are true distances ≤ ``max_distance``.

    Before the DP runs, candidates with ``|len(x) - len(y)| >
    max_distance`` are dropped: the length difference is a lower bound
    on edit distance (each unmatched character costs ≥1 edit), so the
    prefilter is lossless — it only skips pairs the banded DP would
    reject anyway, at the cost of two ``length()`` calls instead of an
    O(len·threshold) table fill.
    """
    # String-free blocking: candidates come from shared shingle HASHES
    # (a 64-bit collision can only ADD a candidate, which the exact DP
    # then rejects — recall is unaffected). The distinct() is
    # unconditional: the self-join must see each (doc, shingle) ONCE —
    # occurrence-level rows would square within-document repetition
    # (a boilerplate line repeated r times in two docs makes r² join
    # rows per pair before the candidate distinct), breaking the
    # Σ bucket² cost contract on exactly the repetitive inputs dedup
    # targets — and it also keeps the ``max_signature_freq`` cap
    # counting documents-per-shingle, not occurrences. Persisted
    # because the candidate self-join scans the frame from both sides.
    ph = _shingle_hash_rows(df, id_col, text_col, k).select(
        id_col, F.col("__h").alias("__sig")
    )
    exploded = scoped_persist(ph.distinct())
    cands = _candidate_pairs(exploded, id_col, ["__sig"], max_signature_freq)
    # AQE sizes reducers by BYTES, but a candidate row is ~16 bytes
    # while each one costs an O(len·threshold) DP after the text joins
    # land in the same stage — so AQE's coalescing collapses the whole
    # scoring pass onto one core (measured: a 1.3 s single-task final
    # stage at sf0.1). Spread the candidates round-robin at scheduler
    # width before the joins: REPARTITION_BY_NUM is exempt from AQE
    # coalescing (a hash(x, y) repartition would be elided outright as
    # redundant with the distinct's partitioning), and round-robin also
    # levels hot-document skew in the pair list. At scale the candidate
    # volume occupies that many reducers anyway, so this only forbids
    # the pathological collapse.
    cands = cands.repartition(df.sparkSession.sparkContext.defaultParallelism)
    tx = df.select(F.col(id_col).alias("x"), F.col(text_col).alias("__tx"))
    ty = df.select(F.col(id_col).alias("y"), F.col(text_col).alias("__ty"))
    dist = F.levenshtein(F.col("__tx"), F.col("__ty"), threshold=max_distance)
    return (
        cands.join(tx, "x")
        .join(ty, "y")
        .filter(
            F.abs(F.length("__tx") - F.length("__ty")) <= F.lit(max_distance)
        )
        .withColumn("edit_distance", dist)
        .filter((F.col("edit_distance") >= 0) & (F.col("edit_distance") <= max_distance))
        .select("x", "y", "edit_distance")
    )


def contamination_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_id_col: str = "bench_id",
    k: int = 4,
    threshold: float = 0.5,
    corpus_shingled: DataFrame | None = None,
) -> DataFrame:
    """Train/test decontamination: corpus documents whose k-shingle
    *containment* against some benchmark document reaches ``threshold``.

    Containment |S_doc ∩ S_bench| / |S_doc| is directional on purpose —
    the question is "does this training document carry the benchmark
    text", not symmetric similarity, so a long document that embeds a
    whole benchmark item still scores on the benchmark's shingles it
    contains relative to its own size.

    Scale shape: the benchmark side (exploded to distinct shingles) is
    **broadcast** — eval/benchmark sets are small by nature — so the
    100 TB corpus is scanned once, never shuffled; the only aggregation
    keys are (doc, bench) pairs that actually share a shingle.

    Returns ``(id_col, bench_id_col, n_shared, containment)`` for pairs
    at or above the threshold.

    ``corpus_shingled`` lets a pipeline that already shingled the corpus
    (same ``k``/``text_col``, ``out_col="__sh"``) pass that frame in so
    tokenization isn't repeated; the caller owns its persistence.
    """
    c = (
        corpus_shingled
        if corpus_shingled is not None
        else with_shingles(corpus, text_col=text_col, k=k, out_col="__sh")
    )
    b = with_shingles(benchmark, text_col=text_col, k=k, out_col="__sh")
    c_ex = c.select(
        F.col(id_col), F.size("__sh").alias("__n_doc"), F.explode("__sh").alias("__s")
    )
    b_ex = b.select(
        F.col(bench_id_col), F.explode("__sh").alias("__s")
    )
    return (
        c_ex.join(F.broadcast(b_ex), "__s")
        .groupBy(id_col, bench_id_col, "__n_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .withColumn(
            "containment",
            F.round(F.col("n_shared").cast("double") / F.col("__n_doc"), 6),
        )
        .filter(F.col("containment") >= threshold)
        .drop("__n_doc")
    )


def bloom_contamination_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_id_col: str = "bench_id",
    k: int = 4,
    threshold: float = 0.5,
    bits_per_item: int = 16,
) -> DataFrame:
    """:func:`contamination_pairs` with a Bloom-filter pre-filter on
    the corpus scan — bit-identical output, different scale regime.

    The plain operator broadcasts the benchmark's exploded shingles as
    a hash table. That is right while the benchmark fits executor
    memory as a JOIN relation (~8 B/entry plus object overhead); a
    billion-shingle benchmark suite does not, but its Bloom filter at
    ``bits_per_item`` bits per shingle (16 → ~0.05 % false positives)
    is 50× smaller and still broadcastable. The corpus scan then drops
    every shingle the filter definitely hasn't seen BEFORE the exact
    membership join, so the join's probe side shrinks from "all corpus
    shingles" to "shingles that may touch the benchmark" (fp-rate
    bounded extras). Correctness is unchanged: ``might_contain`` has no
    false negatives, and a false positive merely forwards a shingle the
    exact join then fails to match.

    The filter itself is built in plain DataFrame algebra (Spark's
    internal ``bloom_filter_agg`` expression is not in the public
    function registry): bit positions are ``pmod(xxhash64(shingle, j),
    m)`` for ``num_hashes`` seeds, OR-ed into 64-bit words with the
    map-side-combinable ``bit_or`` aggregate, and shipped as ONE
    ``map<word_idx, bits>`` row — a mergeable sketch in the same sense
    as the HLL/Theta/KLL operators (build is partition-parallel,
    distributable, and unions by ``bit_or``). The probe is
    ``num_hashes`` codegen map lookups per corpus shingle; absent words
    read as zero via ``coalesce``.

    One deliberate driver scalar: the bitmap needs literal sizing, so
    the benchmark's distinct-shingle count is computed first (a job
    over the SMALL side only — same pattern as the k-means per-round
    scalars, not a corpus collect).

    Returns ``(id_col, bench_id_col, n_shared, containment)`` — the
    same contract as :func:`contamination_pairs`.
    """
    num_hashes = 7  # ~optimal k for 10-16 bits/item; fpp ≈ 0.1-0.8 %
    b_ex = scoped_persist(
        with_shingles(benchmark, text_col=text_col, k=k, out_col="__sh").select(
            F.col(bench_id_col), F.explode("__sh").alias("__s")
        )
    )
    n_items = max(b_ex.select("__s").distinct().count(), 1)
    m = max(64, bits_per_item * n_items)

    def position_sql(col: str, j: int) -> str:
        return f"pmod(xxhash64({col}, {j}), {m}L)"

    pos_array = ", ".join(position_sql("__s", j) for j in range(num_hashes))
    bloom = (
        b_ex.select(F.explode(F.expr(f"array({pos_array})")).alias("__p"))
        .select(
            F.expr("__p div 64").alias("__w"),
            F.expr("shiftleft(1L, CAST(__p % 64 AS INT))").alias("__b"),
        )
        .groupBy("__w")
        .agg(F.expr("bit_or(__b)").alias("__bits"))
        .agg(
            F.map_from_entries(F.collect_list(F.struct("__w", "__bits"))).alias(
                "__bf"
            )
        )
    )
    # Explicit AND of the per-seed bit tests (a forall() lambda would
    # run interpreted). The positions are materialized into a real
    # array column BELOW the bloom cross-join: the probe filter merges
    # into that join's condition (it references __bf, so it cannot be
    # pushed lower), and a join condition substitutes any alias from
    # the joined projects — an inline position expression therefore
    # re-evaluates xxhash64 per conjunct PER SIDE inside an interpreted
    # join predicate (measured 10× slower). As an attribute produced
    # under the join, __pos is computed once per shingle in the scan's
    # codegen stage and the condition only does map/array lookups.
    # Absent map keys read as zero words via coalesce.
    might_contain = F.expr(
        " AND ".join(
            f"coalesce((shiftright(element_at(__bf, element_at(__pos, {j + 1}) div 64), "
            f"CAST(element_at(__pos, {j + 1}) % 64 AS INT)) & 1L) = 1, false)"
            for j in range(num_hashes)
        )
    )
    c = with_shingles(corpus, text_col=text_col, k=k, out_col="__sh")
    c_ex = (
        c.select(
            F.col(id_col),
            F.size("__sh").alias("__n_doc"),
            F.explode("__sh").alias("__s"),
        )
        .withColumn("__pos", F.expr(f"array({pos_array})"))
        .join(F.broadcast(bloom))
        .filter(might_contain)
        .drop("__bf", "__pos")
    )
    # The exact membership join is deliberately UNHINTED: in this
    # operator's motivating regime the benchmark shingle relation is
    # exactly what no longer fits as a broadcast hash table (the Bloom
    # bits replace it), so the join must be free to degrade to a
    # shuffle join; while the benchmark is small, AQE broadcasts it on
    # its own.
    return (
        c_ex.join(b_ex, "__s")
        .groupBy(id_col, bench_id_col, "__n_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .withColumn(
            "containment",
            F.round(F.col("n_shared").cast("double") / F.col("__n_doc"), 6),
        )
        .filter(F.col("containment") >= threshold)
        .drop("__n_doc")
    )


def _candidate_pairs(
    exploded: DataFrame, id_col: str, sig_cols: list[str], max_signature_freq: int | None
) -> DataFrame:
    """Distinct id pairs (x < y) sharing at least one signature value."""
    if max_signature_freq is not None:
        freq = exploded.groupBy(*sig_cols).agg(F.count(F.lit(1)).alias("__freq"))
        exploded = (
            exploded.join(freq, sig_cols)
            .filter(F.col("__freq") <= max_signature_freq)
            .drop("__freq")
        )
    a = exploded.select(F.col(id_col).alias("x"), *sig_cols)
    b = exploded.select(F.col(id_col).alias("y"), *sig_cols)
    return (
        a.join(b, sig_cols)
        .filter(F.col("x") < F.col("y"))
        .select("x", "y")
        .distinct()
    )


def _verify_jaccard(
    candidates: DataFrame, shingled: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact Jaccard over distinct shingle sets for candidate pairs."""
    sets_x = shingled.select(
        F.col(id_col).alias("x"), F.col("shingles").alias("__sh_x")
    )
    sets_y = shingled.select(
        F.col(id_col).alias("y"), F.col("shingles").alias("__sh_y")
    )
    inter = F.size(F.array_intersect(F.col("__sh_x"), F.col("__sh_y")))
    union = F.size("__sh_x") + F.size("__sh_y") - inter
    return (
        candidates.join(sets_x, "x")
        .join(sets_y, "y")
        .withColumn("jaccard", inter.cast("double") / union.cast("double"))
        .filter(F.col("jaccard") >= threshold)
        .select("x", "y", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    threshold: float = 0.5,
    max_signature_freq: int | None = None,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard.

    Candidates = pairs sharing ≥1 distinct k-shingle (sub-quadratic:
    shingle-explode + equi-join, never a cross join), then exact Jaccard
    ≥ threshold. This is the *ground-truth* operator the probabilistic
    ones are verified against.

    ``shingled`` lets a pipeline that already ran ``with_shingles``
    (same ``k``/``text_col``, default ``shingles`` column) pass that
    frame in so tokenization isn't repeated; the caller then owns its
    persistence.
    """
    if shingled is None:
        shingled = scoped_persist(with_shingles(df, text_col=text_col, k=k))
    exploded = shingled.select(id_col, F.explode("shingles").alias("__sig"))
    if max_signature_freq is not None:
        # Capped path: hot shingles are dropped from candidate
        # generation only, so Jaccard must be recomputed from the full
        # shingle arrays to stay exact.
        cands = _candidate_pairs(exploded, id_col, ["__sig"], max_signature_freq)
        return _verify_jaccard(cands, shingled, id_col, threshold)
    # Uncapped path: the shared intersection skeleton (see
    # _intersection_with_sizes) scores exact Jaccard directly from the
    # equi-join match counts — no join-back to the arrays.
    return (
        _intersection_with_sizes(shingled, id_col)
        .withColumn(
            "jaccard",
            F.col("__inter").cast("double")
            / (F.col("__nx") + F.col("__ny") - F.col("__inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("x", "y", "jaccard")
    )


def _intersection_with_sizes(shingled: DataFrame, id_col: str) -> DataFrame:
    """``(x, y, __inter, __nx, __ny)`` for every pair sharing ≥ 1
    distinct shingle — the skeleton under both the exact-Jaccard
    uncapped path and the containment scorer. Because shingles are
    distinct per document, the equi-join match count per (x, y) IS
    |x ∩ y| — no array materialization at the join; set sizes come
    from a tiny ``(id, |shingles|)`` projection of the cached frame."""
    exploded = shingled.select(id_col, F.explode("shingles").alias("__sig"))
    a = exploded.select(F.col(id_col).alias("x"), "__sig")
    b = exploded.select(F.col(id_col).alias("y"), "__sig")
    inter = (
        a.join(b, "__sig")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    sizes = shingled.select(F.col(id_col), F.size("shingles").alias("__n"))
    nx = sizes.select(F.col(id_col).alias("x"), F.col("__n").alias("__nx"))
    ny = sizes.select(F.col(id_col).alias("y"), F.col("__n").alias("__ny"))
    return inter.join(nx, "x").join(ny, "y")


def ngram_containment_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    threshold_ppm: int = 900_000,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Near-SUBSET pairs by asymmetric shingle containment — the
    quote/excerpt detector Jaccard misses.

    Symmetric Jaccard under-scores a short document embedded verbatim
    in a long one (|A∩B| / |A∪B| is dragged down by the long side), so
    corpus curation pipelines (Gopher/Dolma-style) additionally test
    CONTAINMENT of the smaller shingle set: ``|A∩B| / min(|A|, |B|)``.
    A value near 1 means one side is (almost) a subset of the other —
    an excerpt, a boilerplate wrapper, or a page re-published with a
    preamble.

    Same sub-quadratic shape as :func:`ngram_jaccard_pairs`'s uncapped
    path: shingle-explode + equi-join, where the per-pair match count
    IS the intersection size (shingles are distinct per document), and
    set sizes join in from a tiny ``(id, |shingles|)`` projection — no
    array materialization at the join.

    The score is reported as integer parts-per-million
    (``inter * 1e6 DIV min(nx, ny)`` — pure BIGINT arithmetic), so the
    output is hash-exact across engines.

    Returns ``(x, y, inter_shingles, min_shingles, containment_ppm)``
    with ``x < y`` and ``containment_ppm >= threshold_ppm``.
    """
    if shingled is None:
        shingled = scoped_persist(with_shingles(df, text_col=text_col, k=k))
    return (
        _intersection_with_sizes(shingled, id_col)
        .withColumn("inter_shingles", F.col("__inter").cast("bigint"))
        .withColumn("min_shingles", F.least("__nx", "__ny").cast("bigint"))
        .withColumn(
            "containment_ppm",
            F.expr("inter_shingles * 1000000 DIV min_shingles"),
        )
        .filter(F.col("containment_ppm") >= F.lit(threshold_ppm))
        .select("x", "y", "inter_shingles", "min_shingles", "containment_ppm")
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    threshold: float = 0.5,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via PREFIX FILTERING (the
    PPJoin/AllPairs candidate rule) — same output contract as
    :func:`ngram_jaccard_pairs`, asymptotically fewer candidates.

    The share-any-shingle rule explodes on common shingles: a shingle
    appearing in f documents contributes C(f, 2) candidate pairs, so
    one boilerplate phrase can dominate the join. The prefix-filter
    lemma prunes this WITHOUT losing recall: order every document's
    shingles by a global canonical order (ascending document
    frequency, ties by shingle — rarest first) and keep only each
    document's first ``|d| − ⌈t·|d|⌉ + 1`` shingles as its *prefix*;
    if ``J(a, b) ≥ t``, the two prefixes must share a shingle
    (otherwise more than ``(1−t)·|d|`` of each side's rarest entries
    are disjoint, capping the overlap below ``t``). Candidates are
    pairs whose PREFIXES intersect — the hot tail of frequent shingles
    never enters the join.

    Shape: one frequency aggregate over the exploded shingles (the
    same stream the candidate join reads), a per-document sort of a
    bounded array (inside ``sort_array`` on (freq, shingle) structs —
    no extra exchange), the prefix equi-join, then exact verification
    against the FULL shingle sets. Verification reuses
    ``array_intersect`` on the cached shingled frame, so the expensive
    join runs only on the pruned candidate set.

    Returns ``(x, y, jaccard)`` with ``x < y`` — bit-identical to the
    ground-truth operator (and to its DuckDB oracle).
    """
    if shingled is None:
        shingled = scoped_persist(with_shingles(df, text_col=text_col, k=k))
    exploded = shingled.select(id_col, F.explode("shingles").alias("__sig"))
    freq = exploded.groupBy("__sig").agg(
        F.count(F.lit(1)).cast("bigint").alias("__df")
    )
    # Canonical order: (document frequency, shingle) ascending. The
    # sort happens inside a per-document ARRAY (bounded by the doc's
    # shingle count), not as a window over the corpus.
    ranked = (
        exploded.join(freq, "__sig")
        .groupBy(id_col)
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("__df"), F.col("__sig").alias("__s"))
                )
            ).alias("__ordered")
        )
    )
    # prefix length = n - ceil(t*n) + 1, clamped to [1, n]
    prefixes = ranked.select(
        id_col,
        F.explode(
            F.expr(
                "slice(transform(__ordered, o -> o.__s), 1, "
                f"greatest(1, size(__ordered) - cast(ceil({float(threshold)}"
                " * size(__ordered)) as int) + 1))"
            )
        ).alias("__psig"),
    )
    a = prefixes.select(F.col(id_col).alias("x"), "__psig")
    b = prefixes.select(F.col(id_col).alias("y"), "__psig")
    cands = (
        a.join(b, "__psig").filter(F.col("x") < F.col("y")).select("x", "y").distinct()
    )
    return _verify_jaccard(cands, shingled, id_col, threshold)


def token_multiset_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Weighted (multiset) token Jaccard for candidate pairs:
    ``Σ_t min(c_x(t), c_y(t)) / Σ_t max(c_x(t), c_y(t))`` over token
    COUNTS — the refinement that separates "same vocabulary, different
    emphasis" from true rewording. Set Jaccard calls a document and
    its double-paste identical twins equal to any reshuffle of the
    same words; the multiset score sees repetition structure.

    Runs over an existing candidate pair list (shingle candidates, LSH
    survivors) — never all pairs: the per-pair token join fans out by
    document length × candidates, which is the refinement's inherent
    cost and only paid on the pruned set.

    Arithmetic: ``Σmax = T_x + T_y − Σmin`` (token totals are exact
    integers), and the score is integer ppm — hash-exact.

    Returns ``(x, y, shared_min, union_max, wjaccard_ppm)``.
    """
    # The pair list feeds both the shared-min join and the final
    # assembly; persisting it keeps an expensive upstream generator
    # (the shingle join) from running twice.
    pairs = scoped_persist(pairs.select("x", "y"))
    counts = scoped_persist(
        df.select(
            F.col(id_col),
            F.explode(F.split(F.col(text_col), " ")).alias("__tok"),
        )
        .groupBy(id_col, "__tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
    )
    totals = counts.groupBy(id_col).agg(F.sum("__c").cast("bigint").alias("__T"))
    cx = counts.select(
        F.col(id_col).alias("x"), "__tok", F.col("__c").alias("__cx")
    )
    cy = counts.select(
        F.col(id_col).alias("y"), "__tok", F.col("__c").alias("__cy")
    )
    shared = (
        pairs.select("x", "y")
        .join(cx, "x")
        .join(cy, ["y", "__tok"])
        .groupBy("x", "y")
        .agg(F.sum(F.least("__cx", "__cy")).cast("bigint").alias("shared_min"))
    )
    tx = totals.select(F.col(id_col).alias("x"), F.col("__T").alias("__Tx"))
    ty = totals.select(F.col(id_col).alias("y"), F.col("__T").alias("__Ty"))
    return (
        pairs.select("x", "y")
        .join(shared, ["x", "y"], "left")
        .join(tx, "x")
        .join(ty, "y")
        .select(
            "x",
            "y",
            F.coalesce(F.col("shared_min"), F.lit(0))
            .cast("bigint")
            .alias("shared_min"),
            (
                F.col("__Tx")
                + F.col("__Ty")
                - F.coalesce(F.col("shared_min"), F.lit(0))
            )
            .cast("bigint")
            .alias("union_max"),
        )
        .withColumn(
            "wjaccard_ppm",
            F.expr("(shared_min * 1000000) DIV union_max").cast("bigint"),
        )
    )


def _hash_family(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MINHASH_PRIME), rng.randrange(0, MINHASH_PRIME))
        for _ in range(num_hashes)
    ]


def _minhash_signature_from_hashes(
    hashed: DataFrame, id_col: str, num_hashes: int, seed: int, out_col: str
) -> DataFrame:
    """(id, signature array ordered by seed index) from a 31-bit
    shingle-hash stream ``(id, __h)`` — the workhorse behind both the
    signature column and the banded LSH join.

    Shape matters for scale. A nested ``transform(seeds, transform(
    shingles, ...))`` lambda runs *interpreted* (~35 ms/doc measured —
    catastrophic at 100 TB). The first codegen formulation exploded the
    seed family into (id, seed_idx, hash) rows — correct, but it
    shuffles ``num_hashes×`` the rows and re-groups to assemble the
    array. This one is the same trick :func:`with_simhash` uses for its
    64 bit-votes: ONE (id, shingle_hash) stream aggregated with
    ``num_hashes`` codegen ``min(pmod(aᵢ·h + bᵢ, p))`` expressions
    — per-row arithmetic identical, but the mins reduce map-side into a
    single row per document, so the shuffle carries docs rows (not
    docs × num_hashes) and no reassembly aggregate exists. Measured 2×
    faster at sf0.1 with bit-identical output. Duplicate occurrences in
    the stream don't change any min, so callers may feed occurrence-
    level rows.
    """
    pairs = _hash_family(num_hashes, seed)
    aggs = [
        F.min(F.expr(f"pmod({a}L * __h + {b}L, {MINHASH_PRIME})")).alias(f"__m{i}")
        for i, (a, b) in enumerate(pairs)
    ]
    return (
        hashed.groupBy(id_col)
        .agg(*aggs)
        .select(
            id_col,
            F.array(*[F.col(f"__m{i}") for i in range(num_hashes)]).alias(out_col),
        )
    )


def _check_banding(num_hashes: int, bands: int) -> None:
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands}); "
            f"an uneven split silently changes the recall/precision curve"
        )


def with_minhash_signature(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    num_hashes: int = 128,
    seed: int = 42,
    out_col: str = "minhash",
    shingled: DataFrame | None = None,
    tokens_col: str | None = None,
) -> DataFrame:
    """MinHash signature: ``sig[i] = min over shingles of (aᵢ·h + bᵢ) mod p``.

    ``h = pmod(xxhash64(w1..wk), p)`` is reduced to 31 bits first so
    every product fits int64 (ANSI-safe). The shingle-hash basis is the
    string-free component-wise stream (:func:`_shingle_hash_rows`), so
    signing never materializes string shingles — the dominant cost of
    the signature build at corpus scale. Signature *values* therefore
    constitute a store version: stores persisted by the string-basis
    revision ("sigstore-v2" in the version tags) must be rebuilt, which
    the tag-keyed store paths do automatically.

    ``shingled`` is the frame to attach the signature column to (any
    frame carrying ``id_col``, e.g. the :func:`with_shingles` output a
    pipeline also feeds its exact-Jaccard pass) — it no longer affects
    how the hashes are computed; ``df`` must still carry ``text_col``
    (or ``tokens_col``, the pre-split token-array sharing hook — pass
    ``with_shingles(..., keep_tokens=...)`` output as ``df`` so the
    split runs once per pipeline).
    """
    hashed = _shingle_hash_rows(df, id_col, text_col, k, tokens_col).select(
        id_col, F.expr(f"pmod(__h, {MINHASH_PRIME})").alias("__h")
    )
    sig = _minhash_signature_from_hashes(hashed, id_col, num_hashes, seed, out_col)
    base = shingled if shingled is not None else df
    return base.join(sig, id_col)


def _band_hashes(
    sig: DataFrame, id_col: str, sig_col: str, bands: int, rows: int, out_id: str
) -> DataFrame:
    """Explode a signature array into (id, band, band-hash) rows."""
    expr = (
        f"transform(sequence(0, {bands - 1}), b -> named_struct("
        f"'__band', b, "
        f"'__bh', xxhash64(concat_ws(',', slice({sig_col}, b * {rows} + 1, {rows})))))"
    )
    return sig.select(
        F.col(id_col).alias(out_id),
        F.explode(F.expr(expr)).alias("__bb"),
    ).select(out_id, F.col("__bb.__band").alias("__band"), F.col("__bb.__bh").alias("__bh"))


def incremental_minhash_pairs(
    new_docs: DataFrame,
    signature_store: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
    seed: int = 42,
    max_signature_freq: int | None = None,
    new_signatures: DataFrame | None = None,
    corpus_hashes: DataFrame | None = None,
    new_hashes: DataFrame | None = None,
) -> DataFrame:
    """Near-dups of an incoming batch against an already-indexed corpus
    — the incremental-ingestion pattern: dedupe each new crawl against
    100 TB of history *without re-signing the history*.

    ``signature_store`` is the persisted index — ``(id_col, minhash)``
    rows previously produced by :func:`with_minhash_signature` with the
    SAME ``k``/``num_hashes``/``seed`` (banding is derived from the
    stored arrays, so ``bands`` may differ run to run). Work is:

    1. sign the new batch (linear in batch size, not corpus size);
    2. band both sides and equi-join band hashes — the corpus-side
       cost is one scan of the signature store (``num_hashes`` ints
       per historical doc, not its text);
    3. exact-verify candidates only: the texts of the few colliding
       historical docs are fetched from ``corpus`` by a semi-join and
       hashed on demand (shingle-hash sets — same Jaccard values as
       string shingles modulo 64-bit collisions, the module's standard
       contract), so precision is exact while the verify cost scales
       with candidates, not history.

    Returns ``(new_id, old_id, jaccard)`` for cross-set pairs at or
    above ``threshold``.

    ``new_signatures`` — the batch's frame from
    :func:`with_minhash_signature` (same ``k``/``num_hashes``/``seed``)
    — skips step 1 when the caller already signed the batch, e.g. an
    ingest loop that also appends the survivors' signatures to the
    store. Verify hashes are derived from ``new_docs``'s text either
    way.

    ``corpus_hashes`` — occurrence-level ``(id_col, __h)`` rows (the
    component-wise shingle-hash stream, same ``k``) over the corpus,
    e.g. the shared pass of a caller that is also BUILDING the store
    this run (:func:`incremental_minhash_with_store`). When given, the
    verify step derives the historical hash sets from these rows
    (candidate-filtered) instead of re-scanning and re-hashing
    ``corpus``'s text.

    ``new_hashes`` — same sharing hook for the BATCH side: when given,
    the verify step candidate-filters these occurrence rows instead of
    re-hashing ``new_docs``'s text.
    """
    _check_banding(num_hashes, bands)
    rows = num_hashes // bands
    # Fail fast on a store signed under a different hash basis: such
    # signatures band-match nothing, so every near-dup of history would
    # be silently admitted. Stores written by the ingest path carry a
    # ``sig_version`` column; a store WITHOUT the column is assumed to
    # have been signed in-plan by the running code (the standalone
    # queries' pattern) — callers persisting stores across deployments
    # should keep the column.
    if "sig_version" in signature_store.columns:
        signature_store = signature_store.select(
            F.col(id_col),
            F.expr(
                f"nvl(assert_true(sig_version = {SIGNATURE_STORE_VERSION}, "
                f"concat('signature store version ', CAST(sig_version AS STRING), "
                f"' != current {SIGNATURE_STORE_VERSION}: the hash basis changed; "
                f"rebuild the store')), minhash)"
            ).alias("minhash"),
        )
    # Fail fast on a store built with a different num_hashes: slicing
    # a shorter array past its end yields EMPTY band slices, so
    # xxhash64('') gives every historical doc the IDENTICAL band hash
    # — one quadratic candidate bucket (or, with a hot-bucket cap,
    # silently missed duplicates). One size comparison per store row.
    signature_store = signature_store.select(
        F.col(id_col),
        F.expr(
            f"nvl(assert_true(size(minhash) = {num_hashes}, "
            f"concat('signature store minhash length != num_hashes="
            f"{num_hashes}: got ', CAST(size(minhash) AS STRING))), minhash)"
        ).alias("minhash"),
    )
    new_sig = (
        new_signatures
        if new_signatures is not None
        else scoped_persist(
            with_minhash_signature(
                new_docs, id_col=id_col, text_col=text_col, k=k,
                num_hashes=num_hashes, seed=seed,
            )
        )
    )
    nb = _band_hashes(new_sig, id_col, "minhash", bands, rows, "new_id")
    ob = _band_hashes(signature_store, id_col, "minhash", bands, rows, "old_id")
    if max_signature_freq is not None:
        freq = ob.groupBy("__band", "__bh").agg(F.count(F.lit(1)).alias("__freq"))
        ob = (
            ob.join(freq, ["__band", "__bh"])
            .filter(F.col("__freq") <= max_signature_freq)
            .drop("__freq")
        )
    cands = nb.join(ob, ["__band", "__bh"]).select("new_id", "old_id").distinct()
    # Verify over shingle-hash sets, built only for the docs that
    # actually collided (semi-joins on both sides). A corpus whose hash
    # rows are already in hand (a caller that is BUILDING the store
    # this run — incremental_minhash_with_store's shared pass)
    # candidate-filters those rows instead of re-scanning and
    # re-hashing the text.
    if new_hashes is not None:
        new_occ = new_hashes.join(
            cands.select(F.col("new_id").alias(id_col)).distinct(),
            id_col,
            "left_semi",
        )
    else:
        new_hit = new_docs.join(
            cands.select(F.col("new_id").alias(id_col)).distinct(),
            id_col,
            "left_semi",
        )
        new_occ = _shingle_hash_rows(new_hit, id_col, text_col, k)
    if corpus_hashes is not None:
        old_occ = corpus_hashes.join(
            cands.select(F.col("old_id").alias(id_col)).distinct(),
            id_col,
            "left_semi",
        )
    else:
        old_hit = corpus.join(
            cands.select(F.col("old_id").alias(id_col)).distinct(),
            id_col,
            "left_semi",
        )
        old_occ = _shingle_hash_rows(old_hit, id_col, text_col, k)
    sx = _hash_sets(new_occ, id_col, "__sx").select(
        F.col(id_col).alias("new_id"), "__sx"
    )
    sy = _hash_sets(old_occ, id_col, "__sy").select(
        F.col(id_col).alias("old_id"), "__sy"
    )
    inter = F.size(F.array_intersect(F.col("__sx"), F.col("__sy")))
    union = F.size("__sx") + F.size("__sy") - inter
    return (
        cands.join(sx, "new_id")
        .join(sy, "old_id")
        .withColumn("jaccard", inter.cast("double") / union.cast("double"))
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "old_id", "jaccard")
    )


def incremental_minhash_with_store(
    new_docs: DataFrame,
    history: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
    seed: int = 42,
    max_signature_freq: int | None = None,
) -> DataFrame:
    """Store build + incremental probe in one run, sharing ONE
    shingle-hash pass over the history — the store-REBUILD worst case
    that ``dedup_incremental`` deliberately replays (production keeps
    the store persisted and pays only :func:`incremental_minhash_pairs`
    per batch — the ``dedup_incremental_steady`` shape).

    Each side's occurrence-level hash rows are persisted once and feed
    BOTH its signature aggregate and its exact-verify hash sets, so
    every document's text is scanned, split and hashed once per run
    instead of twice. The cached rows are the same ``(id, int64)``
    stream the signing aggregate already consumes — token-bounded,
    MEMORY_AND_DISK — and exist only for the query's lifetime
    (``scoped_persist``)."""

    def _hashes_and_sig(df: DataFrame) -> tuple[DataFrame, DataFrame]:
        hashes = scoped_persist(_shingle_hash_rows(df, id_col, text_col, k))
        sig = _minhash_signature_from_hashes(
            hashes.select(
                id_col, F.expr(f"pmod(__h, {MINHASH_PRIME})").alias("__h")
            ),
            id_col,
            num_hashes,
            seed,
            "minhash",
        )
        return hashes, sig

    hist_hashes, store = _hashes_and_sig(history)
    new_hashes, new_sig = _hashes_and_sig(new_docs)
    return incremental_minhash_pairs(
        new_docs,
        store,
        history,
        id_col=id_col,
        text_col=text_col,
        k=k,
        num_hashes=num_hashes,
        bands=bands,
        threshold=threshold,
        seed=seed,
        max_signature_freq=max_signature_freq,
        new_signatures=new_sig,
        corpus_hashes=hist_hashes,
        new_hashes=new_hashes,
    )


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
    seed: int = 42,
    max_signature_freq: int | None = None,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, exact-verified.

    Signature is banded (``bands`` bands × ``num_hashes/bands`` rows);
    documents sharing any band hash become candidates; candidates are
    verified with exact k-shingle Jaccard ≥ threshold, so output ⊆
    ground truth with recall ≈ 1-(1-s^r)^b (≈1 for s ≥ 0.7 at 32×4).
    """
    _check_banding(num_hashes, bands)
    rows = num_hashes // bands
    # String-free: signature mins and the verify sets both come from
    # the occurrence-level shingle-hash stream.
    ph = scoped_persist(_shingle_hash_rows(df, id_col, text_col, k))
    hashed = ph.select(id_col, F.expr(f"pmod(__h, {MINHASH_PRIME})").alias("__h"))
    sig = _minhash_signature_from_hashes(hashed, id_col, num_hashes, seed, "__sig")
    # Band hashes slice the one-row-per-doc signature array — no extra
    # aggregate beyond the signature build itself. Persisted because
    # the candidate self-join scans it from both sides (and the freq
    # cap a third time); without the cache each scan replays the whole
    # shingle×hash aggregate — the expensive part of the operator.
    banded = scoped_persist(_band_hashes(sig, id_col, "__sig", bands, rows, id_col))
    cands = _candidate_pairs(banded, id_col, ["__band", "__bh"], max_signature_freq)
    return _verify_jaccard_hashed(cands, _hash_sets(ph, id_col, "__hs"), id_col, threshold)


def oph_minhash_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    bins: int = 32,
    threshold: float = 0.5,
    max_signature_freq: int | None = None,
) -> DataFrame:
    """One-permutation MinHash near-dup pairs, exact-verified.

    Classic MinHash (``minhash_lsh_pairs``) evaluates ``num_hashes``
    hash functions per shingle. One-permutation hashing (Li, Owen &
    Zhang, NIPS 2012) gets a sketch of comparable quality from a
    SINGLE hash pass: each shingle's hash is assigned to one of
    ``bins`` buckets by its low bits, and the per-bin minimum is the
    sketch entry — so the whole signature costs one ``xxhash64`` per
    shingle instead of ``num_hashes`` multiply-mod evaluations.

    Candidates here are pairs agreeing on any (bin, min) entry — the
    r=1 banding of the OPH sketch. Per shared non-empty bin the match
    probability for Jaccard-s pairs is ≈ s, so recall over b occupied
    bins is ≈ 1-(1-s)^b (≈1 for s ≥ 0.5 at 32 bins); precision is
    restored by the exact-Jaccard verification, so the output contract
    equals the ground-truth pair set, same as the other near-dup
    operators. Empty-bin densification is unnecessary: empty bins
    simply contribute no candidate rows (we never compare sketches
    entry-wise).
    """
    # String-free: bins, mins and the verify sets all come from the
    # occurrence-level shingle-hash stream (min/collect_set are
    # idempotent over duplicate occurrences).
    ph = scoped_persist(_shingle_hash_rows(df, id_col, text_col, k))
    binned = (
        ph.withColumn("__bin", F.pmod(F.col("__h"), F.lit(bins)))
        .groupBy(id_col, "__bin")
        .agg(F.min("__h").alias("__min"))
    )
    cands = _candidate_pairs(binned, id_col, ["__bin", "__min"], max_signature_freq)
    return _verify_jaccard_hashed(cands, _hash_sets(ph, id_col, "__hs"), id_col, threshold)


def with_simhash(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    out_col: str = "simhash",
) -> DataFrame:
    """64-bit SimHash over k-shingle hashes.

    Bit b of the simhash is the sign of Σ over shingles of ``±1`` votes
    from bit b of each shingle hash — equivalently, bit b is set iff
    more than half the shingle hashes have bit b set. Computed as ONE
    hash aggregate over the (id, shingle_hash) rows with 64 codegen
    ``sum((h >> b) & 1)`` expressions: no per-bit row explosion (the
    exploded-grid formulation shuffles 64× the rows for the same
    answer), no interpreted lambdas, map-side partial aggregation.
    """
    # persisted: the frame feeds both the bit-vote aggregate and the
    # final join (two plan branches with no shared exchange) — without
    # the cache the dominant shingle lambdas run twice per action
    shingled = scoped_persist(with_shingles(df, text_col=text_col, k=k))
    hashed = shingled.select(F.col(id_col), F.explode("shingles").alias("__s")).select(
        id_col, F.xxhash64("__s").alias("__h")
    )
    # (h >> b) & 1 is bit b for every b incl. 63: the arithmetic shift's
    # sign-fill is masked off.
    bit_aggs = [
        F.sum(F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1))).alias(f"__b{b}")
        for b in range(64)
    ]
    counts = hashed.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"), *bit_aggs)
    one = F.lit(1).cast("long")
    sim_col = None
    for b in range(64):
        # majority vote: Σ±1 > 0  ⇔  2·ones > n (ties → bit stays 0)
        term = F.when(
            F.col(f"__b{b}") * 2 > F.col("__n"), F.shiftleft(one, b)
        ).otherwise(F.lit(0).cast("long"))
        sim_col = term if sim_col is None else sim_col + term
    sim = counts.select(F.col(id_col), sim_col.alias(out_col))
    return shingled.join(sim, id_col)


def simhash_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    chunks: int = 8,
    max_hamming: int = 7,
    jaccard_threshold: float = 0.5,
    max_signature_freq: int | None = None,
    allow_probabilistic_radius: bool = False,
) -> DataFrame:
    """SimHash near-dup pairs: chunk-match candidates (pigeonhole — any
    pair with hamming < ``chunks`` shares ≥1 equal ``64/chunks``-bit
    chunk), hamming filter, then exact-Jaccard verification.

    **Guaranteed recall radius is ``chunks - 1``** (default 8×8-bit
    chunks → hamming ≤ 7): beyond it a pair's bit errors *can* touch
    every chunk, so candidates in the ``(chunks-1, max_hamming]`` band
    are found only probabilistically (the miss probability — all
    ``chunks`` chunks hit by ≤ ``max_hamming`` scattered errors — is
    small but nonzero). Asking for ``max_hamming >= chunks`` therefore
    raises unless ``allow_probabilistic_radius=True`` is passed
    explicitly. Raising ``chunks`` widens the guarantee but shrinks
    chunk width: 16×4-bit chunks guarantee radius 15 yet bucket the
    corpus into only 16 values per chunk position — Σ bucket² becomes
    quadratic, which is why production simhash dedup keeps the radius
    small rather than the chunks narrow. Precision is always exact:
    output is Jaccard-verified regardless of how candidates were found.
    """
    if max_hamming >= chunks and not allow_probabilistic_radius:
        raise ValueError(
            f"max_hamming ({max_hamming}) >= chunks ({chunks}): the pigeonhole "
            f"candidate stage only guarantees recall for hamming <= {chunks - 1}. "
            f"Pass allow_probabilistic_radius=True to accept probabilistic recall "
            f"in the ({chunks - 1}, {max_hamming}] band, or raise chunks."
        )
    bits = 64 // chunks
    sh = scoped_persist(with_simhash(df, text_col=text_col, k=k))
    exploded = sh.select(
        id_col,
        F.explode(
            F.expr(
                f"transform(sequence(0, {chunks - 1}), "
                f"c -> struct(c AS chunk, shiftright(simhash, c * {bits}) & {(1 << bits) - 1} AS cv))"
            )
        ).alias("__c"),
    ).select(id_col, F.col("__c.chunk").alias("__chunk"), F.col("__c.cv").alias("__cv"))
    cands = _candidate_pairs(exploded, id_col, ["__chunk", "__cv"], max_signature_freq)
    sim_x = sh.select(F.col(id_col).alias("x"), F.col("simhash").alias("__sim_x"))
    sim_y = sh.select(F.col(id_col).alias("y"), F.col("simhash").alias("__sim_y"))
    hamming_ok = (
        cands.join(sim_x, "x")
        .join(sim_y, "y")
        .withColumn("hamming", F.bit_count(F.col("__sim_x").bitwiseXOR(F.col("__sim_y"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("x", "y")
    )
    # `sh` already carries the shingles column (with_simhash builds on
    # with_shingles) — verify from the cached frame instead of
    # re-tokenizing the corpus.
    return _verify_jaccard(hamming_ok, sh, id_col, jaccard_threshold)


def source_overlap_matrix(
    pairs: DataFrame,
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    source_col: str = "source",
    x_col: str = "x",
    y_col: str = "y",
    jaccard_col: str = "jaccard",
) -> DataFrame:
    """Provenance census over a near-dup pair list: which SOURCES
    duplicate each other, and how strongly — the mirror-site /
    content-farm / license-laundering detector a corpus curator reads
    before deciding per-source keep rates (row-level dedup answers
    "which doc"; this answers "which feed should be down-weighted or
    dropped wholesale").

    Pure composition over an existing pair list (any generator with an
    x/y/jaccard shape — the exact ground truth, MinHash, prefix filter):
    two joins onto the (id → source) projection — broadcast-eligible
    because the pair list is candidate-sized, never corpus-sized — then
    one aggregate on the UNORDERED source pair (least/greatest, so
    A↔B and B↔A fold together; self-pairs report a source's internal
    duplication). Jaccard enters pre-floored to ppm (each pair's value
    is the same IEEE double in both engines), so the mean is exact
    integer arithmetic.

    Returns ``(source_a, source_b, n_pairs, mean_jaccard_ppm)`` with
    ``source_a <= source_b``.
    """
    sx = docs.select(
        F.col(id_col).alias(x_col), F.col(source_col).alias("__sx")
    )
    sy = docs.select(
        F.col(id_col).alias(y_col), F.col(source_col).alias("__sy")
    )
    tagged = (
        pairs.join(sx, x_col)
        .join(sy, y_col)
        .select(
            F.least("__sx", "__sy").alias("source_a"),
            F.greatest("__sx", "__sy").alias("source_b"),
            F.floor(F.col(jaccard_col) * F.lit(1_000_000.0))
            .cast("bigint")
            .alias("__jppm"),
        )
    )
    return tagged.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.expr("sum(__jppm) DIV count(1)")
        .cast("bigint")
        .alias("mean_jaccard_ppm"),
    )
