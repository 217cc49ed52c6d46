"""Corpus-curation operators a large-scale training-data pipeline
needs beyond dedup/similarity: benchmark decontamination, stratified
downsampling, and length-distribution statistics. All pure DataFrame
compositions; the only shuffles are final aggregates.

No reference analog (the reference is a log shipper); these follow
the standard public recipes (e.g. GPT-3/C4-style n-gram overlap
decontamination) re-expressed Spark-first.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup import SHINGLE_K, tokens_col


def _n_tokens(text_col: str) -> Column:
    """Whitespace token count — ONE definition (dedup.tokens_col) so
    the tokenization can never drift between the curation operators
    and their DuckDB twins' shared `_TOKS`."""
    return F.size(tokens_col(F.col(text_col)))


def _seeded_key(seed: str, id_col: str) -> Column:
    """The deterministic pseudo-random order key md5(seed || id),
    shared by shuffle_index and token_budget_sample (and mirrored by
    every oracle's md5('seed' || CAST(id AS VARCHAR)))."""
    return F.md5(
        F.concat(F.lit(seed), F.col(id_col).cast("string")).cast("binary")
    )


def decontaminate(docs: DataFrame, benchmark_snippets: list[str]) -> DataFrame:
    """Flag documents containing ANY benchmark snippet as a
    substring (test-set contamination check).

    Scale shape: the snippet list is a LITERAL broadcast into one
    codegen'd boolean expression per snippet — a single corpus scan,
    zero joins, zero shuffles. For snippet sets too large for an
    expression tree, swap in an n-gram inverted-index join (the
    dedup module's shape); at typical benchmark-suite sizes
    (hundreds of snippets) the expression chain wins outright.

    Output: (doc_id, contaminated, matched_snippet) — first matching
    snippet in list order, NULL when clean.
    """
    if not benchmark_snippets:
        raise ValueError("need at least one snippet")
    hit: Column = F.lit(None).cast("string")
    # build WHEN chain in REVERSE so the first list entry wins
    for s in reversed(benchmark_snippets):
        hit = F.when(F.col("text").contains(s), F.lit(s)).otherwise(hit)
    return docs.select(
        "doc_id",
        hit.isNotNull().alias("contaminated"),
        hit.alias("matched_snippet"),
    )


def stratified_downsample(
    docs: DataFrame,
    stratum_col: str,
    keep_one_in: int,
) -> DataFrame:
    """Deterministic stratified downsampling: keep every
    `keep_one_in`-th document per stratum, in doc_id order
    (training-mix rebalancing without RNG, so the oracle — and any
    re-run — reproduces it bit-for-bit; sampleBy's per-partition RNG
    cannot).

    One row_number window per stratum = one hash shuffle on the
    stratum key; AQE splits skewed strata.
    """
    # fail at plan-build time: keep_one_in=0 is a mid-job
    # DIVIDE_BY_ZERO under ANSI and a silent empty corpus otherwise
    # (ValueError, not assert — python -O strips asserts)
    if keep_one_in < 1:
        raise ValueError("keep_one_in must be >= 1")
    w = Window.partitionBy(stratum_col).orderBy("doc_id")
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") - 1) % keep_one_in == 0)
        .drop("_rn")
    )


# the share of a doc's shingles found in the benchmark that flags it
# in overlap_decontaminate
OVERLAP_THRESHOLD = 0.5


def overlap_decontaminate(
    docs: DataFrame, benchmark: DataFrame
) -> DataFrame:
    """Overlap-RATIO decontamination: flag a document when >=
    OVERLAP_THRESHOLD of its distinct SHINGLE_K-token shingles appear
    anywhere in the benchmark set — the stricter n-gram-overlap rule
    modern eval decontamination uses, vs `decontaminate`'s
    exact-substring check.

    Scale shape: the benchmark shingle set is DISTINCT'd (small —
    eval suites are MBs, corpora are TBs), marked, and BROADCAST
    left-joined onto the corpus's exploded shingles; both counts
    (total + matched) then partial-aggregate in ONE doc-keyed
    shuffle. Corpus-side cost: one scan, one broadcast join, one
    count shuffle; nothing corpus-sized is ever collected,
    broadcast, or rejoined.

    Output: (doc_id, n_shingles, n_overlap, overlap_frac,
    contaminated). Docs with < SHINGLE_K tokens have no shingles and
    are never flagged.
    """
    from .dedup import shingles_col, tokens_col

    sh = lambda df: (  # noqa: E731
        df.select("doc_id", tokens_col(F.col("text")).alias("_lt"))
        .select(
            "doc_id",
            shingles_col(F.col("_lt")).alias("shingles"),
        )
        .filter(F.size("shingles") > 0)
    )
    bench_grams = (
        sh(benchmark)
        .select(F.explode("shingles").alias("s"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    per_doc = (
        sh(docs)
        .select("doc_id", F.explode("shingles").alias("s"))
        .join(F.broadcast(bench_grams), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("long")
            .alias("n_overlap"),
        )
    )
    frac = F.round(
        F.col("n_overlap") / F.col("n_shingles").cast("double"), 6
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_overlap",
        frac.alias("overlap_frac"),
        (frac >= OVERLAP_THRESHOLD).alias("contaminated"),
    )


def pack_sequences(
    docs: DataFrame,
    capacity: int = 256,
    text_col: str = "text",
) -> DataFrame:
    """Next-fit sequence packing: assign documents to fixed-capacity
    token bins for pretraining batch assembly.

    Packing is inherently sequential WITHIN a shard (each bin's
    remaining capacity depends on every earlier document), so the
    operator runs the sequential scan per group with applyInPandas —
    one shuffle on the group key, then an Arrow-batched linear pass
    per group. That per-shard shape is exactly how production
    packing runs at 100 TB: documents are already sharded (by
    source, date, or hash bucket) and each shard packs
    independently; cross-shard packing would serialize the world for
    a ~1% density gain. Skewed shards split via AQE like any other
    grouped stage.

    Deterministic rule (mirrored by the recursive-CTE oracle):
    within a group, in doc_id order, a doc joins the current bin iff
    used + n_tokens <= capacity, else it OPENS a new bin (even when
    n_tokens > capacity: oversized docs get a bin of their own and
    are truncated downstream, not dropped here).

    Output: (source, doc_id, n_tokens, bin_idx, offset_in_bin).
    """
    import pandas as pd

    base = docs.select(
        "source",
        "doc_id",
        F.size(F.split(F.lower(F.col(text_col)), " "))
        .cast("long")
        .alias("n_tokens"),
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins, offs = [], []
        bin_i, used = 0, 0
        for i, nt in enumerate(pdf["n_tokens"]):
            if i > 0 and used + nt > capacity:
                bin_i += 1
                used = 0
            bins.append(bin_i)
            offs.append(used)
            used += nt
        pdf["bin_idx"] = pd.Series(bins, dtype="int64")
        pdf["offset_in_bin"] = pd.Series(offs, dtype="int64")
        return pdf

    schema = (
        "source string, doc_id long, n_tokens long, bin_idx long, "
        "offset_in_bin long"
    )
    return base.groupBy("source").applyInPandas(_pack, schema=schema)


# top_ngrams' n-gram length and how many it reports
TOP_NGRAM_N = 2
TOP_NGRAM_K = 20


def top_ngrams(docs: DataFrame) -> DataFrame:
    """Corpus-wide top-k n-grams (n = TOP_NGRAM_N, k = TOP_NGRAM_K)
    with document frequency — the statistic behind stop-shingle cuts,
    contamination screens and boilerplate detection.

    Shape: per-row n-gram array (zip of shifted token slices, no
    Python), explode, ONE partial-aggregated shuffle on the n-gram
    key (map-side combine collapses each partition's counts before
    the exchange — the count stream entering the shuffle is bounded
    by distinct n-grams per partition, not corpus tokens). The
    global top-k goes through orderBy().limit(k), which Catalyst
    plans as TakeOrderedAndProject — a per-partition k-row HEAP plus
    a k-row driver merge, NOT a global sort (a rank-<=k window would
    single-partition-sort every distinct n-gram in the corpus).
    Rank is then assigned on the k surviving rows. Ties break by
    n-gram text ascending, so the result is deterministic.

    Output: (ngram, occurrences, doc_freq, rank), rank 1..k.
    """
    toks = F.split(F.lower(F.col("text")), " ")
    # docs with < n tokens yield no n-grams; clamp the slice length
    # at 0 (a negative length throws under ANSI)
    take = F.greatest(F.size(toks) - (TOP_NGRAM_N - 1), F.lit(0))
    arrs = [F.slice(toks, i + 1, take) for i in range(TOP_NGRAM_N)]
    grams = arrs[0]
    for a in arrs[1:]:
        grams = F.zip_with(
            grams, a, lambda x, y: F.concat(x, F.lit(" "), y)
        )
    g = docs.select("doc_id", F.explode(grams).alias("ngram"))
    counts = g.groupBy("ngram").agg(
        F.count(F.lit(1)).alias("occurrences"),
        F.countDistinct("doc_id").alias("doc_freq"),
    )
    order = [F.desc("occurrences"), F.asc("ngram")]
    topk = counts.orderBy(*order).limit(TOP_NGRAM_K)
    return topk.withColumn(
        "rank", F.row_number().over(Window.orderBy(*order))
    )


# chunk_documents' window and the tokens consecutive windows share
CHUNK_TOKENS = 64
CHUNK_OVERLAP = 16


def chunk_documents(docs: DataFrame) -> DataFrame:
    """Split documents into fixed-token-window chunks with overlap —
    the standard pre-embedding step for retrieval indexes.

    Stride = CHUNK_TOKENS - CHUNK_OVERLAP; chunk i covers tokens
    [i*stride, i*stride + CHUNK_TOKENS). Every token is covered, the
    last chunk may be short, and a doc shorter than one chunk yields
    exactly one chunk. Per-row sequence + explode — the only data
    growth is the intended ~1/(1-overlap/chunk) duplication factor,
    no shuffle at all.

    Output: (doc_id, chunk_idx, start_tok, n_chunk_tokens,
    chunk_hash) — the hash stands in for shipping chunk text to a
    downstream embedder.
    """
    stride = CHUNK_TOKENS - CHUNK_OVERLAP
    toks = F.split(F.lower(F.col("text")), " ")
    n = F.size(toks)
    # starts: 0, stride, 2*stride, ... while start < n AND the chunk
    # adds new tokens (start + overlap < n handles the final window)
    n_chunks = F.greatest(
        F.ceil((n - F.lit(CHUNK_OVERLAP)) / F.lit(stride)).cast("int"),
        F.lit(1),
    )
    starts = F.transform(
        F.sequence(F.lit(0), n_chunks - 1), lambda i: i * stride
    )
    exploded = docs.select(
        "doc_id",
        toks.alias("_toks"),
        F.posexplode(starts).alias("chunk_idx", "start_tok"),
    )
    piece = F.slice(F.col("_toks"), F.col("start_tok") + 1, CHUNK_TOKENS)
    return exploded.select(
        "doc_id",
        "chunk_idx",
        F.col("start_tok").cast("long").alias("start_tok"),
        F.size(piece).cast("long").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", piece).cast("binary")).alias("chunk_hash"),
    )


# token_length_histogram's bucket width, in tokens
TOKEN_BUCKET_SIZE = 16


def token_length_histogram(docs: DataFrame) -> DataFrame:
    """Whitespace-token length distribution in fixed buckets:
    (bucket_lo, n_docs, total_tokens). Scan + one partial-aggregated
    shuffle on ~(max_len / TOKEN_BUCKET_SIZE) groups — the canonical
    "what does my corpus look like" statistic."""
    n_tok = _n_tokens("text")
    lo = (
        F.floor(n_tok / TOKEN_BUCKET_SIZE) * TOKEN_BUCKET_SIZE
    ).cast("long")
    return (
        docs.select(n_tok.alias("n"), lo.alias("bucket_lo"))
        .groupBy("bucket_lo")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("total_tokens"),
        )
    )


def cap_per_group(
    docs: DataFrame,
    cap: int = 100,
) -> DataFrame:
    """Per-group document cap — the per-domain cap web curation
    applies so one hot domain cannot dominate the training mix
    (RefinedWeb-style); here keyed on `group_col`.

    Survivors are chosen in deterministic PSEUDO-RANDOM order
    (md5 of the id, then the id as tie-break), not ingestion order,
    so the kept subset is an unbiased sample of each group and any
    re-run / the oracle reproduces it exactly.

    One row_number window = one hash shuffle on the group key; AQE
    splits a skewed group. The md5 rank key is computed per-row
    before the exchange — nothing but the window crosses the wire.
    """
    if cap < 1:
        raise ValueError("cap_per_group: cap must be >= 1")
    rank_key = F.md5(F.col("doc_id").cast("string").cast("binary"))
    w = Window.partitionBy("source").orderBy(rank_key, "doc_id")
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


def mixture_sample(
    docs: DataFrame,
    rates: dict[str, float],
    default_rate: float = 1.0,
    group_col: str = "source",
) -> DataFrame:
    """Deterministic data-MIXTURE sampling: keep each document with a
    per-source probability (`rates`, falling back to `default_rate`)
    — the "weight the training mix by source" step every large-scale
    pretraining pipeline runs after per-domain caps (cap_per_group
    bounds the tail; this shapes the proportions).

    Determinism instead of RNG: a document survives iff the 32-bit
    md5 draw h32('mix1' || id) < rate * 2^32. The same (seed, id)
    always draws the same uniform, so re-runs, the DuckDB oracle,
    and an incremental re-ingest all make identical decisions —
    sample()/sampleBy's per-partition RNG reproduces none of those.

    Scale shape: the rate table is a LITERAL CASE chain (source
    mixes are dozens of entries, never data-sized), the draw is one
    codegen md5 per row — a pure narrow filter, ZERO shuffles, zero
    joins at any corpus size.

    Output: the surviving rows plus the draw (`u32`) so downstream
    audits can re-check the decision.
    """
    from .dedup import h32

    for src, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"mixture_sample: rate for {src!r} not in [0,1]")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError("mixture_sample: default_rate not in [0,1]")

    def _thresh(rate: float) -> Column:
        # integer threshold — never a float compare the two engines
        # could round differently
        return F.lit(int(rate * 2**32)).cast("long")

    cut: Column = _thresh(default_rate)
    for src, r in rates.items():
        cut = F.when(F.col(group_col) == src, _thresh(r)).otherwise(cut)
    u32 = h32(F.concat(F.lit("mix1"), F.col("doc_id").cast("string")))
    return docs.withColumn("u32", u32).filter(F.col("u32") < cut)


def _bucket_rank(keyed: DataFrame, order: list[str]) -> DataFrame:
    """`keyed` plus `_idx`, the dense global rank from 0 in (`_bkt`,
    *order) order, computed without a global sort. `keyed` is
    hash-partitioned on `_bkt`, a prefix of the sort key: a
    within-bucket row_number rides that partitioning, and each
    bucket's offset is a cumsum over the bucket-count table,
    broadcast back."""
    from .dedup import _register_persist

    w_in = Window.partitionBy("_bkt").orderBy(*order)
    # ranked feeds BOTH the output join and the bucket-size aggregate;
    # persist it (released via dedup.release_persisted, spills to disk
    # past memory) so the second consumer reads the materialized rank,
    # never re-executing the upstream plan — fatal when shuffle_index
    # caps a long curation composition. Bucket sizes are max(_rn) over
    # the ranked output, so no second scan of `keyed` exists at all.
    ranked = _register_persist(
        keyed.withColumn("_rn", F.row_number().over(w_in))
    )
    # the cumsum window is over the bucket-count table, never the data
    w_off = Window.orderBy("_bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        ranked.groupBy("_bkt")
        .agg(F.max("_rn").alias("_n"))
        .withColumn("_off", F.coalesce(F.sum("_n").over(w_off), F.lit(0)))
        .select("_bkt", "_off")
    )
    return ranked.join(F.broadcast(offsets), "_bkt").withColumn(
        "_idx", F.col("_off") + F.col("_rn") - 1
    )


def shuffle_index(
    docs: DataFrame,
    shard_size: int = 100,
    payload_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Deterministic GLOBAL training-order shuffle: assign every
    document a dense permutation index 0..n-1 in md5('shuf1' || id)
    order, plus its output shard — the "shuffle the corpus once,
    write fixed-size shards" step that fixes an epoch's data order.

    The naive row_number() OVER (ORDER BY md5(...)) is a
    single-partition global window — the exact driver-bottleneck
    shape a 100 TB corpus cannot run. This computes the identical
    permutation distributed, in two levels:

      * bucket = first byte of the md5 key (256 buckets). The bucket
        is a PREFIX of the sort key, so (bucket, key, id) order ==
        (key, id) order — the two-level rank is exactly the global
        rank.
      * within-bucket row_number, partitioned on the bucket = one
        hash exchange over 256 balanced groups (md5 prefixes are
        uniform; for a wider cluster raise the prefix to 2 bytes =
        65k buckets).
      * bucket offsets: a 256-row count aggregate, cumulated with a
        single-partition window over those 256 rows (tiny by
        construction) and broadcast back.

    Total: one data-sized exchange + one tiny agg/broadcast — the
    same shape at 500 docs or 100 TB.

    Output: (doc_id, global_idx, shard), global_idx dense from 0.
    """
    if shard_size < 1:
        raise ValueError("shuffle_index: shard_size must be >= 1")
    key = _seeded_key("shuf1", "doc_id")
    # The 32-char md5 sort key never crosses the wire: partition on
    # the 1-byte bucket FIRST (satisfying the window's required
    # hash distribution — no second exchange), then recompute the
    # key post-shuffle. md5 of a short string is cheaper than
    # shuffling 32 extra bytes per row: measured 15.8 -> 15.4 s at
    # local[8] and 9.3 -> 7.9 s at local[32] on 20M rows (8->32
    # speedup 1.7 -> 2.0) vs projecting the key below the exchange.
    keyed = (
        docs.select(
            "doc_id",
            *payload_cols,
            F.conv(F.substring(key, 1, 2), 16, 10)
            .cast("int")
            .alias("_bkt"),
        )
        .repartition(F.col("_bkt"))
        .withColumn("_key", key)
    )
    idx = F.col("_idx")
    return _bucket_rank(keyed, ["_key", "doc_id"]).select(
        "doc_id",
        *payload_cols,
        idx.alias("global_idx"),
        F.floor(idx / shard_size).cast("long").alias("shard"),
    )


def quality_top_fraction(
    docs: DataFrame,
    frac_num: int,
    frac_den: int,
) -> DataFrame:
    """Calibrated quality gate: keep the TOP frac (num/den) of each
    group by score — how real pipelines apply a quality classifier
    ("keep the best 40% per source"), vs a fixed absolute threshold
    that over-prunes clean sources and under-prunes noisy ones.

    The fraction is integer (num/den), and the cut rank is
    ceil(frac * n) in pure integer math — engine-exact, so the
    oracle reproduces the survivor set bit-for-bit (the
    length_quantiles nearest-rank discipline).

    One rank window + one count window on the same group key = ONE
    hash exchange; ties break by id so the cut is deterministic.
    """
    if not (0 < frac_num <= frac_den):
        raise ValueError("quality_top_fraction: need 0 < num <= den")
    w_rank = Window.partitionBy("source").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    w_n = Window.partitionBy("source")
    keep_rank = F.expr(f"({frac_num} * _n + {frac_den - 1}) div {frac_den}")
    return (
        docs.withColumn("_rn", F.row_number().over(w_rank))
        .withColumn("_n", F.count(F.lit(1)).over(w_n))
        .filter(F.col("_rn") <= keep_rank)
        .drop("_rn", "_n")
    )


def token_budget_sample(
    docs: DataFrame,
    budget_tokens: int,
    seed: str = "mix1",
    n_tok_col: str | None = None,
) -> DataFrame:
    """Token-BUDGET sampling: admit documents per group, in
    deterministic pseudo-random (md5, id) order, until the group's
    cumulative token count reaches `budget_tokens` — the "give me
    ~1B tokens per source" request a training-mix spec actually
    makes (document-count rates don't control token mass when
    length distributions differ across sources).

    A document is admitted iff the running token sum INCLUDING it is
    <= budget, plus the first overshooting document when nothing
    fit before it is NOT admitted — exactly: cumulative sum over the
    (md5, id) window <= budget. Deterministic, oracle-replayable.

    One running-sum window on the group key = ONE hash exchange.

    `n_tok_col` swaps the built-in whitespace count for a
    precomputed per-doc token count column — the hook that lets the
    budget run on TOKENIZER-TRUE counts (operators/tokenizer.py
    bpe_token_counts) instead of the whitespace proxy; a 1B-token
    budget is a promise about what the model will see, so the count
    should come from the model's tokenizer.
    """
    if budget_tokens < 0:
        raise ValueError("token_budget_sample: budget must be >= 0")
    rank_key = _seeded_key(seed, "doc_id")
    n_tok = (
        F.col(n_tok_col).cast("long")
        if n_tok_col is not None
        else _n_tokens("text").cast("long")
    )
    w = (
        Window.partitionBy("source")
        .orderBy(rank_key, "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        docs.withColumn("n_tok", n_tok)
        .withColumn("cum_tok", F.sum("n_tok").over(w))
        .filter(F.col("cum_tok") <= budget_tokens)
    )


def length_quantiles(docs: DataFrame) -> DataFrame:
    """Per-group token-length p50/p90/p99 by the NEAREST-RANK rule
    (value at rank ceil(q*n) of the sorted lengths) — integer
    arithmetic end-to-end, so unlike interpolating percentiles the
    result is engine-exact and oracle-checkable. The corpus-health
    dashboard query every curation run wants.

    ceil(q*n) is computed as (q_num*n + q_den - 1) DIV q_den in
    integers — never float-multiplied, so ceil(0.9*50) cannot float
    to 46.

    One window + one aggregate on the same group key = ONE hash
    exchange (the aggregate reuses the window's partitioning).
    """
    n_tok = _n_tokens("text")
    w = Window.partitionBy("source").orderBy("_len", "doc_id")
    ranked = docs.select(
        "source", "doc_id", n_tok.alias("_len")
    ).withColumn("_rn", F.row_number().over(w))

    def _at(q_num: int, q_den: int, name: str) -> Column:
        # _n is constant within the group, so the target rank is a
        # plain per-row expression — nesting max(_n) inside the
        # aggregate would be an illegal nested aggregate
        r = F.expr(f"({q_num} * _n + {q_den - 1}) div {q_den}")
        return F.max(F.when(F.col("_rn") == r, F.col("_len"))).alias(name)

    counted = ranked.withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy("source"))
    )
    return counted.groupBy("source").agg(
        _at(1, 2, "p50_tokens"),
        _at(9, 10, "p90_tokens"),
        _at(99, 100, "p99_tokens"),
        F.max(F.col("_n")).cast("long").alias("n_docs"),
    )


def priority_sample(docs: DataFrame, k: int) -> DataFrame:
    """Priority sampling (Duffield, Lund & Thorup 2007): a weighted
    sample WITHOUT replacement of k items per group whose
    subset-sum estimator is unbiased — the principled way to keep
    "a representative 1%" of a corpus where long documents should
    be kept proportionally more often than short ones, while still
    being able to estimate any total over the dropped mass.

    Priority q_i = w_i / u_i with weight w_i = n_chars and u_i
    uniform in (0, 1]; keep the k largest priorities; tau = the
    (k+1)-th priority; each survivor
    estimates its weight class as w_hat = max(w_i, tau). Groups
    with <= k members keep everything (tau undefined -> w_hat = w).

    Deterministic and engine-exact: u_i = (h32('prio'||id) + 1) / 2^32
    so q_i = w_i * 2^32 / (h + 1) — the numerator w*2^32 stays below
    2^53 for any realistic weight (exactly representable), the
    denominator is an exact integer, and the single IEEE division is
    correctly rounded identically in Spark and DuckDB. No RNG state,
    no resampling drift between re-runs.

    Scale shape: ONE hash exchange on the group key feeding both the
    rank window and the tau window (same partitioning); the priority
    itself is a per-row expression. Identical to the
    quality_top_fraction plan class — safe at any corpus size, and
    AQE splits a skewed group's sort.
    """
    if k < 1:
        raise ValueError("priority_sample: k >= 1 required")
    from .dedup import h32

    h = h32(F.concat(F.lit("prio"), F.col("doc_id").cast("string")))
    q = (
        F.col("n_chars").cast("double")
        * F.lit(4294967296.0)
        / (h + F.lit(1)).cast("double")
    )
    wg = Window.partitionBy("source")
    ranked = docs.select(
        "source",
        "doc_id",
        F.col("n_chars").alias("w"),
        q.alias("priority"),
    ).withColumn(
        "_rn",
        F.row_number().over(
            wg.orderBy(F.desc("priority"), F.asc("doc_id"))
        ),
    )
    tau = F.max(F.when(F.col("_rn") == k + 1, F.col("priority"))).over(wg)
    return (
        ranked.withColumn("_tau", tau)
        .filter(F.col("_rn") <= k)
        .select(
            "source",
            "doc_id",
            "w",
            "priority",
            F.greatest(
                F.col("w").cast("double"), F.coalesce("_tau", F.lit(0.0))
            ).alias("w_hat"),
        )
    )


# equal-frequency buckets perplexity_buckets splits each source into
PPL_BUCKETS = 3


def perplexity_buckets(docs: DataFrame) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): rank
    every document by its unigram-LM surprisal WITHIN its group and
    split the ranking into PPL_BUCKETS equal-frequency buckets —
    bucket 0 ("head") is the most fluent third, the slice CCNet
    keeps outright; the tail is reviewed or dropped. Runs on the
    corpus's own LM (textstats.unigram_logprob), so no external
    model and no RNG.

    Bucket rule, integer-exact in both engines:
    bucket = ((rank - 1) * PPL_BUCKETS) div n with rank ordered by
    (bits_per_token, doc_id) — a deterministic ntile that cannot
    drift on ties the way engine-native NTILE edge rules can.

    Scale shape: unigram_logprob's three combine-friendly exchanges
    (vocabulary-sized, not token-sized), one doc-keyed hash join to
    recover the group column, then ONE group-keyed exchange feeding
    both the rank and count windows. Nothing collected.
    """
    from .textstats import unigram_logprob

    scored = unigram_logprob(docs).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    wg = Window.partitionBy("source")
    ranked = scored.select(
        "doc_id",
        "source",
        "bits_per_token",
        F.row_number()
        .over(wg.orderBy("bits_per_token", "doc_id"))
        .alias("_rn"),
        F.count(F.lit(1)).over(wg).alias("_n"),
    )
    return ranked.select(
        "doc_id",
        "source",
        "bits_per_token",
        F.expr(f"((_rn - 1) * {PPL_BUCKETS}) div _n").alias("ppl_bucket"),
    )


# Bloom filter geometry: BLOOM_M_BITS bits, BLOOM_K_HASHES salted md5
# hashes per SHINGLE_K-token shingle
BLOOM_M_BITS = 4096
BLOOM_K_HASHES = 4


def bloom_bits(benchmark_snippets: list[str]) -> list[int]:
    """The Bloom filter BUILD: the sorted set-bit positions for a
    benchmark suite's SHINGLE_K-token shingles under
    BLOOM_K_HASHES salted md5 hashes. One definition shared by
    bloom_decontaminate and its DuckDB oracle twin so the filter
    cannot drift between the two membership checkers. Python md5
    here is bit-identical to the engines' md5 (same bytes in, same
    hex out)."""
    if not benchmark_snippets:
        raise ValueError("need at least one snippet")
    import hashlib

    def _py_h32(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    bench_shingles: set[str] = set()
    for snip in benchmark_snippets:
        toks = snip.lower().split(" ")
        for i in range(len(toks) - SHINGLE_K + 1):
            bench_shingles.add(" ".join(toks[i : i + SHINGLE_K]))
    return sorted(
        {
            _py_h32(f"{i}:{s}") % BLOOM_M_BITS
            for s in bench_shingles
            for i in range(BLOOM_K_HASHES)
        }
    )


def bloom_decontaminate(
    docs: DataFrame,
    benchmark_snippets: list[str],
) -> DataFrame:
    """Benchmark decontamination through a BLOOM FILTER over
    SHINGLE_K-token shingles — the sketch that replaces `decontaminate`'s
    literal substring chain when the benchmark suite is too large to
    inline (millions of eval n-grams): the filter is m = BLOOM_M_BITS
    bits regardless of suite size, membership is O(BLOOM_K_HASHES)
    per shingle,
    and false positives only ever OVER-flag (a contaminated doc can
    never slip through — the safe direction for decontamination).

    Build (driver-side, the suite is read once): every snippet's
    shingles set bits h_i(s) = h32(f"{i}:{s}") mod m for
    i < BLOOM_K_HASHES. Check (per-row, zero shuffle): a doc is
    flagged iff ANY of its shingles has ALL BLOOM_K_HASHES bits set.
    Both engines share h32/md5 and the whitespace shingling, so flags
    are engine-exact INCLUDING false positives; `n_hit_shingles`
    rides along to size the blast radius. Snippets shorter than
    SHINGLE_K tokens contribute no shingles (use
    `decontaminate` for those).

    At 100 TB the bit set leaves the expression literal and becomes
    a broadcast (the array here is exactly the broadcast payload);
    the per-row check shape is unchanged.
    """
    bits = bloom_bits(benchmark_snippets)
    bits_lit = F.array(*[F.lit(b) for b in bits])

    from .dedup import h32, shingles_col, tokens_col

    def _member(s: Column) -> Column:
        cond = F.lit(True)
        for i in range(BLOOM_K_HASHES):
            pos = F.pmod(
                h32(F.concat(F.lit(f"{i}:"), s)), F.lit(BLOOM_M_BITS)
            ).cast("int")
            cond = cond & F.array_contains(bits_lit, pos)
        return cond

    # staged projections: tokens, then shingles over the bound
    # attribute, then ONE evaluation of the membership-filtered size
    # — interpreted HOF lambdas re-evaluate captured expressions per
    # element, and the two n_hit consumers would otherwise run the
    # whole shingle+filter pipeline twice per row (this exact shape
    # measured 87 s -> re-check per_op_sampling after the fix)
    shingled = docs.select(
        "doc_id", tokens_col(F.col("text")).alias("_lt")
    ).select(
        "doc_id", shingles_col(F.col("_lt")).alias("_sh")
    )
    counted = shingled.select(
        "doc_id",
        F.size(F.filter(F.col("_sh"), _member)).alias("n_hit_shingles"),
    )
    return counted.select(
        "doc_id",
        (F.col("n_hit_shingles") > 0).alias("bloom_hit"),
        "n_hit_shingles",
    )


def sqrt_temperature_mixture(docs: DataFrame) -> DataFrame:
    """Temperature-based mixture rebalancing at tau = 0.5 (the
    multilingual-BERT/XLM-R recipe: sample group g with probability
    proportional to p_g^tau, upweighting rare groups): keep each doc
    with rate r_g = sqrt(n_min / n_g), so sampled group sizes are
    proportional to sqrt(n_g) — exactly the tau = 0.5 share — with
    the smallest group kept whole.

    tau = 0.5 specifically because every step is a CORRECTLY-ROUNDED
    IEEE-754 op (integer divide -> sqrt -> multiply by 2^32, which
    is exact power-of-two scaling): both engines hold bit-identical
    thresholds, which a general pow(p, tau) cannot promise across
    libm implementations. Other dyadic taus compose from repeated
    sqrt if ever needed.

    Admission is the same deterministic md5 gate as mixture_sample:
    keep iff h32('temp'||id) < r_g * 2^32 — no RNG state, re-runs and
    the oracle reproduce the kept set exactly.

    Scale shape: one group-count aggregate (rows = distinct groups),
    its global min as a 1-row broadcast, then a broadcast join back
    on the group key and a per-row threshold — the corpus itself is
    never shuffled.
    """
    from .dedup import h32

    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("_n"))
    nmin = counts.agg(F.min("_n").alias("_nmin"))
    rates = counts.crossJoin(F.broadcast(nmin)).select(
        "source",
        F.sqrt(F.col("_nmin").cast("double") / F.col("_n")).alias(
            "keep_rate"
        ),
    )
    h = h32(F.concat(F.lit("temp"), F.col("doc_id").cast("string")))
    return (
        docs.join(F.broadcast(rates), "source")
        .filter(
            h.cast("double") < F.col("keep_rate") * F.lit(4294967296.0)
        )
        .select("source", "doc_id", "keep_rate")
    )


# hash salt of the count-min sketch rows; the streaming twin
# (streaming/cms_stream.py) must build the same cells
CMS_SEED = "cms"
# sketch shape (cells per row, rows) and the number of top tokens
# a CMS query answers
CMS_WIDTH = 512
CMS_DEPTH = 4
CMS_CANDIDATES_K = 20


def cms_token_counts(docs: DataFrame) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) over corpus
    token frequencies, answered for the top-k tokens with the exact
    count alongside — the MERGEABLE fixed-size frequency summary a
    100 TB pipeline keeps per shard/day and folds by cell-wise '+'
    instead of re-scanning the corpus (the same role the HLL
    registers in aggregate.py play for distinct counts).

    Construction is deterministic and engine-exact: row i of the
    sketch hashes a token to cell h32(CMS_SEED||i||token) mod CMS_WIDTH
    and sums occurrences; the estimate is min over the CMS_DEPTH
    cells, so
    cms_n >= exact_n always (one-sided error, the CMS guarantee the
    gate asserts row-by-row via `inflation`).

    Shape: one partial-aggregated token-count shuffle (volume =
    distinct tokens, not corpus tokens), a depth*width-row sketch
    aggregate over those GROUP rows, candidates via
    TakeOrderedAndProject (heap top-k, never a global sort), and a
    BROADCAST of the tiny sketch back onto the k candidates. Nothing
    data-sized moves twice.

    Output: (token, exact_n, cms_n, inflation, rank), rank
    1..CMS_CANDIDATES_K by exact count desc, token asc.
    """
    toks = docs.select(
        F.explode(tokens_col(F.col("text"))).alias("token")
    ).filter(F.col("token") != "")
    exact = toks.groupBy("token").agg(F.count(F.lit(1)).alias("exact_n"))
    sketch = (
        exact.select(
            "exact_n", F.posexplode(cms_cell_array()).alias("i", "cell")
        )
        .groupBy("i", "cell")
        .agg(F.sum("exact_n").alias("cell_n"))
    )
    return cms_estimate(exact, sketch)


def cms_cell_array() -> Column:
    """The depth hash cells of F.col('token') — ONE definition shared
    by the batch sketch, the streaming per-batch partials, and the
    DuckDB twin, so the cell layout can never drift between them."""
    from .dedup import h32

    return F.array(
        *[
            F.pmod(
                h32(F.concat(F.lit(f"{CMS_SEED}{i}:"), F.col("token"))),
                F.lit(CMS_WIDTH),
            ).cast("int")
            for i in range(CMS_DEPTH)
        ]
    )


def cms_estimate(exact: DataFrame, sketch: DataFrame) -> DataFrame:
    """Finish a CMS query: top-k candidates from the exact (token,
    exact_n) table (heap TakeOrderedAndProject, never a global sort),
    min over the candidate's depth cells from the broadcast sketch.
    Shared by cms_token_counts and the streaming partial merge."""
    order = [F.desc("exact_n"), F.asc("token")]
    top = exact.orderBy(*order).limit(CMS_CANDIDATES_K)
    est = (
        top.select(
            "token",
            "exact_n",
            F.posexplode(cms_cell_array()).alias("i", "cell"),
        )
        .join(F.broadcast(sketch), ["i", "cell"])
        .groupBy("token", "exact_n")
        .agg(F.min("cell_n").alias("cms_n"))
    )
    return est.select(
        "token",
        "exact_n",
        "cms_n",
        (F.col("cms_n") - F.col("exact_n")).alias("inflation"),
        F.row_number().over(Window.orderBy(*order)).alias("rank"),
    )


def curriculum_order(docs: DataFrame) -> DataFrame:
    """Curriculum training order: a dense global index 0..n-1 that
    visits every stage-0 document (in deterministic pseudo-random
    order) before any stage-1 document, and so on — the "easy
    examples first" data order curriculum-training recipes fix per
    epoch, with the shuffle WITHIN each stage as principled as the
    global one.

    Identical two-level trick to shuffle_index, with the stage as
    the leading sort key: bucket = (stage, first md5 byte) — a
    PREFIX of the (stage, key, id) order — so within-bucket
    row_number + cumulated bucket offsets reproduce the exact global
    rank ORDER BY (stage, md5('curr1'||id), id). The offset cumsum runs
    over <= n_stages*256 bucket-count rows (tiny by construction,
    same bound class as shuffle_index's 256), broadcast back; total
    ONE data-sized exchange at any corpus size.

    Output: (doc_id, stage, curriculum_idx), curriculum_idx dense
    from 0.
    """
    key = _seeded_key("curr1", "doc_id")
    keyed = (
        docs.select(
            "doc_id",
            F.col("stage").cast("int").alias("stage"),
            F.conv(F.substring(key, 1, 2), 16, 10)
            .cast("int")
            .alias("_bkt"),
        )
        .repartition(F.col("stage"), F.col("_bkt"))
        .withColumn("_key", key)
    )
    from .dedup import _register_persist

    w_in = Window.partitionBy("stage", "_bkt").orderBy("_key", "doc_id")
    ranked = _register_persist(
        keyed.withColumn("_rn", F.row_number().over(w_in))
    )
    w_off = Window.orderBy("stage", "_bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        ranked.groupBy("stage", "_bkt")
        .agg(F.max("_rn").alias("_n"))
        .withColumn("_off", F.coalesce(F.sum("_n").over(w_off), F.lit(0)))
        .select("stage", "_bkt", "_off")
    )
    return ranked.join(F.broadcast(offsets), ["stage", "_bkt"]).select(
        "doc_id",
        "stage",
        (F.col("_off") + F.col("_rn") - 1).alias("curriculum_idx"),
    )


# share of source groups leakage_safe_split draws into the test side
LEAKAGE_TEST_PERMILLE = 100


def leakage_safe_split(docs: DataFrame) -> DataFrame:
    """Held-out split with a contamination quarantine — the GPT-3
    appendix-C recipe: carve the evaluation set out at the GROUP
    level (hash of `source`, so a domain's near-identical pages
    can never straddle the boundary), then scrub the TRAIN side of
    any document sharing a SHINGLE_K-token shingle with ANY test
    document.
    A naive per-doc random split fails both ways: same-source
    near-dups land on both sides, and verbatim n-gram overlap leaks
    eval text into training.

    Deterministic like mixture_sample: a group is test iff
    h32('split1' || source) % 1000 < LEAKAGE_TEST_PERMILLE — re-runs,
    incremental re-ingest, and the DuckDB oracle all draw the same
    split.

    Scale shape: the split draw is one codegen md5 per row (zero
    shuffles); the quarantine is the overlap_decontaminate shape —
    explode distinct shingles, DISTINCT the test side (one shuffle
    on the shingle key), LEFT SEMI join the train side's shingles
    against it (hash join on the same key), then one doc-keyed
    DISTINCT. Nothing is collected; the test shingle set stays
    distributed (at 10% of a 100 TB corpus it is nowhere near
    broadcastable). Docs with < 5 tokens carry no shingles and
    cannot be quarantined — a sub-shingle doc cannot leak a 5-gram.

    The shingled table is persisted (dedup registry; release with
    dedup.release_persisted() after the result is consumed): the
    exploded corpus feeds BOTH the test-shingle DISTINCT and the
    train-side semi join, and without the pin each branch re-runs
    tokenize+shingle over the whole corpus. The output branch joins
    a shingle-FREE (id, group, split-draw) projection — the original
    shape joined the shingled table itself, dragging every doc's
    shingle array through the doc-keyed exchange; the md5 draw
    recomputes in one codegen scan instead. A/B on the same input,
    same session, identical outputs (sf0.1 documents, local[32],
    steady-state): 13.1 s -> 1.2 s (~11x; persist kills the repeated
    shingle passes, the lean output join kills the array shuffle).

    Output: every input doc as (id, source, split) with split in
    {'test', 'train', 'quarantined'}."""
    from .dedup import _register_persist, h32, shingles_col

    u = h32(F.concat(F.lit("split1"), F.col("source")))
    is_test = (u % 1000 < LEAKAGE_TEST_PERMILLE).alias("is_test")
    shingled = _register_persist(
        docs.select(
            "doc_id",
            is_test,
            tokens_col(F.col("text")).alias("_lt"),
        ).select(
            "doc_id",
            "is_test",
            # shingle over the bound token attribute — never the
            # split() expression (per-element re-tokenization; see
            # _bigram_buckets)
            shingles_col(F.col("_lt")).alias("sh"),
        )
    )
    ex = shingled.select("doc_id", "is_test", F.explode("sh").alias("s"))
    test_sh = ex.filter(F.col("is_test")).select("s").distinct()
    hits = (
        ex.filter(~F.col("is_test"))
        .join(test_sh, "s", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    meta = docs.select("doc_id", "source", is_test)
    return meta.join(hits, "doc_id", "left").select(
        "doc_id",
        "source",
        F.when(F.col("is_test"), F.lit("test"))
        .when(F.col("_hit").isNotNull(), F.lit("quarantined"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


# hashed-bigram feature buckets of the DSIR model
DSIR_BUCKETS = 1024


def _bigram_buckets(toks: Column) -> Column:
    """Hashed-bigram feature buckets for DSIR: bucket(w1, w2) =
    h32('dsir1:' || w1 || ' ' || w2) mod DSIR_BUCKETS, one int per
    bigram INSTANCE (positions matter — repeated bigrams vote
    repeatedly, the paper's bag-of-hashed-ngrams). Empty array for
    docs with < 2 tokens. Pure per-row expression — zero shuffle.

    `toks` must be the token ARRAY column. The pairs come from
    zip_with over two slices of it — both slices are top-level
    children evaluated ONCE per row, and the lambda touches only its
    two element arguments. The first version indexed back into the
    captured tokenizer expression with element_at(tokens(text), i):
    interpreted HOF lambdas re-evaluate captured child expressions
    PER ELEMENT, so every bigram position re-split the whole
    document — O(len^2) per doc, measured as a >40x slowdown at 5M
    docs before it was caught."""
    from .dedup import h32

    n = F.size(toks)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.pmod(
                h32(F.concat(F.lit("dsir1:"), a, F.lit(" "), b)),
                F.lit(DSIR_BUCKETS),
            ).cast("int"),
        ),
    ).otherwise(F.array().cast("array<int>"))


def dsir_importance(docs: DataFrame, target: DataFrame) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling", NeurIPS): score every
    raw document by how much more likely its hashed-bigram features
    are under a small TARGET corpus (the distribution you want more
    of — curated wiki, textbooks, an in-domain seed set) than under
    the raw crawl itself. The standard modern alternative to
    classifier-based quality gates: no trained model, just two
    feature histograms.

    Both distributions are Laplace-smoothed (+1 per bucket) and
    surprisal is QUANTIZED to whole bits with the binary-digit-count
    trick unigram_logprob uses (length(bin(x)) — no libm), so the
    weight is exact integer arithmetic both engines reproduce
    bit-for-bit:

      bits_side(b)   = length(bin(total_side + DSIR_BUCKETS))
                       - length(bin(cnt_side[b] + 1))
      dbits(b)       = bits_raw(b) - bits_target(b)      # log-ratio
      dsir_bits(doc) = sum over the doc's bigram instances of dbits

    Scale shape: per-row bucket arrays (zero shuffle), then TWO
    bucket-keyed partial+final aggregates whose outputs are <=
    DSIR_BUCKETS rows each — the "model" is tiny BY CONSTRUCTION (the
    hashing collapses any vocabulary into DSIR_BUCKETS cells; same
    bounded-state argument as the HDR sketch and kmeans centroids).
    The <= DSIR_BUCKETS-row log-ratio table broadcasts back onto the
    instance stream (map-side, no shuffle), and the per-doc sum is
    ONE doc-keyed combine-friendly aggregate. The raw corpus is
    scanned twice (model build + scoring) — the deliberate trade at
    100 TB: a second columnar scan beats persisting the token-sized
    exploded instance stream.

    Output: (doc_id, n_pairs, dsir_bits, bits_per_pair); docs with
    < 2 tokens are absent (no bigram evidence to weigh).
    """
    def _inst(df: DataFrame) -> DataFrame:
        # tokenize in ONE projection, bucket over the bound attribute
        # in the NEXT — _bigram_buckets' contract (see its docstring)
        toked = df.select(
            "doc_id", tokens_col(F.col("text")).alias("_t")
        )
        return toked.select(
            "doc_id",
            F.explode(
                _bigram_buckets(F.col("_t"))
            ).alias("b"),
        )

    inst = _inst(docs)
    raw_cnt = inst.groupBy("b").agg(F.count(F.lit(1)).alias("raw_n"))
    tgt_cnt = (
        _inst(target)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("tgt_n"))
    )
    raw_tot = raw_cnt.agg(F.sum("raw_n").alias("raw_total"))
    tgt_tot = tgt_cnt.agg(
        F.coalesce(F.sum("tgt_n"), F.lit(0)).alias("tgt_total")
    )
    # every scored instance's bucket exists on the raw side by
    # construction (instances come from the raw corpus); the target
    # side may miss a bucket -> Laplace 0+1
    blen = lambda c: F.length(F.bin(c))  # noqa: E731
    ratio = (
        raw_cnt.join(tgt_cnt, "b", "left")
        .crossJoin(F.broadcast(raw_tot))
        .crossJoin(F.broadcast(tgt_tot))
        .select(
            "b",
            (
                (
                    blen(F.col("raw_total") + F.lit(DSIR_BUCKETS))
                    - blen(F.col("raw_n") + 1)
                )
                - (
                    blen(F.col("tgt_total") + F.lit(DSIR_BUCKETS))
                    - blen(F.coalesce(F.col("tgt_n"), F.lit(0)) + 1)
                )
            )
            .cast("long")
            .alias("dbits"),
        )
    )
    return (
        inst.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("dbits").alias("dsir_bits"),
        )
        .select(
            "doc_id",
            "n_pairs",
            "dsir_bits",
            F.round(
                F.col("dsir_bits") / F.col("n_pairs"), 5
            ).alias("bits_per_pair"),
        )
    )


def dsir_sample(
    docs: DataFrame,
    target: DataFrame,
    keep_permille: int = 250,
) -> DataFrame:
    """DSIR selection: keep the top keep_permille/1000 of scoreable
    documents by importance weight (dsir_bits DESC, doc_id ASC tie
    break) — the deterministic analog of the paper's
    sample-proportional-to-weight draw, same shape as
    quality_top_fraction's gate but over the DSIR weight.

    The global top-fraction is computed WITHOUT a global sort: the
    weight is a small integer, so its value histogram is tiny —
    bucket counts by dsir_bits (partial+final aggregate, volume =
    distinct weight values), a cumulative count over that
    value-ordered table (single-partition window over bounded rows,
    same class as latency_percentiles' histogram), broadcast back,
    and a per-VALUE row_number window (hash-partitioned on
    dsir_bits) decides only the boundary value's admissions:
    selected iff above_cnt + rank_within_value <= m. One data-sized
    doc-keyed exchange total beyond dsir_importance's own.

    m = ceil(keep_permille * n_scoreable / 1000), integer-exact in
    both engines as (n * keep_permille + 999) div 1000.

    Output: the selected rows of dsir_importance.
    """
    if not (0 <= keep_permille <= 1000):
        raise ValueError("dsir_sample: keep_permille must be in [0, 1000]")
    from .dedup import _register_persist

    # the weights table feeds THREE consumers (m, the value
    # histogram, the final join) and Catalyst does not reuse the
    # subtree — persist the doc-sized result so the corpus-scan
    # pipeline underneath runs once (tfidf's tf-table pattern);
    # release with dedup.release_persisted() after consuming
    w = _register_persist(dsir_importance(docs, target))
    m_row = w.agg(F.count(F.lit(1)).alias("_n")).select(
        F.expr(f"(_n * {keep_permille} + 999) div 1000").alias("_m")
    )
    hist = w.groupBy("dsir_bits").agg(F.count(F.lit(1)).alias("_cnt"))
    w_above = (
        Window.orderBy(F.desc("dsir_bits"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = hist.select(
        "dsir_bits",
        F.coalesce(F.sum("_cnt").over(w_above), F.lit(0)).alias("_above"),
    )
    rv = F.row_number().over(
        Window.partitionBy("dsir_bits").orderBy("doc_id")
    )
    return (
        w.join(F.broadcast(cum), "dsir_bits")
        .crossJoin(F.broadcast(m_row))
        .withColumn("_rv", rv)
        .filter(F.col("_above") + F.col("_rv") <= F.col("_m"))
        .select("doc_id", "n_pairs", "dsir_bits", "bits_per_pair")
    )


# decontaminate_spans' shingle length, in tokens
SPAN_SHINGLE_K = 3


def decontaminate_spans(
    docs: DataFrame,
    benchmark_snippets: list[str],
    max_literal_keys: int = 50_000,
) -> DataFrame:
    """Span-level decontamination EXCISION: instead of dropping every
    document that overlaps the benchmark suite (decontaminate /
    overlap_decontaminate — wasteful when one quoted test question
    sits inside an otherwise-good page), cut out exactly the
    contaminated token spans and keep the rest — the surgical variant
    of Lee et al. 2022's substring excision, aimed at a TEST set
    rather than at corpus-internal duplicates.

    A position is contaminated iff its k-token shingle (k =
    SPAN_SHINGLE_K, lowercased) appears anywhere in the benchmark
    suite's own k-token shingles (keyed by xxhash64 over per-token
    hashes — long arithmetic, no per-position string allocation);
    overlapping/touching flagged
    positions merge into maximal intervals via the same
    gaps-and-islands window dedup.duplicate_spans uses, and the
    ORIGINAL-case tokens inside merged intervals are removed.

    Scale shape: up to max_literal_keys distinct benchmark shingle
    hashes (default 50k — comfortably above any snippet-style suite,
    far below plan-size trouble) the set is a driver-built LITERAL,
    so flagging is a per-row filter on the positional-shingle stream
    — zero shuffle and zero extra jobs. ABOVE the threshold the
    operator auto-routes to a broadcast LeftSemi join of the
    positional stream against the (still benchmark-sized) key
    DataFrame — identical membership semantics, never a driver
    collect of the keys, still zero corpus shuffle; only a
    genuinely corpus-sized test set (where broadcast itself stops
    fitting) would need leakage_safe_split's shuffled semi-join.
    The oracle twin is unaffected: it checks the same text-level
    membership, which both physical paths implement. The only
    exchanges either way are the doc-keyed island
    window + span aggregate over FLAGGED positions (hit-volume, not
    corpus-volume) and the doc-keyed join back; the rebuild is
    per-row codegen (covered-position array + indexed filter).

    Output, one row per input doc: (doc_id, n_spans,
    n_tokens_removed, clean_text) — clean docs pass through with 0 /
    0 / original text.
    """
    # Span keys are LONG-typed: per-token xxhash64, then xxhash64
    # over each k-slice of the token-hash array. The earlier
    # md5(concat_ws(slice)) key allocated a joined string AND a
    # 32-char hex string per position — at 5M docs that is ~1e9
    # short-lived strings, and the flag scan ran memory-bound
    # (CORPUS_SCALING per_op_r4b). Hashing longs allocates one
    # k-long slice per position and nothing else. The key is an
    # implementation detail — membership means "this k-shingle's
    # TEXT appears in the benchmark" and the DuckDB twin checks
    # exactly that via its own (md5) proxy, so the engines agree
    # unless xxhash64 collides where text differs (~1e-8 at 1e9
    # positions, and deterministic if it ever happens).
    #
    # The benchmark keys are computed by the SAME Catalyst
    # expression over the literal snippet list (xxhash64 has no
    # stable cross-language twin worth hand-rolling) — a one-row-ish
    # driver job over tiny data, same class as the quantizer fit.
    spark = docs.sparkSession

    def _hashed_toks(df: DataFrame, keep: str) -> DataFrame:
        # two staged projections: tokens, then per-token hashes —
        # interpreted HOF lambdas re-evaluate captured children per
        # element, so the hash transform must run over the BOUND
        # token attribute, and the slice below over the BOUND hash
        # attribute (see _bigram_buckets / PLANS.md)
        return df.select(
            keep, tokens_col(F.col("text")).alias("_lt")
        ).select(
            keep,
            F.transform("_lt", lambda t: F.xxhash64(t)).alias("_hs"),
        )

    hs = F.col("_hs")
    n = F.size(hs)
    spans = F.when(
        n >= SPAN_SHINGLE_K,
        F.transform(
            F.sequence(F.lit(1), n - (SPAN_SHINGLE_K - 1)),
            # the k-window is unrolled into k element_at arguments:
            # interpreted Slice with a lambda-var start allocates a
            # boxed window copy at EVERY position — the A/B on this
            # exact scan measured 12.7x (16.0 s -> 1.26 s at 650k
            # docs, local[32]). element_at reads in place; the key
            # is pure long arithmetic with zero per-position allocs.
            lambda i: F.xxhash64(
                *[F.element_at(hs, i + j) for j in range(SPAN_SHINGLE_K)]
            ),
        ),
    ).otherwise(F.array().cast("array<long>"))

    snip_df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(benchmark_snippets)],
        "snip_id long, text string",
    )
    from .dedup import _register_persist

    # persisted (registry-scoped, released via
    # dedup.release_persisted): the probe and the semi-join below
    # share one computation of the key set
    keys_df = _register_persist(
        _hashed_toks(snip_df, "snip_id")
        .select(F.explode(spans).alias("h"))
        .distinct()
    )
    # probe with limit(max+1): if <= max rows come back that IS the
    # full key set (one benchmark-sized job, the literal fast path);
    # max+1 rows means the suite is too big to inline — route to the
    # broadcast semi-join WITHOUT ever collecting the keys.
    probe = keys_df.limit(max_literal_keys + 1).collect()
    if not probe:
        raise ValueError(
            "decontaminate_spans: no snippet has >= "
            f"{SPAN_SHINGLE_K} tokens"
        )

    positional = _hashed_toks(docs, "doc_id").select(
        "doc_id", F.posexplode(spans).alias("pos", "h")
    )
    if len(probe) <= max_literal_keys:
        test_keys = sorted(r[0] for r in probe)
        hits = positional.filter(F.col("h").isin(test_keys)).select(
            "doc_id", "pos"
        )
    else:
        hits = positional.join(
            F.broadcast(keys_df), "h", "leftsemi"
        ).select("doc_id", "pos")
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_end = F.max(F.col("pos") + (SPAN_SHINGLE_K - 1)).over(w_prev)
    islands = hits.select(
        "doc_id",
        "pos",
        F.sum(
            F.when(
                F.col("pos") > F.coalesce(prev_end, F.lit(-2)) + 1, 1
            ).otherwise(0)
        )
        .over(
            Window.partitionBy("doc_id")
            .orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("island"),
    )
    merged = (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("s"),
            (F.max("pos") + (SPAN_SHINGLE_K - 1)).alias("e"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.col("e") - F.col("s") + 1)
            .cast("long")
            .alias("n_tokens_removed"),
            F.collect_list(F.struct("s", "e")).alias("_spans"),
        )
    )
    covered = F.flatten(
        F.transform(
            F.coalesce(
                F.col("_spans"),
                F.array().cast("array<struct<s:int,e:int>>"),
            ),
            lambda sp: F.sequence(sp["s"], sp["e"]),
        )
    )
    toks_orig = F.split(F.col("text"), " ")
    # covered staged into its own bound column: referencing the
    # flatten/transform chain inside the interpreted filter() lambda
    # would re-expand every merged span ONCE PER TOKEN of the doc
    # (the same HOF re-evaluation pitfall as the shingle call sites;
    # see PLANS.md). n_tokens_removed is read as size(_cov) — equal
    # by construction since merged islands are disjoint — so _cov is
    # referenced TWICE, which stops CollapseProject from inlining
    # the non-cheap chain back into the lambda.
    staged = (
        docs.select("doc_id", "text")
        .join(merged, "doc_id", "left")
        .select(
            "doc_id",
            "text",
            F.coalesce(F.col("n_spans"), F.lit(0)).alias("n_spans"),
            covered.alias("_cov"),
        )
    )
    return staged.select(
        "doc_id",
        "n_spans",
        F.size("_cov").cast("long").alias("n_tokens_removed"),
        F.array_join(
            F.filter(
                toks_orig,
                lambda t, i: ~F.array_contains(F.col("_cov"), i),
            ),
            " ",
        ).alias("clean_text"),
    )


# fuzzy_decontaminate's shingle length, in tokens, and the shingle
# Jaccard that flags a corpus doc
FUZZY_SHINGLE_K = 5
FUZZY_THRESHOLD = 0.5


def fuzzy_decontaminate(docs: DataFrame, benchmark: DataFrame) -> DataFrame:
    """MinHash-LSH FUZZY decontamination: flag corpus documents that
    are NEAR-duplicates of any benchmark document — the
    Brown et al. 2020 / Touvron et al. 2023 recipe for test-set
    leakage that exact-shingle overlap misses (paraphrased or
    lightly-edited benchmark copies). Complements `decontaminate`
    (exact snippet containment) and `overlap_decontaminate`
    (containment ratio): this one catches whole-document near-dups.

    Candidate rule: a (corpus doc, benchmark doc) pair is a candidate
    iff any of the N_BANDS LSH band keys collide — the signature
    machinery is dedup._lsh_shingles_and_bands, the same
    MINHASH_PARAMS / N_BANDS / ROWS_PER_BAND constants as
    minhash_lsh_pairs, so the decontamination tier can never drift
    from the dedup tier. Candidates are exact-verified with true
    shingle Jaccard (LSH-then-verify), so a flag means
    jaccard >= FUZZY_THRESHOLD among banded candidates; band recall is
    probabilistic by construction and the DuckDB oracle twin
    implements the identical rule so the loss is measured, not
    hidden.

    Scale shape: the benchmark side is tiny (benchmark suites), so
    its band table and shingle arrays BROADCAST; the corpus side's
    shingles -> 16 permutation mins -> band keys are all per-row
    expressions over bound attributes (zero corpus exchange), and
    candidate generation is one broadcast hash join. The verify join
    broadcasts the candidate list (hit volume) back onto a single
    corpus shingle scan, the per-doc rollup aggregates hit volume
    only, and the final flag table broadcast-joins onto the corpus.
    At 100 TB: two corpus scans, zero corpus-sized shuffles.

    Output, one row per corpus doc: (doc_id, n_bench_matches,
    best_jaccard, contaminated) — clean docs 0 / 0.0 / false.
    """
    from .dedup import _lsh_shingles_and_bands

    d = docs.select("doc_id", "text")
    b = benchmark.select(F.col("doc_id").alias("bench_id"), "text")
    arr_c, bands_c = _lsh_shingles_and_bands(d, FUZZY_SHINGLE_K)
    arr_b, bands_b = _lsh_shingles_and_bands(
        b.withColumnRenamed("bench_id", "doc_id"), FUZZY_SHINGLE_K
    )
    cand = (
        bands_c.join(
            F.broadcast(
                bands_b.select(
                    F.col("doc_id").alias("bench_id"), "band", "key"
                )
            ),
            ["band", "key"],
        )
        .select("doc_id", "bench_id")
        .distinct()
    )
    sh_c = arr_c.select(
        "doc_id",
        F.col("shingles").alias("sh_a"),
        F.size("shingles").alias("na"),
    )
    sh_b = arr_b.select(
        F.col("doc_id").alias("bench_id"),
        F.col("shingles").alias("sh_b"),
        F.size("shingles").alias("nb"),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    matched = (
        sh_c.join(F.broadcast(cand), "doc_id")
        .join(F.broadcast(sh_b), "bench_id")
        .select(
            "doc_id",
            F.round(
                inter.cast("double")
                / (F.col("na") + F.col("nb") - inter).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= FUZZY_THRESHOLD)
    )
    flags = matched.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bench_matches"),
        F.max("jaccard").alias("best_jaccard"),
    )
    return (
        d.select("doc_id")
        .join(F.broadcast(flags), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bench_matches", F.lit(0))
            .cast("long")
            .alias("n_bench_matches"),
            F.coalesce("best_jaccard", F.lit(0.0)).alias("best_jaccard"),
            (F.coalesce("n_bench_matches", F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
    )


def data_card(docs: DataFrame) -> DataFrame:
    """Per-source corpus DATA CARD — the one-pass summary a corpus
    steward publishes next to a training mix (per source: volume,
    token mass, median length, mean heuristic quality, exact-dup
    rate, dominant language). One row per source.

    Scale shape: the per-doc projection (quality + token count +
    md5) is a zero-shuffle chain on ONE corpus scan feeding three
    partial+final aggregates — the main (source) rollup, the
    (source, md5) dup count collapsed to a source-keyed sum, and the
    (source, lang) mode with a window over the tiny per-source lang
    table. The three per-source results (rows = #sources, driver-
    tiny) broadcast-join at the end. Nothing corpus-sized crosses an
    exchange except the three grouped partials, all map-side
    combinable.

    Float discipline: mean_quality = round-5 of
    sum(quality_micro)/n/1e6 — the numerator is an EXACT integer sum
    (quality_scores' round-5 micro-unit contract), so the division
    chain produces the bit-identical double in both engines
    regardless of aggregation order (a float avg would be
    order-dependent within each engine); p50_tokens is an exact
    interpolated percentile over ints; dup_doc_frac divides two
    exact ints, round-5.
    """
    from pyspark.sql.window import Window

    from .textstats import quality_scores

    base = quality_scores(
        docs, keep_cols=("source", "lang")
    )
    main = base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.expr("percentile(n_tokens, 0.5)").alias("p50_tokens"),
        F.round(
            F.sum("quality_micro").cast("double")
            / F.count(F.lit(1))
            / F.lit(1000000.0),
            5,
        ).alias("mean_quality"),
    )
    dup = (
        docs.select("source", F.md5(F.col("text")).alias("h"))
        .groupBy("source", "h")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("source")
        .agg(
            F.sum(
                F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(F.lit(0))
            ).alias("dup_docs")
        )
    )
    lang_rank = Window.partitionBy("source").orderBy(
        F.desc("lc"), F.asc("lang")
    )
    top_lang = (
        docs.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("lc"))
        .withColumn("r", F.row_number().over(lang_rank))
        .filter(F.col("r") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    return (
        main.join(F.broadcast(dup), "source")
        .join(F.broadcast(top_lang), "source")
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "p50_tokens",
            "mean_quality",
            F.round(
                F.col("dup_docs").cast("double")
                / F.col("n_docs").cast("double"),
                5,
            ).alias("dup_doc_frac"),
            "top_lang",
        )
    )


def softdedup_weights(
    docs: DataFrame,
    clusters: DataFrame | None = None,
) -> DataFrame:
    """SoftDeDup-style duplicate REWEIGHTING (He et al. 2024,
    "SoftDedup: an Efficient Data Reweighting Method for Speeding Up
    Language Model Pre-training"): instead of dropping duplicates,
    every document keeps weight 1/cluster_size — the cluster's total
    sampling mass stays one document's worth, but the optimizer still
    sees every surface form. Hard dedup is the weight-0-or-1 special
    case; soft weights preserve long-tail phrasing diversity that
    keep-first destroys, and the weighted token mass is what a
    sampling-temperature or token-budget stage should consume
    (token_budget_sample's n_tok_col hook accepts weighted_tokens
    directly).

    Two cluster notions, one operator:
    * clusters=None — exact duplicates: cluster = md5(text), one
      corpus-sized window exchange keyed on the hash.
    * clusters=(doc_id, component) — NEAR-dup clusters from
      duplicate_components / duplicate_components_star: one doc-keyed
      equi-join (both sides doc_id — AQE broadcasts the cluster map
      when the duplicate graph is sparse) + one component-keyed
      window exchange, group size bounded by the largest duplicate
      cluster (the LSH bucket caps upstream bound it).

    weighted_tokens divides the raw count by cluster_n directly
    (one long/long IEEE division, rounded at 5 like every fraction
    in this module) instead of multiplying by the already-rounded
    weight — no compounding of rounding error, bit-identical in both
    engines. weighted_tokens_milli is the same mass in integer
    MILLI-tokens ((1000 * n_tokens) div cluster_n — exact floor
    division, no float anywhere) so downstream integer admission
    arithmetic (token_budget_sample's running sum) can consume soft
    weights without a float-to-long truncation ambiguity.

    Output: (doc_id, cluster_key, cluster_n, weight, n_tokens,
    weighted_tokens, weighted_tokens_milli); cluster_key is the md5
    hash (exact mode) or the component id rendered as string
    (cluster mode).
    """
    n_tok = _n_tokens("text").cast("long")
    if clusters is None:
        keyed = docs.select(
            F.col("doc_id"),
            F.md5(F.col("text")).alias("cluster_key"),
            n_tok.alias("n_tokens"),
        )
    else:
        keyed = docs.select(
            F.col("doc_id"), n_tok.alias("n_tokens")
        ).join(
            clusters.select(
                F.col("doc_id"),
                F.col("component").cast("string").alias("cluster_key"),
            ),
            on="doc_id",
            how="inner",
        )
    w = Window.partitionBy("cluster_key")
    return keyed.select(
        "doc_id",
        "cluster_key",
        F.count(F.lit(1)).over(w).alias("cluster_n"),
        "n_tokens",
    ).select(
        "doc_id",
        "cluster_key",
        "cluster_n",
        F.round(F.lit(1.0) / F.col("cluster_n"), 5).alias("weight"),
        "n_tokens",
        F.round(
            F.col("n_tokens") / F.col("cluster_n").cast("double"), 5
        ).alias("weighted_tokens"),
        F.expr("(1000 * n_tokens) div cluster_n").alias(
            "weighted_tokens_milli"
        ),
    )


# most epochs epoch_plan repeats any source
EPOCH_CAP = 4.0


def epoch_plan(
    docs: DataFrame, target_tokens: float, weights: dict[str, float]
) -> DataFrame:
    """Multi-epoch mixture plan: given a token budget LARGER than the
    corpus, decide how many epochs of each source to train on — the
    up-sampling companion to mixture_sample (which only down-samples).
    Pretraining mixes repeat small high-quality sources several times
    but cap repetition (quality degrades past ~4 epochs), so:

        desired_s = target_tokens * w_s / sum(w)     (over observed sources;
                                                      w_s = 1 when unlisted)
        epochs_s  = min(EPOCH_CAP, desired_s / available_s)
        planned_s = min(desired_s, EPOCH_CAP * available_s)

    Scale shape: ONE partial-aggregated shuffle (per-source token
    sums); everything after runs on the <=|sources| row table — the
    total-weight window is single-partition ON THAT TINY TABLE only
    (the shuffle_index offsets pattern), never on data.

    Output: (source, available_tokens, weight, epochs,
    planned_tokens), doubles rounded to 6 dp in lockstep with the
    DuckDB twin.
    """
    from pyspark.sql.window import Window

    for src, w in weights.items():
        if w <= 0:
            raise ValueError(f"epoch_plan: weight for {src!r} must be > 0")
    wexpr: Column = F.lit(1.0)
    for src, w in weights.items():
        wexpr = F.when(F.col("source") == src, F.lit(float(w))).otherwise(
            wexpr
        )
    avail = (
        docs.groupBy("source")
        .agg(F.sum(_n_tokens("text")).alias("available_tokens"))
        .withColumn("weight", wexpr)
    )
    total_w = F.sum("weight").over(
        Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    desired = F.lit(float(target_tokens)) * F.col("weight") / total_w
    return avail.select(
        "source",
        "available_tokens",
        "weight",
        F.round(
            F.least(F.lit(EPOCH_CAP), desired / F.col("available_tokens")),
            6,
        ).alias("epochs"),
        F.round(
            F.least(desired, F.lit(EPOCH_CAP) * F.col("available_tokens")),
            6,
        ).alias("planned_tokens"),
    )


def quantile_normalize(docs: DataFrame, score_col: str) -> DataFrame:
    """Per-group quantile normalization of a score column: map each
    document's score to its WITHIN-GROUP quantile rank in integer
    milli units — q_milli = ((rank - 1) * 1000) div (n - 1) over
    each `source` (0 for the group's minimum, 1000 for its maximum; a
    singleton group maps to 0). The calibration step before mixing
    quality scores across sources: raw scores are not comparable
    between a code corpus and a web corpus, their quantiles are —
    "keep the top 20% of EACH source" needs exactly this table.

    Rank order is (score, doc_id) — fully deterministic under ties,
    so both engines produce identical ranks with no float tolerance
    anywhere.

    Scale shape: ONE group-keyed window exchange (rank + group count
    share it); per-group window state is the group's rows — the same
    class as calibrated_quality_gate, which this generalizes.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("source").orderBy(score_col, "doc_id")
    wg = Window.partitionBy("source")
    ranked = docs.select(
        "doc_id",
        "source",
        score_col,
        F.row_number().over(w).alias("_rk"),
        F.count(F.lit(1)).over(wg).alias("_n"),
    )
    q = F.when(F.col("_n") > 1,
        F.expr("((_rk - 1) * 1000) div (_n - 1)")
    ).otherwise(F.lit(0).cast("long"))
    return ranked.select(
        "doc_id", "source", score_col, q.alias("q_milli")
    )


# smallest quasi-identifier group k_anonymity_audit does not flag
K_ANONYMITY_K = 5


def k_anonymity_audit(docs: DataFrame) -> DataFrame:
    """k-anonymity audit over quasi-identifier combinations
    (Sweeney 2002): group the corpus by the quasi-identifier tuple
    (source, lang, n_chars bucketized by 100 — raw lengths are
    themselves identifying) and flag combinations with
    fewer than K_ANONYMITY_K members. The privacy companion to pii_scrub: PII
    regexes catch direct identifiers, this catches the doc whose
    (source, lang, length-bucket) combination is unique enough to
    re-identify.

    Scale shape: one partial-aggregated groupBy exchange onto the
    combination-cardinality-sized table; the at_risk flag and the
    exposure share (n_docs of at-risk combos) live in the output, so
    the release decision needs no second pass.

    Output: (source, lang, len_bucket, n_docs, at_risk).
    """
    return (
        docs.select(
            "source", "lang", F.expr("n_chars div 100").alias("len_bucket")
        )
        .groupBy("source", "lang", "len_bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn("at_risk", F.col("n_docs") < K_ANONYMITY_K)
    )


# stratified_split's per-stratum val and test shares, in percent
STRATIFIED_VAL_PCT = 10
STRATIFIED_TEST_PCT = 10


def stratified_split(docs: DataFrame) -> DataFrame:
    """EXACT-proportion stratified train/val/test assignment: within
    every stratum, exactly floor(n * STRATIFIED_TEST_PCT / 100)
    documents go to test and floor(n * STRATIFIED_VAL_PCT / 100) to
    val, chosen in deterministic md5 pseudo-random order — the held-out-set
    construction an eval pipeline needs when per-stratum proportions
    must be exact, not expected. This is the exact-count complement
    of `leakage_safe_split` (hash-threshold draw: unbiased but only
    approximately proportioned, plus contamination quarantine) and of
    `mixture_sample` (per-source keep RATES): same family, different
    contract.

    Membership is decided by per-stratum RANK against integer
    cut-offs, not by hash threshold, so proportions hold exactly in
    every stratum however skewed the stratum sizes: rank <= n_test ->
    test, <= n_test + n_val -> val, else train. The rank key is
    md5('split1' || id) with the id as tie-break — re-runs and the
    oracle reproduce the assignment bit-for-bit.

    Scale shape: ONE stratum-keyed exchange shared by the row_number
    window and the count window (same partition key); the md5 rank
    key is computed before the exchange, assignment is per-row
    arithmetic after it. No joins, no driver state; AQE splits a
    skewed stratum.

    Output: (doc_id, source, split) — split in
    {'train','val','test'}.
    """
    rank_key = _seeded_key("split1", "doc_id")
    w = Window.partitionBy("source").orderBy(rank_key, "doc_id")
    wn = Window.partitionBy("source")
    ranked = docs.select(
        "doc_id",
        "source",
        F.row_number().over(w).alias("_rk"),
        F.count(F.lit(1)).over(wn).alias("_n"),
    )
    n_test = F.expr(f"(_n * {STRATIFIED_TEST_PCT}) div 100")
    n_val = F.expr(f"(_n * {STRATIFIED_VAL_PCT}) div 100")
    return ranked.select(
        "doc_id",
        "source",
        F.when(F.col("_rk") <= n_test, F.lit("test"))
        .when(F.col("_rk") <= n_test + n_val, F.lit("val"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


# documents per length_batches training batch
LENGTH_BATCH_SIZE = 8


def length_batches(docs: DataFrame) -> DataFrame:
    """Length-bucketed training-batch construction with a padding-
    waste report: within every group, documents sort by token count
    DESCENDING (id tie-break) and chunk into fixed-size batches — the
    standard bucketing trick that puts like-length sequences
    together, because a batch pads every sequence to its longest
    member and random batching wastes the difference. The output is
    the BATCH table (one row per batch) with the exact integer
    padding-waste share, i.e. the design table that says what
    bucketed batching saves before anyone trains.

    pad_waste_milli = ((n_docs * max_tokens - sum_tokens) * 1000)
    div (n_docs * max_tokens) — exact integer division, zero for a
    batch of equal lengths; the last (possibly short) batch of each
    group reports its true share.

    Scale shape: token counts are a zero-shuffle per-row projection;
    ONE group-keyed exchange carries the row_number window, and the
    (group, batch_id) rollup rides the SAME partitioning (its group
    key is a superset of the window's partition key, so co-location
    is already satisfied — subset-key reuse, no second exchange).
    Batch ids are per-group sequential integers: (rank - 1) div
    LENGTH_BATCH_SIZE.

    Output: (source, batch_id, n_docs, max_tokens, min_tokens,
    sum_tokens, pad_waste_milli).
    """
    n_tok = F.size(F.split(F.col("text"), " ")).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("_tok").desc(), F.col("doc_id"))
    )
    toks = (
        docs.select("doc_id", "source", n_tok.alias("_tok"))
        .withColumn("_rk", F.row_number().over(w))
        .withColumn(
            "batch_id",
            F.expr(f"(_rk - 1) div {LENGTH_BATCH_SIZE}").cast("long"),
        )
    )
    agg = toks.groupBy("source", "batch_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("_tok").alias("max_tokens"),
        F.min("_tok").alias("min_tokens"),
        F.sum("_tok").alias("sum_tokens"),
    )
    return agg.select(
        "source",
        "batch_id",
        "n_docs",
        "max_tokens",
        "min_tokens",
        "sum_tokens",
        F.expr(
            "((n_docs * max_tokens - sum_tokens) * 1000)"
            " div (n_docs * max_tokens)"
        ).alias("pad_waste_milli"),
    )


# pack_sequences_bfd's bin size, in tokens
BFD_CAPACITY = 256


def pack_sequences_bfd(docs: DataFrame) -> DataFrame:
    """Best-fit-decreasing sequence packing — the density upgrade
    over pack_sequences' next-fit: sort the shard's documents by
    token count DESC (doc_id tie-break), place each into the
    FULLEST already-open bin it still fits (lowest bin index on
    ties), else open a new bin. Classic BFD is an 11/9-OPT
    guarantee vs next-fit's 2-OPT; on skewed length mixes it
    recovers most of the padding next-fit wastes, at the cost of
    destroying doc_id adjacency inside bins (a non-issue for
    pretraining batches, which shuffle anyway).

    Same execution shape as pack_sequences: packing is sequential
    WITHIN a shard by nature, so one group-key shuffle +
    applyInPandas linear pass per shard; bin state is a per-group
    list bounded by bins-per-shard. Oversized docs (n_tokens >
    BFD_CAPACITY) open their own bin, never dropped.

    Output: (source, doc_id, n_tokens, bin_idx, offset_in_bin);
    bin_idx numbers bins in OPEN order, offset_in_bin is the fill
    level at placement — deterministic, mirrored by a recursive-CTE
    oracle carrying the bin-load list as value state.
    """
    import pandas as pd

    base = docs.select(
        "source",
        "doc_id",
        F.size(F.split(F.lower(F.col("text")), " "))
        .cast("long")
        .alias("n_tokens"),
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True]
        ).reset_index(drop=True)
        bins: list[int] = []
        out_bin, out_off = [], []
        for nt in pdf["n_tokens"]:
            best_i, best_used = None, -1
            for i, used in enumerate(bins):
                if used + nt <= BFD_CAPACITY and used > best_used:
                    best_i, best_used = i, used
            if best_i is None:
                out_bin.append(len(bins))
                out_off.append(0)
                bins.append(int(nt))
            else:
                out_bin.append(best_i)
                out_off.append(bins[best_i])
                bins[best_i] += int(nt)
        pdf["bin_idx"] = pd.Series(out_bin, dtype="int64")
        pdf["offset_in_bin"] = pd.Series(out_off, dtype="int64")
        return pdf

    group_type = docs.schema["source"].dataType.simpleString()
    schema = (
        f"source {group_type}, doc_id long, n_tokens long, "
        "bin_idx long, offset_in_bin long"
    )
    return base.groupBy("source").applyInPandas(_pack, schema=schema)
