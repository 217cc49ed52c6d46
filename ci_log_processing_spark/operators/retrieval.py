"""Lexical retrieval over the corpus — BM25 top-k.

Training-data pipelines are retrieval consumers, not just producers:
mining hard negatives for embedding/contrastive training, attaching
citations to SFT answers, and query-grounded dataset audits all need
"given this text, the k most lexically relevant documents". BM25 is
the standard scorer (Robertson-Sparck Jones idf with tf saturation
and length normalization — the Lucene/Elasticsearch default, i.e.
exactly what the reference's OpenSearch backend runs under its
dashboard searches; logsender ships documents INTO that index,
logscraper.py:171-249, and this operator is the engine-side
equivalent of querying it back out).

Determinism contract (the repo-wide oracle rule): idf is quantized
to whole bits (length(bin(N)) - length(bin(df)) — a binary-digit
count, no libm), the per-term score is one pinned-order chain of
correctly-rounded IEEE double ops that both engines evaluate
identically, and the per-term score is floored to integer MILLI
units before the per-document sum — so the sum is exact integer
arithmetic and immune to float reassociation across partitions.
Ranking is (score_milli DESC, doc_id ASC): fully deterministic.

Scale shape: ONE corpus explode feeding a (doc, term) partial+final
count aggregate (the persisted tf table — shared by the df aggregate
and the candidate join, same registry pattern as tfidf_top_terms);
df is computed from the COUNTED rows (vocabulary-sized); the query
side is explode->distinct on the query set (tiny — broadcast by
AQE); candidate generation is qterm ⋈ tf on the term key; the final
top-k is a row_number window keyed by query id (query-count-sized
exchange). Nothing quadratic: the candidate set is bounded by
sum_over_query_terms(df), and `max_df_frac` prunes the Zipf head —
the WAND/stopword analog for web-scale vocabularies (a term in half
the corpus contributes ~0 idf bits but would fan out N/2 candidate
rows; cutting it changes scores only for pathological queries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup import _register_persist, tokens_col


BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(docs: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Top-k BM25 matches per query document.

    `queries` carries (doc_id, text) — typically a filtered slice of
    the corpus (mine-negatives-for-these-anchors) or an external
    query table with synthetic ids. Per (query, doc, term):

        idf_bits = length(bin(N)) - length(bin(df))
        norm     = tf + k1*(1 - b + b*(dl/avgdl))    [pinned order]
        s_milli  = floor(1000 * idf_bits * (tf*(k1+1)) / norm)

    with the textbook k1 = BM25_K1 = 1.2 and b = BM25_B = 0.75. A
    query never matches its own doc_id.

    and score_milli = sum(s_milli) over matched terms. Query term
    frequency is intentionally ignored (distinct query terms), the
    standard short-query simplification.

    Output: (qid, doc_id, n_terms, score_milli, rank), rank 1..k by
    (score_milli DESC, doc_id ASC).
    """
    if k < 1:
        raise ValueError("bm25_topk: k must be >= 1")
    toks = docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("term")
    )
    tf = _register_persist(
        toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    # df from the COUNTED rows: one row per (doc, term) already, so
    # df(term) = count(*) — vocabulary-sized, never corpus-sized
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    doclen = docs.select(
        "doc_id", F.size(tokens_col(F.col("text"))).alias("dl")
    )
    total = doclen.select(F.sum("dl").alias("t_total"))
    qterms = queries.select(
        F.col("doc_id").alias("qid"),
        F.explode(
            F.array_distinct(tokens_col(F.col("text")))
        ).alias("term"),
    )
    cand = (
        qterms.join(tf, "term")
        .join(df, "term")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(n_docs))
        .crossJoin(F.broadcast(total))
    )
    cand = cand.filter(F.col("qid") != F.col("doc_id"))
    idf_bits = F.length(F.bin(F.col("n_docs"))) - F.length(
        F.bin(F.col("df"))
    )
    # pinned-order IEEE chain — the oracle SQL parenthesizes
    # identically: avgdl division first, then the norm ladder
    avgdl = F.col("t_total") / F.col("n_docs")
    norm = F.col("tf") + F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B) + F.lit(BM25_B) * (F.col("dl") / avgdl)
    )
    s_milli = F.floor(
        F.lit(1000.0)
        * idf_bits
        * (F.col("tf") * F.lit(BM25_K1 + 1.0))
        / norm
    )
    scored = (
        cand.select("qid", "doc_id", s_milli.alias("s"))
        .groupBy("qid", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("s").alias("score_milli"),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("score_milli").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "doc_id", "n_terms", "score_milli", "rank")
    )


def inverted_index(
    docs: DataFrame,
    min_df: int = 1,
    max_df: int = 64,
) -> DataFrame:
    """Positional inverted-index construction: term -> serialized
    posting list "doc:p1,p2|doc:p3" with 1-based token positions —
    the index-build half of the retrieval tier (bm25_topk is the
    query half; it recomputes tf on the fly, this materializes the
    artifact a search system would persist and the reference's
    OpenSearch backend builds internally on ingest,
    logsender.py:467-495).

    Order is FORCED twice, never assumed: positions sort inside each
    (term, doc) posting via sort_array, and postings sort by doc_id
    via array_sort over (doc_id, posting) structs before the join —
    the same force-the-order trick as rl_trajectories, so the flat
    string is deterministic under any shuffle order and the oracle
    hash-matches cell-for-cell.

    The df band [min_df, max_df] is the SCALE guard: max_df caps
    per-term state (a stop-term appearing in f docs would otherwise
    collect an f-sized posting array into ONE reducer row — the
    posting-list analog of the LSH mega-bucket), and min_df drops
    hapax noise. Real systems shard the hot tail instead of dropping
    it; the cap keeps per-group state bounded at any corpus size and
    is the documented trade.

    Scale shape: zero-shuffle posexplode, then a persisted
    (term, doc) partial+final agg feeding BOTH the vocabulary-sized
    df table and the posting build; the df band filters BEFORE the
    posting collect (semi-join on the term key the rows are already
    hashed by), so no reducer ever aggregates a stop-term's f-sized
    list only to throw it away — the cap truly bounds per-group
    state, it doesn't just hide the rows. The final df/n_occ attach
    is a term-keyed join of two vocabulary-sized tables.

    Output: (term, df, n_occurrences, postings).
    """
    return finalize_index(
        posting_rows(docs),
        min_df=min_df,
        max_df=max_df,
    )


def posting_rows(docs: DataFrame) -> DataFrame:
    """The (term, doc) posting GRAIN of the inverted index — the
    mergeable intermediate: positions are doc-local, so posting rows
    from DOC-DISJOINT batches are disjoint and index maintenance is
    plain union at this grain (`merge_posting_rows`), never a
    re-read of the already-indexed corpus. One zero-shuffle
    posexplode + one (term, doc)-keyed partial+final aggregate.

    Output: (term, doc_id, _plist sorted positions, _n_occ).
    """
    pos = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.col("text")), " ")).alias(
            "_p0", "term"
        ),
    ).select("doc_id", "term", (F.col("_p0") + 1).alias("pos"))
    return pos.groupBy("term", "doc_id").agg(
        F.sort_array(F.collect_list("pos")).alias("_plist"),
        F.count(F.lit(1)).alias("_n_occ"),
    )


def merge_posting_rows(stored: DataFrame, delta: DataFrame) -> DataFrame:
    """Incremental index maintenance at the posting grain: for
    doc-disjoint batches the (term, doc) rows are disjoint, so the
    merge is a UNION — the inverted-index analog of
    aggregate.merge_agg_deltas' monoid fold, and the gate proves the
    same identity: finalize(rows(base) ∪ rows(delta)) ==
    index(base ∪ delta). Both inputs are already aggregate-sized;
    the indexed corpus is never re-read."""
    return stored.unionByName(delta)


def finalize_index(
    td: DataFrame, min_df: int = 1, max_df: int = 64
) -> DataFrame:
    """Serialize posting rows into the published index table (the
    df-banded term -> postings strings inverted_index documents)."""
    if min_df < 1 or max_df < min_df:
        raise ValueError(
            "inverted_index: need 1 <= min_df <= max_df"
        )
    td = _register_persist(td)
    band = (
        td.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("_n_occ").alias("n_occurrences"),
        )
        .filter((F.col("df") >= min_df) & (F.col("df") <= max_df))
    )
    posting = F.concat_ws(
        ":",
        F.col("doc_id").cast("string"),
        F.array_join(
            F.transform(F.col("_plist"), lambda p: p.cast("string")),
            ",",
        ),
    )
    posts = (
        td.join(band.select("term"), "term", "left_semi")
        .select(
            "term",
            F.struct(F.col("doc_id"), posting.alias("s")).alias(
                "_post"
            ),
        )
        .groupBy("term")
        .agg(F.array_sort(F.collect_list("_post")).alias("_posts"))
    )
    return posts.join(band, "term").select(
        "term",
        "df",
        "n_occurrences",
        F.array_join(
            F.transform(F.col("_posts"), lambda s: s["s"]), "|"
        ).alias("postings"),
    )


def rrf_fuse(
    rankings: list[DataFrame], k0: int = 60, topk: int = 10
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) — the standard
    hybrid-retrieval combiner: each input ranking contributes
    1/(k0 + rank) per (query, doc) and documents re-rank by the
    summed score, so lexical BM25 and dense ANN lists fuse without
    any score calibration (ranks are comparable, raw scores are
    not). k0=60 is the published default damping.

    EXACT integer rule: the contribution is 1000000 div (k0 + rank)
    in micro-units — at k0=60 every distinct rank maps to a distinct
    integer well past rank 900, and the sum over systems is exact,
    so the fused ORDER is deterministic and the oracle hash-matches
    with no float tolerance. Final rank = (rrf_micro DESC, doc_id).

    Inputs are (qid, doc_id, rank) tables (callers rename); the fuse
    is union -> one (qid, doc)-keyed partial+final aggregate ->
    a qid-keyed row_number window over candidate-sized rows — the
    corpus never appears, cost tracks k x queries x systems.

    Output: (qid, doc_id, rrf_micro, n_systems, rank), rank <= topk.
    """
    if not rankings:
        raise ValueError("rrf_fuse: need at least one ranking")
    if k0 < 1 or topk < 1:
        raise ValueError("rrf_fuse: k0 and topk must be >= 1")
    u = rankings[0].select("qid", "doc_id", "rank")
    for r in rankings[1:]:
        u = u.unionByName(r.select("qid", "doc_id", "rank"))
    scored = u.groupBy("qid", "doc_id").agg(
        F.sum(F.expr(f"1000000 div ({int(k0)} + rank)")).alias(
            "rrf_micro"
        ),
        F.count(F.lit(1)).alias("n_systems"),
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("rrf_micro").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("qid", "doc_id", "rrf_micro", "n_systems", "rank")
    )
