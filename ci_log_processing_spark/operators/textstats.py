"""Text analysis operators: language ID, quality scoring, token
counting, document fingerprinting.

All pure Catalyst expressions (regexp_count / array ops) — the hot
path stays in whole-stage codegen; nothing here needs Python.
Formulas are deterministic and mirrored 1:1 in the DuckDB oracle
(oracle_data.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# tiny per-language stopword marker lists (n-gram heuristic tier;
# a production lang-id swaps in fastText — same plan shape, the
# scoring becomes a pandas UDF over the same column)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "nicht", "ist"],
    "es": ["el", "la", "los", "que", "y", "es"],
    "fr": ["le", "la", "les", "et", "est", "une"],
    "zh": ["de", "shi", "bu", "le", "wo", "ni"],
}

STOPWORDS = LANG_MARKERS["en"]

# BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation
BPE_RX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(text: Column) -> Column:
    return F.split(F.lower(text), " ")


def token_counts(docs: DataFrame) -> DataFrame:
    t = tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(t).alias("n_tokens_ws"),
        F.regexp_count(F.col("text"), F.lit(BPE_RX)).alias("n_tokens_bpe"),
        F.length(F.col("text")).alias("n_chars_actual"),
    )


def token_entropy(docs: DataFrame) -> DataFrame:
    """Unigram token entropy per document — the low-entropy spam
    filter (repeated-token pages score near 0, natural prose near
    ln(vocab)): H = ln(n) - (Σ c·ln c)/n over per-doc token counts.

    Shape: explode → (doc, term) partial+final count (map-side
    combine collapses a spam page's repeats before the exchange) →
    one doc-keyed agg. The Σ c·ln c fold runs over the SORTED count
    list inside one row — a float sum over an engine-chosen
    aggregation order would differ between Spark and the oracle in
    the last ulp, but a sequential fold in ascending-count order is
    bit-reproducible on both (ties are equal values, so tie order
    cannot matter). Output: (doc_id, n_tok, token_entropy).
    """
    terms = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    ).filter(F.col("term") != "")
    tf = terms.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("c")
    )
    per = tf.groupBy("doc_id").agg(
        F.sum("c").alias("n_tok"),
        F.sort_array(
            F.collect_list(F.col("c").cast("double"))
        ).alias("_cs"),
    )
    s = F.aggregate(
        "_cs", F.lit(0.0), lambda acc, c: acc + c * F.log(c)
    )
    return per.select(
        "doc_id",
        "n_tok",
        F.round(
            F.log(F.col("n_tok").cast("double"))
            - s / F.col("n_tok").cast("double"),
            6,
        ).alias("token_entropy"),
    )


def quality_scores(
    docs: DataFrame,
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Length / punctuation / stopword heuristics -> quality score.

    score = 0.4*stopword_ratio_clipped + 0.3*len_score + 0.3*(1 -
    punct_ratio), each term in [0,1]; deterministic, no model.

    EXACT-INTEGER contract (round 5): every ratio is computed in
    integer MICRO-units by floor division over the raw counts —
    sr_micro = (1e6*n_stop) div n_tok, pr_micro = (1e6*n_punct) div
    n_chars, ls_micro = min((1e6*n_tok) div 64, 1e6), and
    quality_micro = (4*min(4*sr_micro, 1e6) + 3*ls_micro +
    3*(1e6 - pr_micro)) div 10 — then divided by 1e6 into the
    published double columns. Dividing the SAME exact integer by 1e6
    yields the bit-identical IEEE double in Spark and DuckDB, so no
    cross-engine 1-ulp rounding tie exists anywhere in the chain
    (the earlier float formula produced engine-dependent doubles
    that flipped the 6th printed decimal on ~1-in-50k docs at
    sf0.1). quality_micro rides along as an exact BIGINT for
    downstream integer consumers (data_card's deterministic mean).
    """
    t = tokens(F.col(text_col))
    n_tok = F.size(t)
    # count stopword OCCURRENCES (array_intersect would dedup)
    n_stop_occ = F.size(F.filter(t, lambda x: x.isin(*STOPWORDS)))
    punct = F.regexp_count(F.col(text_col), F.lit(r"[^A-Za-z0-9\s]"))
    staged = docs.select(
        "doc_id",
        *keep_cols,
        n_tok.alias("_nt"),
        n_stop_occ.cast("long").alias("_ns"),
        punct.cast("long").alias("_np"),
        F.length(F.col(text_col)).cast("long").alias("_nc"),
    ).select(
        "doc_id",
        *keep_cols,
        "_nt",
        F.expr("(1000000 * _ns) div greatest(_nt, 1)").alias("_srm"),
        F.expr("(1000000 * _np) div greatest(_nc, 1)").alias("_prm"),
        F.expr("least((1000000 * CAST(_nt AS BIGINT)) div 64, 1000000)").alias(
            "_lsm"
        ),
    )
    q_micro = F.expr(
        "(4 * least(4 * _srm, 1000000) + 3 * _lsm"
        " + 3 * (1000000 - _prm)) div 10"
    )
    return staged.select(
        "doc_id",
        *keep_cols,
        F.col("_nt").alias("n_tokens"),
        (F.col("_srm") / F.lit(1000000.0)).alias("stopword_ratio"),
        (F.col("_prm") / F.lit(1000000.0)).alias("punct_ratio"),
        (F.col("_lsm") / F.lit(1000000.0)).alias("len_score"),
        (q_micro / F.lit(1000000.0)).alias("quality"),
        q_micro.cast("long").alias("quality_micro"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Marker-hit language guess; ties break by language code order
    (argmax via array_sort of (−hits, lang) structs)."""
    t = tokens(F.col("text"))
    scores = []
    for lang in sorted(LANG_MARKERS):
        hits = F.size(
            F.filter(t, lambda x: x.isin(*LANG_MARKERS[lang]))
        )
        scores.append(F.struct((-hits).alias("neg"), F.lit(lang).alias("lang"), hits.alias("hits")))
    best = F.array_sort(F.array(*scores))[0]
    return docs.select(
        "doc_id",
        best["lang"].alias("lang_guess"),
        best["hits"].alias("marker_hits"),
    )


def attach_lines(docs: DataFrame) -> DataFrame:
    """Plant multi-line structure for the repetition gate query: the
    synthetic documents are single-line, so every doc_id % 4 == 0 is
    doubled with a newline separator (a guaranteed duplicate line).
    Mirrored by the DuckDB oracle (oracle_data.q_repetition)."""
    t = F.col("text")
    return docs.withColumn(
        "ltext",
        F.when(
            F.col("doc_id") % 4 == 0, F.concat(t, F.lit("\n"), t)
        ).otherwise(t),
    )


def attach_boilerplate(docs: DataFrame) -> DataFrame:
    """Plant CROSS-document repeated lines for the corpus-wide line
    dedup gate query (the synthetic docs are single-line and unique,
    so shared boilerplate must be synthesized): most docs get one of
    16 shared banner lines prepended, every doc_id % 5 == 0 a shared
    footer appended, and every doc_id % 97 == 0 is REPLACED by the
    bare footer (an all-boilerplate doc that line dedup must drop
    entirely). Mirrored by oracle_data.q_line_dedup."""
    t = F.col("text")
    banner = F.concat(
        F.lit("boilerplate banner "), (F.col("doc_id") % 16).cast("string")
    )
    footer = F.lit("boilerplate footer")
    body = F.when(F.col("doc_id") % 3 != 0, F.concat(banner, F.lit("\n"), t)).otherwise(t)
    body = F.when(
        F.col("doc_id") % 5 == 0, F.concat(body, F.lit("\n"), footer)
    ).otherwise(body)
    return docs.withColumn(
        "btext",
        F.when(F.col("doc_id") % 97 == 0, footer).otherwise(body),
    )


def line_dedup(docs: DataFrame, min_count: int = 3) -> DataFrame:
    """Corpus-wide repeated-LINE removal (the RefinedWeb / CCNet
    boilerplate pass): delete every line whose total occurrence
    count across the corpus is >= min_count, rebuild each document
    from its surviving lines in original order, and drop documents
    left with no lines at all (C4 semantics for all-boilerplate
    pages).

    Scale shape: line occurrence counting is ONE partial-aggregated
    shuffle on the md5 of the line (fixed-width key — the raw line
    never crosses the wire as a shuffle key); the hot-line set is a
    heavy-hitter table (small by construction — lines repeated >=
    min_count times across a corpus are the boilerplate tail, not
    the corpus) and is BROADCAST into a left-anti join; the rebuild
    is one doc-keyed aggregate whose sort is a per-doc array_sort,
    not a global order. Total: one line-hash exchange + one doc
    exchange at any corpus size. If a corpus's hot set outgrows
    broadcast, drop the hint and the same plan runs as a shuffle
    anti-join co-partitioned on the line hash.

    Output: (doc_id, n_lines, n_kept, clean_text), only docs with
    n_kept >= 1.
    """
    if min_count < 2:
        raise ValueError("line_dedup: min_count must be >= 2")
    split = F.split(F.col("btext"), "\n")
    lines = docs.select(
        "doc_id",
        F.size(split).alias("n_lines"),
        F.posexplode(split).alias("pos", "line"),
    ).withColumn("_h", F.md5(F.col("line").cast("binary")))
    hot = (
        lines.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= min_count)
        .select("_h")
    )
    kept = lines.join(F.broadcast(hot), "_h", "left_anti")
    return kept.groupBy("doc_id").agg(
        F.max("n_lines").alias("n_lines"),
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ),
            "\n",
        ).alias("clean_text"),
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021, table A1):
    duplicate-line fraction, duplicate-line CHARACTER fraction, and
    most-frequent-bigram token fraction.

    Pure per-row array expressions (split / filter / aggregate /
    zip_with) — zero shuffles, so the operator is scan-bound at any
    corpus size. The per-doc bigram MODE is computed as
    array_sort + one aggregate() fold over the sorted array
    (longest equal-run wins; first run at the max = lexicographic
    tie-break), O(n log n) per doc. The naive
    transform(distinct, x -> count(filter(bg, = x))) shape is
    O(d*n) AND leaves codegen for interpreted nested-lambda eval —
    measured 4.4x slower at sf0.1 (11.0 s -> 2.5 s), equal output on
    every doc. Results match the oracle's (-count, bigram)
    struct-sort formula exactly.
    """
    t = F.col("ltext")
    lines = F.split(t, "\n")
    n_lines = F.size(lines)
    dup_line_frac = F.round(
        (n_lines - F.size(F.array_distinct(lines))) / n_lines.cast("double"),
        6,
    )
    # chars inside duplicated lines, via the same sort+run-length
    # fold as the bigram mode below (the nested filter-within-filter
    # shape is O(n^2) and interpreted — the exact trap measured on
    # the bigram path)
    dup_acc0 = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).cast("long").alias("dup"),
    )

    def _dup_merge(acc, x):
        same = x.eqNullSafe(acc["prev"])
        run_new = F.when(same, acc["run"] + 1).otherwise(F.lit(1))
        closed = F.when(
            ~same & (acc["run"] > 1),
            acc["run"].cast("long") * F.length(acc["prev"]),
        ).otherwise(F.lit(0).cast("long"))
        return F.struct(
            x.alias("prev"),
            run_new.alias("run"),
            (acc["dup"] + closed).alias("dup"),
        )

    dup_chars = F.aggregate(
        F.array_sort(lines),
        dup_acc0,
        _dup_merge,
        lambda acc: acc["dup"]
        + F.when(
            acc["run"] > 1, acc["run"].cast("long") * F.length(acc["prev"])
        ).otherwise(F.lit(0).cast("long")),
    )
    total_chars = F.aggregate(
        lines, F.lit(0), lambda acc, x: acc + F.length(x)
    )
    dup_char_frac = F.round(
        dup_chars / F.greatest(total_chars, F.lit(1)).cast("double"), 6
    )
    # bigrams as (a, b) STRUCTS, not concat strings: the winner's
    # display string is built exactly once at the end, which cuts
    # per-bigram string allocation out of the sort+fold hot path —
    # measured 2.6x faster at sf0.1 (4.6 s -> 1.8 s), identical
    # output. Tie-break: struct (a, b) order equals "a<sep>b" string
    # order for any separator sorting below every in-token character
    # — NOT true of the display space once tokens carry newlines
    # (attach_lines plants them; \n < ' ') — so the oracle ranks by
    # a chr(1)-joined key. Divergence would need a NUL inside a
    # token.
    toks = tokens(t)
    bg = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
    )
    pair_t = "struct<a:string,b:string>"
    acc0 = F.struct(
        F.lit(None).cast(pair_t).alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
        F.lit(None).cast(pair_t).alias("bestbg"),
    )

    def _merge(acc, x):
        newrun = (
            F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1)
            .otherwise(F.lit(1))
        )
        better = newrun > acc["best"]
        return F.struct(
            x.alias("prev"),
            newrun.alias("run"),
            F.when(better, newrun).otherwise(acc["best"]).alias("best"),
            F.when(better, x).otherwise(acc["bestbg"]).alias("bestbg"),
        )

    fold = F.aggregate(F.array_sort(bg), acc0, _merge)
    winner = F.concat(
        fold["bestbg"]["a"], F.lit(" "), fold["bestbg"]["b"]
    )
    has_bg = F.size(bg) > 0
    return docs.select(
        "doc_id",
        n_lines.alias("n_lines"),
        dup_line_frac.alias("dup_line_frac"),
        dup_char_frac.alias("dup_line_char_frac"),
        F.when(has_bg, winner).alias("top_bigram"),
        F.when(
            has_bg,
            F.round(
                fold["best"] * F.lit(2.0) / F.size(toks).cast("double"), 6
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("top_bigram_frac"),
    )


def repetition_stats_arrow(docs: DataFrame) -> DataFrame:
    """repetition_stats as one Arrow-batched mapInPandas pass: a
    Counter per doc replaces the per-row array_sort+fold. Zero
    shuffles like the fold version, but the per-doc work runs in
    Python dict hashing instead of interpreted Catalyst higher-order
    exprs — the A/B candidate that tests whether the fold's
    allocation pressure, not the scan, is the bound. Rounding uses
    Decimal HALF_UP on repr(x) to match Spark's BigDecimal.valueOf
    semantics exactly (pytest-asserted equal to repetition_stats).
    """
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("n_lines", IntegerType()),
            StructField("dup_line_frac", DoubleType()),
            StructField("dup_line_char_frac", DoubleType()),
            StructField("top_bigram", StringType()),
            StructField("top_bigram_frac", DoubleType()),
        ]
    )

    def _batches(it):
        import decimal
        from collections import Counter

        import pandas as pd

        def r6(x: float) -> float:
            return float(
                decimal.Decimal(repr(x)).quantize(
                    decimal.Decimal("0.000001"),
                    rounding=decimal.ROUND_HALF_UP,
                )
            )

        for pdf in it:
            out = []
            for did, txt in zip(pdf["doc_id"], pdf["ltext"]):
                lns = txt.split("\n")
                n = len(lns)
                cnt = Counter(lns)
                dup_chars = sum(
                    c * len(ln) for ln, c in cnt.items() if c > 1
                )
                total_chars = sum(len(ln) for ln in lns)
                toks = txt.lower().split(" ")
                if len(toks) >= 2:
                    bgc = Counter(zip(toks, toks[1:]))
                    best = max(bgc.values())
                    a, b = min(p for p, c in bgc.items() if c == best)
                    top = a + " " + b
                    frac = r6(best * 2.0 / len(toks))
                else:
                    top, frac = None, 0.0
                out.append(
                    (
                        did,
                        n,
                        r6((n - len(cnt)) / n),
                        r6(dup_chars / max(total_chars, 1)),
                        top,
                        frac,
                    )
                )
            yield pd.DataFrame(
                out, columns=[f.name for f in out_schema.fields]
            )

    return docs.select("doc_id", "ltext").mapInPandas(
        _batches, out_schema
    )


C4_BLOCKLIST = ["lorem ipsum", "javascript", "{"]


def attach_c4_lines(docs: DataFrame) -> DataFrame:
    """Plant line structure for the C4-cleaner gate query: the
    synthetic docs are single-line and unpunctuated, so derive three
    deterministic lines per doc — a terminal-punctuated prefix (kept
    when long enough), a 2-word line (too short), and an
    unpunctuated suffix (no terminal punctuation). doc_id % 9 == 0
    additionally gets a blocklisted line. Mirrored by
    oracle_data.q_c4_clean."""
    t = F.col("text")
    l1 = F.concat(F.substring(t, 1, 40), F.lit("."))
    l2 = F.lit("too short")
    l3 = F.substring(t, 41, 40)
    base = F.concat_ws("\n", l1, l2, l3)
    return docs.withColumn(
        "ltext",
        F.when(
            F.col("doc_id") % 9 == 0,
            F.concat(base, F.lit("\nthis page uses javascript heavily.")),
        ).otherwise(base),
    )


def c4_line_filter(
    docs: DataFrame,
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020, §2.2
    heuristics, public description): keep a line iff it ends in
    terminal punctuation (. ! ? ") AND has >= 5 words AND contains
    no blocklisted phrase (case-insensitive); a document survives
    iff at least one line remains.

    Pure per-row array expressions (split / filter / array_join) —
    zero shuffles, scan-bound at any corpus size.

    Output: (doc_id, n_lines, n_kept, cleaned, doc_kept).
    """
    lines = F.split(F.col("ltext"), "\n")

    def keep(x):
        ends_punct = (
            x.endswith(".")
            | x.endswith("!")
            | x.endswith("?")
            | x.endswith('"')
        )
        enough_words = F.size(F.split(x, " ")) >= 5
        blocked = F.lit(False)
        for phrase in C4_BLOCKLIST:
            blocked = blocked | F.lower(x).contains(phrase)
        return ends_punct & enough_words & ~blocked

    kept = F.filter(lines, keep)
    return docs.select(
        "doc_id",
        *keep_cols,
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept"),
        F.array_join(kept, "\n").alias("cleaned"),
        (F.size(kept) >= 1).alias("doc_kept"),
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """OpenRefine-style fingerprint: md5 over the sorted distinct
    token set — canonicalizes word order + duplication."""
    t = tokens(F.col("text"))
    canon = F.concat_ws(" ", F.array_sort(F.array_distinct(t)))
    return docs.select(
        "doc_id",
        F.md5(canon.cast("binary")).alias("fingerprint"),
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    max_df_frac: float | None = None,
) -> DataFrame:
    """Top-k salient terms per document — the corpus-keyword /
    topic-tagging pass curation pipelines run after cleaning.

    Ranking is the DETERMINISTIC integer order (tf DESC, df ASC,
    term ASC): highest in-document frequency first, rarest-in-corpus
    breaking ties — a salience order both engines reproduce exactly.
    The float `tfidf` score (tf * ln(N/df)) is exposed alongside for
    consumers; it is NOT the sort key, so a last-ulp libm divergence
    can never reorder rows.

    Plan: explode -> (doc, term) partial+final count (hot terms
    collapse map-side) -> df per term from the COUNTED rows (vocab-
    sized, not corpus-sized) -> join back (AQE broadcasts the vocab
    side while it fits; past that it is an equi-join AQE skew-split
    handles — pair it with a stopword df-cut like ngram_jaccard's
    when the vocabulary itself is web-scale) -> one doc-keyed window
    for the top-k. The tf table feeds BOTH the df aggregate and the
    join, and Catalyst does not reuse the exchange across the
    self-referencing branches (measured: the corpus explode ran
    twice) — so tf is persisted via the dedup registry; release with
    dedup.release_persisted() after consuming. N rides the plan as a
    broadcast 1-row count aggregate (no eager .count() action — the
    function stays lazy and costs no extra corpus scan).

    `max_df_frac` is the web-scale vocabulary prune: drop every term
    whose document frequency exceeds max_df_frac * N BEFORE the
    tf ⋈ df join. The Zipf head (stopwords and boilerplate tokens,
    by far the largest share of tf ROWS since they appear in most
    docs) leaves the join on both sides, shrinking the data-sized
    join input by the head's row mass. This is a semantic cut —
    head terms can no longer be ranked — so it is opt-in and the
    oracle twin (oracle_data.q_tfidf) takes the identical cut.
    """
    from .dedup import _register_persist

    if k < 1:
        raise ValueError("tfidf_top_terms: k must be >= 1")
    if max_df_frac is not None and not (0.0 < max_df_frac <= 1.0):
        raise ValueError("tfidf_top_terms: max_df_frac must be in (0, 1]")
    n_docs = docs.agg(F.count(F.lit(1)).alias("_n_docs"))
    terms = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    ).filter(F.col("term") != "")
    tf = _register_persist(
        terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_docs"))
    if max_df_frac is not None:
        # vocab-sized filter against the lazy 1-row N broadcast; the
        # inner tf ⋈ dfreq join below then drops the head terms' tf
        # rows too — the join side shrinks on BOTH inputs
        dfreq = (
            dfreq.crossJoin(F.broadcast(n_docs))
            .filter(
                F.col("df_docs")
                <= (F.lit(max_df_frac) * F.col("_n_docs"))
            )
            .drop("_n_docs")
        )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df_docs"), F.asc("term")
    )
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= k)
        .select(
            "doc_id",
            "term",
            "tf",
            "df_docs",
            "term_rank",
            (
                F.col("tf")
                * F.log(
                    F.col("_n_docs").cast("double") / F.col("df_docs")
                )
            ).alias("tfidf"),
        )
    )


def model_quality_scores(
    docs: DataFrame,
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Linear bag-of-hashed-ngrams quality classifier — the fastText
    architecture (Joulin et al. 2016) every big curation pipeline
    (CCNet, RefinedWeb) uses for model-based quality filtering,
    with DETERMINISTIC md5-derived weights standing in for trained
    ones (no model artifact exists in this sandbox; swapping in a
    trained weight table is a broadcast-join away).

    Features: word unigrams + adjacent-word bigrams. Weight(f) =
    (md5_32(f) % 2001) - 1000, an integer in [-1000, 1000]; the
    logit is sum(weights) / (1000 * n_features). All feature math is
    INTEGER until the single final division, so the double result is
    bit-identical across engines (the DuckDB oracle recomputes it
    from scratch).

    Plan: per-row higher-order functions (transform/zip_with/
    aggregate) — zero shuffles, whole-stage codegen, scan-bound like
    the rest of the text tier; nothing leaves the row.
    """
    toks = tokens(F.col(text_col))

    def w(c: Column) -> Column:
        h = F.conv(F.substring(F.md5(c.cast("binary")), 1, 8), 16, 10).cast(
            "long"
        )
        return h % 2001 - 1000

    uni = F.aggregate(
        F.transform(toks, w), F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    n = F.size(toks)
    bi_pairs = F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: w(F.concat(a, F.lit(" "), b)),
    )
    bi = F.aggregate(bi_pairs, F.lit(0).cast("long"), lambda acc, x: acc + x)
    n_feat = n + F.greatest(n - 1, F.lit(0))
    logit = (uni + bi) / (n_feat.cast("double") * F.lit(1000.0))
    return docs.select(
        "doc_id",
        *keep_cols,
        logit.alias("model_logit"),
        (logit > 0).alias("model_keep"),
    )


def unigram_logprob(docs: DataFrame) -> DataFrame:
    """Unigram language-model quality score — the CCNet/Gopher-style
    "how surprising is this document under the corpus itself" signal
    used to rank crawl text before training. The corpus IS the LM:
    P(tok) = count(tok) / N over all token instances.

    Surprisal is QUANTIZED to whole bits so the score is exact
    integer arithmetic both engines reproduce bit-for-bit:
    bits(tok) = floor(log2 N) - floor(log2 count(tok)), computed as
    a binary-digit-count difference (length(bin(x)) — no libm), and
    doc_bits = sum over the doc's token instances. The continuous
    variant is one ln() swap away; the quantized score preserves the
    Zipf ordering that matters for filtering (rare-token gibberish
    scores high, boilerplate near 0) while staying oracle-exact.

    Scale shape: explode -> (token) partial+final count aggregate —
    shuffled volume is the vocabulary, not token instances — then
    the instance->vocab hash join co-partitions on the token key the
    vocab aggregate already produced, and the per-doc sum is one
    more partial+final aggregate on doc_id. N joins in as a
    broadcast 1-row literal. Three exchanges total, all
    combine-friendly; nothing is ever collected to the driver.
    """
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    # n_total = total token INSTANCES — summing doc lengths gives the
    # same number as summing vocab counts without re-deriving the
    # whole explode->count->exchange vocab lineage a third time (the
    # original vocab.agg(sum(cnt)) form planned THREE full corpus
    # explodes + two tok exchanges; this is one explode-free scan)
    total = docs.select(
        F.sum(F.size(tokens(F.col("text")))).alias("n_total")
    )
    bits = F.length(F.bin(F.col("n_total"))) - F.length(F.bin(F.col("cnt")))
    return (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .select("doc_id", bits.alias("bits"))
        .groupBy("doc_id")
        .agg(
            F.sum("bits").alias("surprisal_bits"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
        .select(
            "doc_id",
            "surprisal_bits",
            "n_tokens",
            F.round(
                F.col("surprisal_bits") / F.col("n_tokens"), 5
            ).alias("bits_per_token"),
        )
    )


def bigram_logprob(docs: DataFrame) -> DataFrame:
    """Bigram language-model score with Stupid Backoff (Brants et
    al. 2007, "Large Language Models in Machine Translation") — the
    distributed web-scale LM recipe: no normalization, no smoothing,
    a pruned count table, and a flat backoff penalty to the unigram
    estimate. The corpus is its own LM; bigrams seen fewer than
    2 times are PRUNED from the model (the paper's
    singleton cutoff), so rare transitions genuinely back off —
    training on the scored corpus itself would otherwise make the
    backoff arm dead code.

    Same whole-bit quantization as unigram_logprob, so the score is
    integer-exact across engines: a kept bigram costs
    floor-log2(count(w1)) - floor-log2(count(w1 w2)) bits (the
    conditional surprisal), a pruned one costs 2 bits (the
    integer stand-in for -log2(alpha), alpha=0.4 -> 2 bits) plus the
    unigram surprisal of w2. Floor-log2 is a binary-digit-count
    difference — no libm anywhere.

    Scale shape: bigram pairs are built PER ROW (zip_with over two
    array slices) before the explode, so no positional self-join
    ever happens; the unigram and pruned-bigram tables are
    partial+final count aggregates whose shuffled volume is the
    vocabulary, not token instances; the instance->model joins are
    hash joins co-partitioned on keys the aggregates already
    produced; N is a broadcast 1-row literal. The unigram table is
    PERSISTED (dedup registry, release_persisted() frees it) — it
    feeds three consumers (the w1 join, the w2 join, and N), which
    would otherwise each re-scan and re-aggregate the corpus. The
    instance-sized pairs stream is NOT persisted on purpose: caching
    exploded token instances costs more than the one extra corpus
    scan the bigram count table needs. Docs with < 2 tokens have no
    bigram positions and drop out (nothing to score).

    Output: (doc_id, bigram_bits, n_bigrams, n_backoff,
    bits_per_bigram)."""
    from .dedup import _register_persist

    toks = tokens(F.col("text"))
    n = F.size(toks)
    bi_arr = F.zip_with(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    pairs = docs.select("doc_id", F.explode(bi_arr).alias("bg")).select(
        "doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")
    )
    uni = _register_persist(
        docs.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = uni.agg(F.sum("cnt").alias("n_total"))
    bi_model = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("bcnt"))
        .filter(F.col("bcnt") >= 2)
    )
    scored = (
        pairs.join(
            uni.select(F.col("tok").alias("w1"), F.col("cnt").alias("c1")),
            "w1",
        )
        .join(
            uni.select(F.col("tok").alias("w2"), F.col("cnt").alias("c2")),
            "w2",
        )
        .join(bi_model, ["w1", "w2"], "left")
        .crossJoin(F.broadcast(total))
    )
    kept = F.length(F.bin(F.col("c1"))) - F.length(F.bin(F.col("bcnt")))
    backed = (
        F.lit(2)
        + F.length(F.bin(F.col("n_total")))
        - F.length(F.bin(F.col("c2")))
    )
    return (
        scored.select(
            "doc_id",
            F.when(F.col("bcnt").isNotNull(), kept)
            .otherwise(backed)
            .alias("bits"),
            F.col("bcnt").isNull().cast("long").alias("is_bo"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("bits").alias("bigram_bits"),
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("is_bo").alias("n_backoff"),
        )
        .select(
            "doc_id",
            "bigram_bits",
            "n_bigrams",
            "n_backoff",
            F.round(
                F.col("bigram_bits") / F.col("n_bigrams"), 5
            ).alias("bits_per_bigram"),
        )
    )


# Gopher rule filtering (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", table A1): the
# canonical rule-based document filter a 100 TB pretraining corpus is
# cleaned with before any model-based scoring. Thresholds below are
# the paper's; the required-stopword set is the paper's 8-word list.
GOPHER_REQUIRED_STOPWORDS = [
    "the", "be", "to", "of", "and", "that", "have", "with",
]
_BULLET_RX = r"^\s*[-*•]"
_ELLIPSIS_RX = r"(\.\.\.|…)\s*$"


def gopher_rules(docs: DataFrame, min_words: int = 50) -> DataFrame:
    """Gopher rule-based quality filter — per-document rule flags
    plus the conjunction `keep`.

    Rules (each emitted as its own 0/1 column so the attrition
    funnel can attribute drops to a specific rule):
      r_word_count   min_words <= n_words <= 100,000
      r_mean_word_len  3 <= mean word length <= 10
      r_symbol       (# + ...) per word < 0.1
      r_bullet       < 90% of lines start with a bullet
      r_ellipsis     < 30% of lines end with an ellipsis
      r_alpha        > 80% of words contain an [a-z] letter
      r_stopwords    >= 2 distinct required stopwords present

    Scale shape: one projection over the corpus scan — zero
    shuffles, zero joins, all whole-stage-codegen array/regexp
    expressions (the same tier as quality_scores / c4_line_filter).
    Ratios are rounded to 6 dp BEFORE threshold comparison so the
    Spark and DuckDB engines take the same branch on boundary
    values. Reference analogue: the reference drops empty/DEBUG
    lines by fixed rules (logsender.py:394-428); this is the same
    rule-gate pattern at document granularity.
    """
    t = F.col("text")
    words = F.filter(tokens(t), lambda x: x != "")
    n_words = F.size(words)
    nw_d = F.greatest(n_words.cast("double"), F.lit(1.0))
    mean_wl = F.round(
        F.aggregate(
            F.transform(words, F.length),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v.cast("long"),
        ).cast("double")
        / nw_d,
        6,
    )
    n_sym = F.regexp_count(t, F.lit("#")) + F.regexp_count(
        t, F.lit(r"\.\.\.")
    ) + F.regexp_count(t, F.lit("…"))
    symbol_ratio = F.round(n_sym.cast("double") / nw_d, 6)
    lines = F.split(t, "\n")
    nl_d = F.greatest(F.size(lines).cast("double"), F.lit(1.0))
    bullet_ratio = F.round(
        F.size(
            F.filter(lines, lambda x: F.regexp_like(x, F.lit(_BULLET_RX)))
        ).cast("double")
        / nl_d,
        6,
    )
    ellipsis_ratio = F.round(
        F.size(
            F.filter(lines, lambda x: F.regexp_like(x, F.lit(_ELLIPSIS_RX)))
        ).cast("double")
        / nl_d,
        6,
    )
    alpha_ratio = F.round(
        F.size(
            F.filter(words, lambda x: F.regexp_like(x, F.lit("[a-z]")))
        ).cast("double")
        / nw_d,
        6,
    )
    stop_hits = None
    for s in GOPHER_REQUIRED_STOPWORDS:
        hit = F.array_contains(words, s).cast("int")
        stop_hits = hit if stop_hits is None else stop_hits + hit
    rules = {
        "r_word_count": (n_words >= min_words) & (n_words <= 100_000),
        "r_mean_word_len": (mean_wl >= 3.0) & (mean_wl <= 10.0),
        "r_symbol": symbol_ratio < 0.1,
        "r_bullet": bullet_ratio < 0.9,
        "r_ellipsis": ellipsis_ratio < 0.3,
        "r_alpha": alpha_ratio > 0.8,
        "r_stopwords": None,  # filled below (needs stop_hits)
    }
    rules["r_stopwords"] = stop_hits >= 2
    keep = None
    for c in rules.values():
        keep = c if keep is None else keep & c
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_ratio.alias("bullet_ratio"),
        ellipsis_ratio.alias("ellipsis_ratio"),
        alpha_ratio.alias("alpha_ratio"),
        stop_hits.alias("stopword_hits"),
        *[v.cast("int").alias(k) for k, v in rules.items()],
        keep.cast("int").alias("keep"),
    )


# stage order for the attrition funnel — fixed so funnel rows are
# deterministic and the oracle can enumerate the same VALUES list
GOPHER_RULE_ORDER = (
    "r_word_count",
    "r_mean_word_len",
    "r_symbol",
    "r_bullet",
    "r_ellipsis",
    "r_alpha",
    "r_stopwords",
)


def gopher_funnel(docs: DataFrame) -> DataFrame:
    """Filter-attrition funnel over the Gopher rules: for each rule,
    how many documents fail it IN ISOLATION, and how many survive
    rules 1..i applied CUMULATIVELY in GOPHER_RULE_ORDER. The
    curation observability table every corpus-cleaning run wants
    next to its keep-rate.

    Shape: gopher_rules' zero-shuffle projection -> ONE global
    aggregate (7 isolated-fail sums + 7 cumulative-survive sums +
    count, all partial-aggregated map-side) -> a 7-row stack of the
    single result row. Nothing after the scan touches more than one
    row per partition.
    """
    flags = gopher_rules(docs)
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    cum = None
    for i, r in enumerate(GOPHER_RULE_ORDER):
        aggs.append(F.sum(1 - F.col(r)).alias(f"fail_{i}"))
        cum = F.col(r) if cum is None else cum * F.col(r)
        aggs.append(F.sum(cum).alias(f"cum_{i}"))
    one = flags.agg(*aggs)
    stack_args = ", ".join(
        f"{i + 1}, '{r}', fail_{i}, cum_{i}"
        for i, r in enumerate(GOPHER_RULE_ORDER)
    )
    return one.select(
        F.col("n_docs"),
        F.expr(
            f"stack({len(GOPHER_RULE_ORDER)}, {stack_args})"
            " AS (stage_idx, stage, n_fail_alone, n_survive_cum)"
        ),
    ).select("stage_idx", "stage", "n_fail_alone", "n_survive_cum", "n_docs")


def nb_quality_classifier(docs: DataFrame) -> DataFrame:
    """CCNet-style learned quality classifier, trained IN-ENGINE
    (Wenzek et al. 2020 train a fastText model on a high-quality
    reference vs the crawl, then keep documents the model scores
    well; the reference pipeline's analogue is its fixed severity
    routing, logsender.py:394-428 — this is the learned version of
    that gate). The model is hashed-feature-free multinomial Naive
    Bayes: per-token class-conditional counts with Laplace
    smoothing, scored as a per-document log-likelihood-ratio sum.
    `docs` must already carry a 0/1 weak label column (e.g. source
    membership — CCNet's wiki-vs-crawl — or a rule gate such as
    gopher_rules().keep); the same corpus is then scored in full,
    so the output ranks EVERY document, including the unlabeled-
    positive ones the weak rule missed.

    Like unigram_logprob, every log is QUANTIZED to whole bits via
    the binary-digit-count identity bits(x) = length(bin(x)) =
    floor(log2 x) + 1 — the score is exact integer arithmetic both
    engines reproduce bit-for-bit, no libm anywhere:

      llr_bits(tok) = (bits(pos_c + 1) - bits(pos_tot + V))
                    - (bits(neg_c + 1) - bits(neg_tot + V))
      score_bits(doc) = prior_bits + Σ llr_bits over the doc's
                        in-vocab token instances
      prior_bits = bits(n_pos_docs) - bits(n_neg_docs)

    where pos_c/neg_c are the token's instance counts inside
    positive/negative docs, pos_tot/neg_tot the class instance
    totals over the KEPT vocabulary, and V the kept-vocab size
    (Laplace α=1). Tokens with total instance count < 2 are
    pruned (the Zipf tail carries no class signal and would triple
    the join side); out-of-vocab tokens contribute 0 bits (equal
    smoothed mass under both classes at bit granularity).

    Scale shape: explode → (token) partial+final count aggregate —
    the shuffled volume is the vocabulary, not token instances —
    and the vocabulary table is PERSISTED (it feeds both the class
    totals and the model projection; without the persist the corpus
    explode runs twice). The class totals reduce the vocab to ONE
    row that joins back as a broadcast literal, the instance→vocab
    hash join
    co-partitions on the token key the vocab aggregate already
    produced, and the per-doc sum is one more combine-friendly
    aggregate on doc_id. The final doc-keyed left join puts
    zero-in-vocab docs back with score = prior. Nothing data-sized
    is ever collected to the driver; the model "parameters" live in
    the vocab DataFrame, never on the driver.

    Output: (doc_id, label, n_vocab_tokens, llr_bits, prior_bits,
    score_bits, predicted) — predicted = 1 iff score_bits > 0.
    """
    t = F.col("text")
    words = F.filter(tokens(t), lambda x: x != "")
    toks = docs.select(
        F.col("doc_id"),
        F.col("label").cast("long").alias("_lbl"),
        F.explode(words).alias("tok"),
    )
    bits = lambda c: F.length(F.bin(c))  # noqa: E731
    # the vocab lineage (corpus explode + token agg) feeds BOTH the
    # class totals and the model LLR projection — persist the
    # vocabulary-sized table so the corpus is exploded once for
    # training, not twice (release via dedup.release_persisted())
    from .dedup import _register_persist

    vocab = _register_persist(
        toks.groupBy("tok")
        .agg(
            F.sum("_lbl").alias("pos_c"),
            (F.count(F.lit(1)) - F.sum("_lbl")).alias("neg_c"),
        )
        .where(F.col("pos_c") + F.col("neg_c") >= F.lit(2))
    )
    totals = vocab.agg(
        F.sum("pos_c").alias("pos_tot"),
        F.sum("neg_c").alias("neg_tot"),
        F.count(F.lit(1)).alias("v_size"),
    )
    llr = (
        bits(F.col("pos_c") + 1) - bits(F.col("pos_tot") + F.col("v_size"))
    ) - (bits(F.col("neg_c") + 1) - bits(F.col("neg_tot") + F.col("v_size")))
    model = vocab.crossJoin(F.broadcast(totals)).select(
        "tok", llr.cast("long").alias("llr_tok")
    )
    scored = (
        toks.join(model, "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("llr_tok").alias("llr_bits"),
            F.count(F.lit(1)).alias("n_vocab_tokens"),
        )
    )
    priors = docs.agg(
        F.sum(F.col("label").cast("long")).alias("n_pos_docs"),
        F.sum(F.lit(1) - F.col("label").cast("long")).alias("n_neg_docs"),
    ).select(
        (bits(F.col("n_pos_docs")) - bits(F.col("n_neg_docs")))
        .cast("long")
        .alias("prior_bits")
    )
    return (
        docs.select("doc_id", F.col("label").cast("long").alias("label"))
        .join(scored, "doc_id", "left")
        .crossJoin(F.broadcast(priors))
        .select(
            "doc_id",
            "label",
            F.coalesce(F.col("n_vocab_tokens"), F.lit(0)).alias(
                "n_vocab_tokens"
            ),
            F.coalesce(F.col("llr_bits"), F.lit(0)).alias("llr_bits"),
            "prior_bits",
            (
                F.coalesce(F.col("llr_bits"), F.lit(0))
                + F.col("prior_bits")
            ).alias("score_bits"),
            F.when(
                F.coalesce(F.col("llr_bits"), F.lit(0))
                + F.col("prior_bits")
                > 0,
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias("predicted"),
        )
    )


def attach_mess(docs: DataFrame) -> DataFrame:
    """Plant deterministic Unicode/whitespace mess for the
    normalization gate query — the synthetic docs are ASCII-clean,
    so there would otherwise be nothing to normalize:

      * doc_id % 4 == 0: decomposed e+COMBINING ACUTE, tab, double
        space (NFC must compose, whitespace must collapse)
      * doc_id % 4 == 1: decomposed n+COMBINING TILDE and a CRLF
      * doc_id % 4 == 2: PRECOMPOSED é plus NBSP + zero-width
        space (NFC is a no-op; the explicit char maps must act)
      * doc_id % 4 == 3: untouched (the changed=false control)

    Mirrored verbatim by oracle_data.q_normalize."""
    t = F.col("text")
    m = F.col("doc_id") % 4
    return docs.withColumn(
        "mtext",
        F.when(m == 0, F.concat(t, F.lit("  cafe\u0301\tok")))
        .when(m == 1, F.concat(t, F.lit(" nin\u0303o\r\nend")))
        .when(m == 2, F.concat(t, F.lit(" caf\u00e9\u00a0done\u200b")))
        .otherwise(t),
    )


def normalize_text(docs: DataFrame) -> DataFrame:
    """Canonical text normalization — the first pass every corpus
    runs before hashing/dedup, because byte-different spellings of
    the SAME rendered text (composed vs decomposed accents, NBSP vs
    space, CRLF vs LF, zero-width chars) would otherwise defeat
    every exact-hash operator upstream of it (dedup.py).

    Steps, in twin-pinned order (oracle: DuckDB nfc_normalize +
    identical regexp chain):

      1. Unicode NFC composition — the ONLY step Spark SQL cannot
         express (no built-in normalizer), so it is one Arrow-batched
         pandas_udf over unicodedata.normalize; everything after runs
         back in JVM codegen.
      2. NBSP (U+00A0) -> space; zero-width chars (U+200B..D, BOM)
         removed.
      3. Control whitespace [\\t\\r\\n\\x0b\\x0c] -> space.
      4. Collapse space runs, trim.

    Scale shape: per-row, zero shuffle; the Python surface is one
    str->str Arrow column pass (same budget class as the multimodal
    kernels). Output: (doc_id, text_norm, changed, n_chars_norm).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s):
        import unicodedata

        return s.map(
            lambda x: None
            if x is None
            else unicodedata.normalize("NFC", x)
        )

    t = _nfc(F.col("mtext"))
    t = F.regexp_replace(t, "\u00a0", " ")
    t = F.regexp_replace(t, "[\u200b\u200c\u200d\ufeff]", "")
    t = F.regexp_replace(t, "[\t\r\n\x0b\x0c]", " ")
    t = F.regexp_replace(t, "  +", " ")
    t = F.trim(t)
    return docs.select(
        "doc_id",
        F.col("mtext").alias("_raw"),
        t.alias("text_norm"),
    ).select(
        "doc_id",
        "text_norm",
        (F.col("text_norm") != F.col("_raw")).alias("changed"),
        F.length("text_norm").alias("n_chars_norm"),
    )


def vocab_stats(docs: DataFrame) -> DataFrame:
    """Per-source vocabulary health report: type count, token count,
    hapax-legomenon count (types seen exactly once in the source),
    and integer-milli type-token and hapax ratios. The lexical
    companion to corpus_data_card — a source whose TTR collapses is
    boilerplate/template spam; one whose hapax rate explodes is
    OCR noise or gibberish (the two tails Gopher's per-doc rules
    cannot see because they are CORPUS-level, not doc-level).

    Ratios are exact integer floor-divisions on milli scale (the
    softdedup_weights convention) so the twin matches bit-for-bit;
    the float-hungry consumer can divide the raw counts itself.

    Scale shape: explode -> ONE partial+final aggregate on
    (group, token) — shuffled volume is the per-source vocabulary,
    hot tokens collapse map-side — then a second aggregate on the
    vocabulary rows reduces to one row per source. Nothing
    corpus-sized crosses the second exchange.
    """
    vocab = (
        docs.select(
            F.col("source").alias("grp"),
            F.explode(tokens(F.col("text"))).alias("tok"),
        )
        .groupBy("grp", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        vocab.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.sum("cnt").alias("n_tokens"),
            F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)).alias(
                "n_hapax"
            ),
        )
        .select(
            F.col("grp").alias("source"),
            "n_types",
            "n_tokens",
            "n_hapax",
            F.expr("(n_types * 1000) div n_tokens").alias("ttr_milli"),
            F.expr("(n_hapax * 1000) div n_types").alias("hapax_milli"),
        )
    )


def hashed_features(docs: DataFrame, dim: int = 64) -> DataFrame:
    """Feature-hashing doc vectors (the hashing trick, Weinberger
    2009 / VW): every token maps to bucket h32(token) mod dim with a
    sign from an INDEPENDENT hash bit, and the doc's vector is the
    signed token-count sum per bucket — a fixed-dim bag-of-words
    embedding with NO vocabulary state, which is the whole point at
    100 TB: no vocab table to build, broadcast, or keep consistent
    across snapshots; any worker can featurize any shard in one pass.
    The signed sum makes collisions cancel in expectation instead of
    biasing upward (Weinberger Lemma 2).

    Output is the sparse LONG format (doc_id, bucket, weight) —
    exact integers the value-hash gate can compare row-for-row;
    assemble a dense array downstream if a consumer needs one.

    Scale shape: explode + one (doc, bucket)-keyed partial+final
    aggregate; per-doc fan-in is bounded by min(doc tokens, dim)
    groups after the map-side combine. Both hashes are the repo's
    h32 (md5-prefix) primitive, mirrored bit-for-bit in the DuckDB
    twin.
    """
    from ..operators.dedup import h32, tokens_col

    tok = docs.select(
        F.col("doc_id"),
        F.explode(tokens_col(F.col("text"))).alias("_t"),
    ).filter(F.col("_t") != "")
    bucket = (h32(F.col("_t")) % dim).alias("bucket")
    sign = (
        F.lit(1)
        - F.lit(2) * (h32(F.concat(F.lit("s|"), F.col("_t"))) % 2)
    ).alias("_sg")
    return (
        tok.select(F.col("doc_id"), bucket, sign)
        .groupBy("doc_id", "bucket")
        .agg(F.sum("_sg").alias("weight"))
    )


def skipgram_pairs(
    docs: DataFrame,
    window: int = 3,
    min_count: int = 2,
) -> DataFrame:
    """Skip-gram co-occurrence pair counts — the word2vec/GloVe
    preprocessing table: for every token position i, the ordered
    pairs (tok[i], tok[j]) with i < j <= i + window, counted over
    the corpus. This is the sufficient statistic every static-
    embedding trainer (SGNS, GloVe) and PMI-based collocation miner
    consumes; `tool_cooccurrence` is the same idea at the
    conversation/basket grain, this is the token grain.

    Pair generation is a PER-ROW nested array expression (sequence ×
    transform inside Catalyst, no HOF over a join, no self-join on
    positions): fan-out is <= window × len per document before the
    single (tok_a, tok_b)-keyed partial+final count aggregate. The
    Zipf head means map-side combine absorbs most of the volume;
    `min_count` prunes the hapax tail HAVING-style after the final
    aggregate. Empty/short docs contribute nothing (guarded CASE —
    Spark's sequence(a, b) with a > b would generate DESCENDING
    sequences, so both bounds are guarded, not clamped).

    Pairs are DIRECTED left-to-right (the window scans forward;
    symmetric counts are the sum of the two directions, which a
    consumer can fold) — documented contract shared with the oracle.

    Output: (tok_a, tok_b, n) with n >= min_count.
    """
    if window < 1:
        raise ValueError("skipgram_pairs: window must be >= 1")
    pairs = F.expr(
        "CASE WHEN size(_toks) >= 2 THEN "
        "flatten(transform(sequence(1, size(_toks) - 1), i -> "
        f"transform(sequence(i + 1, least(i + {int(window)}, "
        "size(_toks))), j -> "
        "struct(element_at(_toks, i) AS a, element_at(_toks, j) AS b))))"
        " ELSE array() END"
    )
    return (
        docs.select(
            F.split(F.lower(F.col("text")), " ").alias("_toks")
        )
        .select(F.explode(pairs).alias("p"))
        .groupBy(
            F.col("p.a").alias("tok_a"), F.col("p.b").alias("tok_b")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
    )


def collocations(
    docs: DataFrame,
    window: int = 3,
    min_count: int = 5,
) -> DataFrame:
    """Collocation mining by association LIFT over the skip-gram
    pair table: lift = P(a,b) / (P(a)·P(b)) — the log-free face of
    PMI (the same contract as toolgraph.tool_cooccurrence, at the
    token grain). lift >> 1 marks pairs that travel together far
    more than their marginals predict ("new york", "tool call"),
    the phrase/collocation signal an n-gram vocabulary builder or
    tokenizer-merge seeder consumes.

    EXACT integer rule: with n_ab the windowed pair count (N_p the
    total), n_a/n_b the unigram counts (N_t the total),

        lift_milli = (1000 * n_ab * N_t * N_t) div (N_p * n_a * n_b)

    evaluated in DECIMAL(38,0) — at 10^12 tokens the numerator is
    ~1e3·n_ab·1e24, inside decimal128 for any n_ab below ~1e11,
    which a min_count'd pair table satisfies by construction
    (documented bound); the OUTPUT columns are int64.

    Scale shape: the skipgram_pairs aggregate (corpus-sized fan-out
    into a vocabulary²-bounded table) + a unigram count aggregate
    (vocabulary-sized) + two vocab-sized equi-joins AQE broadcasts,
    with the two scalar totals attached as 1-row broadcast cross
    joins. Nothing corpus-sized after the two aggregates.

    Output: (tok_a, tok_b, n_ab, n_a, n_b, lift_milli).
    """
    pairs = skipgram_pairs(
        docs, window=window, min_count=min_count
    ).withColumnRenamed("n", "n_ab")
    uni = (
        docs.select(
            F.explode(
                F.split(F.lower(F.col("text")), " ")
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_tok"))
    )
    n_t = uni.agg(F.sum("n_tok").alias("N_t"))
    n_p = pairs.agg(F.sum("n_ab").alias("N_p"))
    dec = "decimal(38,0)"
    joined = (
        pairs.join(
            uni.select(
                F.col("tok").alias("tok_a"),
                F.col("n_tok").alias("n_a"),
            ),
            "tok_a",
        )
        .join(
            uni.select(
                F.col("tok").alias("tok_b"),
                F.col("n_tok").alias("n_b"),
            ),
            "tok_b",
        )
        .crossJoin(F.broadcast(n_t))
        .crossJoin(F.broadcast(n_p))
    )
    num = (
        F.lit(1000).cast(dec)
        * F.col("n_ab").cast(dec)
        * F.col("N_t").cast(dec)
        * F.col("N_t").cast(dec)
    )
    den = (
        F.col("N_p").cast(dec)
        * F.col("n_a").cast(dec)
        * F.col("n_b").cast(dec)
    )
    return joined.select(
        "tok_a",
        "tok_b",
        "n_ab",
        "n_a",
        "n_b",
        num.alias("_num"),
        den.alias("_den"),
    ).select(
        "tok_a",
        "tok_b",
        "n_ab",
        "n_a",
        "n_b",
        # `div` on decimals is the EXACT integral quotient (bigint) —
        # decimal `/` rounds HALF_UP at its result scale, which can
        # cross an integer boundary the oracle's integer // never does
        F.expr("_num div _den").cast("long").alias("lift_milli"),
    )


def phrase_merge(docs: DataFrame, phrases: DataFrame) -> DataFrame:
    """word2phrase-style GREEDY phrase merging: re-tokenize every
    document with adjacent token pairs from the `phrases` table
    (tok_a, tok_b — typically `collocations` survivors above a lift
    cut) joined into single a_b tokens, scanning left to right and
    never re-using a consumed token. The third stage of the static-
    embedding preprocessing chain (skipgram_pairs -> collocations ->
    THIS), and the input transform a phrase-aware tokenizer or
    vocabulary builder consumes.

    Greedy-without-recursion: the sequential rule start(i) =
    matched(i) AND NOT start(i-1) looks inherently serial, but
    within each maximal RUN of consecutive matched positions the
    starts are simply the even offsets from the run head — so the
    scan becomes gaps-and-islands: island = i - running-count of
    matched positions, run head = min(i) within (doc, island), and
    start is an offset-parity test. One closed form, no recursion,
    no UDF — the same islands trick as duplicate_spans and
    sessionize_events, applied to make a SEQUENTIAL tokenizer rule
    distributed.

    Scale shape: posexplode + a broadcast join against the
    vocab²-bounded phrase table, then every window (lead, running
    count, run min, lag) and the final rebuild aggregate share the
    ONE doc-keyed exchange (identical partition key). Token order in
    the rebuild is FORCED via array_sort over (pos, token) structs.

    Output: (doc_id, text, n_phrases) — text re-tokenized, phrases
    joined with '_'.
    """
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.split(F.lower(F.col("text")), " ")
        ).alias("_p0", "tok"),
    ).select("doc_id", (F.col("_p0") + 1).alias("i"), "tok")
    w = Window.partitionBy("doc_id").orderBy("i")
    cand = toks.withColumn("nxt", F.lead("tok").over(w))
    ph = phrases.select(
        F.col("tok_a").alias("tok"),
        F.col("tok_b").alias("nxt"),
        F.lit(True).alias("_m"),
    ).distinct()
    marked = cand.join(
        F.broadcast(ph), ["tok", "nxt"], "left"
    ).select(
        "doc_id",
        "i",
        "tok",
        "nxt",
        F.coalesce(F.col("_m"), F.lit(False)).alias("matched"),
    )
    rn_m = F.sum(F.col("matched").cast("long")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = marked.withColumn(
        "island", F.col("i") - rn_m
    )
    w_isl = Window.partitionBy("doc_id", "matched", "island")
    run_min = F.min(F.when(F.col("matched"), F.col("i"))).over(w_isl)
    started = marked.withColumn(
        "start",
        F.col("matched") & (((F.col("i") - run_min) % 2) == 0),
    )
    prev_start = F.coalesce(
        F.lag("start").over(w), F.lit(False)
    )
    out_tok = F.when(
        F.col("start"), F.concat_ws("_", F.col("tok"), F.col("nxt"))
    ).otherwise(
        F.when(~prev_start, F.col("tok"))
    )
    rebuilt = (
        started.select(
            "doc_id",
            "i",
            F.col("start"),
            out_tok.alias("_ot"),
            prev_start.alias("_ps"),
        )
        .filter(F.col("_ot").isNotNull())
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("i", F.col("_ot").alias("t")))
            ).alias("_arr"),
            F.sum(F.col("start").cast("long")).alias("n_phrases"),
        )
    )
    return rebuilt.select(
        "doc_id",
        F.array_join(
            F.transform(F.col("_arr"), lambda s: s["t"]), " "
        ).alias("text"),
        "n_phrases",
    )


def watermark_scores(docs: DataFrame) -> DataFrame:
    """Greenlist watermark detector (Kirchenbauer et al. 2023, "A
    Watermark for Large Language Models") — the SYNTHETIC-TEXT
    screening pass a training-data pipeline runs before mixing
    crawled data: watermarked LLM output over-represents "green"
    tokens, where green/red is a pseudo-random partition keyed by
    the PREVIOUS token. The detector recomputes the partition and
    z-tests the green fraction against the gamma = 1/2 null.

    Green rule (both engines bit-for-bit): token i is scored green
    iff h32('wm1' || prev_tok || \\x01 || tok) is even — the same
    md5-prefix hash family as every sampler in curation.py. Exactly
    n_tokens - 1 positions are scored (i >= 2); docs with < 2
    tokens score 0 positions and are never suspect.

    The z-test avoids sqrt entirely: with gamma = 1/2,
        z = (g - n/2) / sqrt(n/4) > lambda
      <=>  2g > n  AND  (2g - n)^2 > lambda^2 * n
    so `suspect` is an exact int64 predicate (lambda^2 = 4 flags
    z > 2, ~p < 0.023 one-sided). green_milli
    (1000g div n) is exposed for threshold sweeps downstream.

    Scale shape: one per-row array fold — zero shuffles, zero joins;
    the pair hash never materializes an exploded pair table (the
    skipgram/bigram contrast: those need corpus-wide aggregation,
    this is a pure per-document statistic).
    """
    t = tokens(F.col("text"))
    pair_green = F.transform(
        F.sequence(F.lit(2), F.size(t)),
        lambda i: (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("wm1"),
                            F.element_at(t, i - 1),
                            F.lit("\x01"),
                            F.element_at(t, i),
                        ).cast("binary")
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 2
            == 0
        ).cast("long"),
    )
    n_scored = F.when(F.size(t) >= 2, F.size(t) - 1).otherwise(0).cast("long")
    n_green = F.when(
        F.size(t) >= 2,
        F.aggregate(pair_green, F.lit(0).cast("long"), lambda a, v: a + v),
    ).otherwise(0)
    out = docs.select(
        "doc_id",
        n_scored.alias("n_scored"),
        n_green.alias("n_green"),
    )
    return out.select(
        "doc_id",
        "n_scored",
        "n_green",
        F.when(
            F.col("n_scored") > 0,
            F.expr("(1000 * n_green) div n_scored"),
        )
        .cast("long")
        .alias("green_milli"),
        (
            (F.col("n_scored") > 0)
            & (2 * F.col("n_green") > F.col("n_scored"))
            & (
                (2 * F.col("n_green") - F.col("n_scored"))
                * (2 * F.col("n_green") - F.col("n_scored"))
                > F.lit(4) * F.col("n_scored")
            )
        ).alias("suspect"),
    )


def source_keyness(
    docs: DataFrame,
    k: int = 5,
    min_count: int = 5,
) -> DataFrame:
    """Distinctive-term keyness per source — the data-card audit
    "which terms characterize THIS slice vs the rest of the corpus"
    (Dunning/Kilgarriff keyness; the per-source face of the
    collocation lift). For each (source, term) 2x2 contingency
    table (a = term instances in the source, b = elsewhere,
    c = other instances in the source, d = elsewhere):

        chi2 = N * (a*d - b*c)^2 / ((a+b)*(c+d)*(a+c)*(b+d))

    Determinism contract: chi2 cannot stay in decimal128 at corpus
    scale ((a*d - b*c)^2 alone can reach ~1e56), so it follows the
    BM25 rule instead — counts are exact int64 (< 2^53, so exactly
    double-representable), chi2 is ONE pinned-order chain of
    correctly-rounded IEEE double ops written identically in both
    engines, and the result is floored to integer MILLI before the
    deterministic ranking (chi2_milli DESC, term ASC), so a last-ulp
    divergence could only ever flip a rank across an exact tie the
    tie-break already owns. `overrep` (a*d > b*c, exact int64 at
    min_count'd vocab scale... evaluated in double for the same
    pinning) distinguishes over- from under-representation, which
    chi2 alone cannot.

    Scale shape: one explode -> (source, term) partial+final count
    aggregate (the ONLY corpus-sized work); term totals come from a
    vocab-sized re-aggregate of THAT table, source totals and the
    grand total from the same lineage (broadcast back); the final
    top-k is a rank window partitioned by source over the
    vocab x sources table. min_count prunes the Zipf tail before
    the window.

    Output: (source, term, n_in, n_out, overrep, chi2_milli, rank).
    """
    if k < 1:
        raise ValueError(f"source_keyness: k={k} < 1")
    st = (
        docs.select(
            "source",
            F.explode(tokens(F.col("text"))).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("a"))
    )
    from .dedup import _register_persist

    st = _register_persist(st)
    term_tot = st.groupBy("term").agg(F.sum("a").alias("y_w"))
    src_tot = st.groupBy("source").agg(F.sum("a").alias("n_s"))
    grand = st.agg(F.sum("a").alias("N"))
    full = (
        st.join(term_tot, "term")
        .join(src_tot, "source")
        .crossJoin(F.broadcast(grand))
        .filter(F.col("a") >= min_count)
        .select(
            "source",
            "term",
            F.col("a").alias("n_in"),
            (F.col("y_w") - F.col("a")).alias("n_out"),
            F.expr(
                "cast(a as double) * cast(N - n_s - (y_w - a) as double)"
                " > cast(y_w - a as double) * cast(n_s - a as double)"
            ).alias("overrep"),
            F.expr(
                "floor(((1000.0 * cast(N as double))"
                " * (cast(a as double) * cast(N - n_s - (y_w - a) as double)"
                "    - cast(y_w - a as double) * cast(n_s - a as double))"
                " * (cast(a as double) * cast(N - n_s - (y_w - a) as double)"
                "    - cast(y_w - a as double) * cast(n_s - a as double)))"
                " / (cast(y_w as double) * cast(N - y_w as double)"
                "    * cast(n_s as double) * cast(N - n_s as double)))"
            )
            .cast("long")
            .alias("chi2_milli"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("chi2_milli"), F.asc("term")
    )
    return full.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def eval_token_f1(pairs: DataFrame) -> DataFrame:
    """Token-overlap F1 scoring — the SQuAD-style eval metric
    (Rajpurkar et al. 2016) run at corpus scale: a training-data
    pipeline is also the EVAL pipeline (score a model's predictions
    against references, or candidate answers against gold spans
    during decontamination triage), and the scorer must be an
    engine operator, not a driver loop.

    The multiset intersection is computed per-row with zero
    shuffles: for each DISTINCT prediction token, min(count in
    prediction, count in reference) — an aggregate() fold over the
    distinct-token array, counting occurrences with filter()
    (size-of-filter is the codegen-safe multiset counter; no map
    state needed). Exact integer output:

        f1_milli = (2000 * common) div (n_pred + n_ref)

    with the conventional edge: BOTH empty -> perfect 1000, one
    empty -> 0. precision/recall milli exposed alongside.

    Scale shape: pure per-row array expressions over the pair table
    — the token arrays never explode, nothing joins, nothing
    aggregates; the cost is O(distinct_pred_tokens x ref_len) per
    row, the same class as the repetition/quality scanners.
    """
    p = F.filter(tokens(F.col("prediction")), lambda x: x != "")
    r = F.filter(tokens(F.col("reference")), lambda x: x != "")
    common = F.aggregate(
        F.array_distinct(p),
        F.lit(0).cast("long"),
        lambda acc, t: acc
        + F.least(
            F.size(F.filter(p, lambda x: x == t)),
            F.size(F.filter(r, lambda x: x == t)),
        ).cast("long"),
    )
    np_, nr = F.size(p).cast("long"), F.size(r).cast("long")
    out = pairs.select(
        "*",
        np_.alias("n_pred"),
        nr.alias("n_ref"),
        common.alias("n_common"),
    )
    both_empty = (F.col("n_pred") == 0) & (F.col("n_ref") == 0)
    return out.select(
        *[
            c for c in pairs.columns
            if c not in ("prediction", "reference")
        ],
        "n_pred",
        "n_ref",
        "n_common",
        F.when(both_empty, F.lit(1000))
        .when(F.col("n_pred") == 0, F.lit(0))
        .otherwise(F.expr("(1000 * n_common) div n_pred"))
        .cast("long")
        .alias("precision_milli"),
        F.when(both_empty, F.lit(1000))
        .when(F.col("n_ref") == 0, F.lit(0))
        .otherwise(F.expr("(1000 * n_common) div n_ref"))
        .cast("long")
        .alias("recall_milli"),
        F.when(both_empty, F.lit(1000))
        .otherwise(F.expr("(2000 * n_common) div (n_pred + n_ref)"))
        .cast("long")
        .alias("f1_milli"),
    )
