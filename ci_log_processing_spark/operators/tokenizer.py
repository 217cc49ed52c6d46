"""BPE tokenizer-merge training over the corpus — the one
tokenizer-adjacent job a training-data pipeline runs at full corpus
scale (Sennrich et al. 2016, "Neural Machine Translation of Rare
Words with Subword Units").

The classic algorithm never iterates over the corpus: it aggregates
the corpus ONCE into a (word, freq) table, then runs every merge
round over that table — which is exactly the shape that survives
100 TB. Here:

  1. ONE distributed explode + partial/final count builds the word
     frequency table (the only corpus-sized pass; map-side combine
     collapses repeats before the exchange).
  2. Each merge round runs three model-sized jobs over the persisted
     word table: adjacent-pair extraction (array transform), a
     freq-weighted pair count (partial+final agg), and a
     TakeOrdered(1) for the argmax pair. The table is vocabulary-
     sized, not corpus-sized — at web scale it is millions of rows
     against trillions of corpus tokens.
  3. The winning pair is applied to every word with ONE literal
     (non-regex) `replace` over a separator-framed symbol string —
     left-to-right, non-overlapping, the exact semantics of the
     reference implementation's `re.sub` pass, and byte-identical
     between Spark and DuckDB (both scan L2R and restart after the
     replacement).

Symbol strings frame every symbol with a DOUBLED \\x01 separator
(`^^a^^b^^</w>^^` with ^ = \\x01): a merge pattern consumes one
separator from each side and re-emits it, so boundaries survive
replacement and adjacent matches still work without lookarounds
(which RE2/DuckDB lack — and literal replace beats regex anyway).

Ties in pair frequency break by (left, right) lexicographic order —
bytewise-identical in Spark and DuckDB for the ASCII symbols this
produces. All counts are integers; there is no float anywhere, so
the oracle twin (oracle_data.q_bpe_merges, an UNROLLED n_merges-deep
CTE chain) matches hash-exactly.

Reference scope note: the reference pipeline (logscraper) has no
tokenizer tier — this module is part of the beyond-reference
training-data surface, like operators/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .dedup import _register_persist

SEP = "\x01"
SEP2 = SEP + SEP
EOW = "</w>"

MERGES_SCHEMA = StructType(
    [
        StructField("merge_rank", IntegerType(), False),
        StructField("lhs", StringType(), False),
        StructField("rhs", StringType(), False),
        StructField("merged", StringType(), False),
        StructField("pair_freq", LongType(), False),
    ]
)


def word_freq(docs: DataFrame) -> DataFrame:
    """(word, freq) over whitespace-split words — the single
    corpus-sized pass. Words containing the \\x01 framing byte are
    dropped (they cannot be framed; real corpora never contain
    control bytes after C4-style cleaning, operators/textstats.py)."""
    w = F.explode(F.split(F.col("text"), " ")).alias("word")
    return (
        docs.select(w)
        .filter((F.col("word") != "") & ~F.col("word").contains(SEP))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def _framed() -> F.Column:
    """word -> '^^c1^^c2^^...^^</w>^^' symbol string (^ = \\x01)."""
    syms = F.concat(F.split(F.col("word"), ""), F.array(F.lit(EOW)))
    return F.concat(
        F.lit(SEP2), F.array_join(syms, SEP2), F.lit(SEP2)
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    """Freq-weighted adjacent-symbol-pair counts over the word
    table. The symbol list is staged in a projection BEFORE the
    transform consumes it twice (the staged-tokenization rule from
    the bloom_decontaminate fix — interpreted HOF lambdas re-evaluate
    captured expressions per consumer)."""
    staged = words.select(
        "freq",
        F.filter(
            F.split(F.col("s"), SEP2), lambda x: x != F.lit("")
        ).alias("syms"),
    ).filter(
        # fully-merged words (one symbol) have no pairs; without the
        # guard sequence(1, 0) DESCENDS in Spark and element_at
        # walks off the array
        F.size("syms") >= 2
    )
    pairs = staged.select(
        "freq",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("syms") - 1),
                lambda i: F.struct(
                    F.element_at("syms", i).alias("lhs"),
                    F.element_at("syms", i + 1).alias("rhs"),
                ),
            )
        ).alias("p"),
    )
    return pairs.groupBy("p.lhs", "p.rhs").agg(
        F.sum("freq").alias("pair_freq")
    )


def bpe_train_words(
    docs: DataFrame, n_merges: int = 8
) -> tuple[list[dict], DataFrame]:
    """Run `n_merges` BPE merge rounds; return (merges, word table
    with final symbol strings). Each round collects exactly ONE row
    (the argmax pair — the model update, like kmeans_fit's centroid
    collect in operators/similarity.py); the word table itself never
    reaches the driver.

    Stops early if no adjacent pair remains (every word fully
    merged); callers asserting a fixed merge count should size
    n_merges to the corpus.
    """
    words = _register_persist(
        word_freq(docs).select(
            "word", "freq", _framed().alias("s")
        )
    )
    merges: list[dict] = []
    cur = words
    for rank in range(1, n_merges + 1):
        top = (
            _pair_counts(cur)
            .orderBy(F.desc("pair_freq"), F.asc("lhs"), F.asc("rhs"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        lhs, rhs, pf = top[0]["lhs"], top[0]["rhs"], top[0]["pair_freq"]
        merges.append(
            {
                "merge_rank": rank,
                "lhs": lhs,
                "rhs": rhs,
                "merged": lhs + rhs,
                "pair_freq": int(pf),
            }
        )
        # one literal replace per round; lineage is n_merges stacked
        # codegen'd replaces over the persisted base — no re-shuffle
        cur = cur.withColumn(
            "s",
            F.replace(
                F.col("s"),
                F.lit(SEP + lhs + SEP2 + rhs + SEP),
                F.lit(SEP + lhs + rhs + SEP),
            ),
        )
    return merges, cur


def bpe_merges(docs: DataFrame, n_merges: int = 8) -> DataFrame:
    """The learned merge table (merge_rank, lhs, rhs, merged,
    pair_freq) — n_merges rows, the tokenizer model artifact."""
    spark = SparkSession.getActiveSession()
    merges, _ = bpe_train_words(docs, n_merges)
    return spark.createDataFrame(merges, MERGES_SCHEMA)


def bpe_token_counts(docs: DataFrame, n_merges: int = 8) -> DataFrame:
    """Per-document token count under the learned BPE vocabulary.

    Encoding does NOT re-apply merges per document: the training
    word table already holds every word's final segmentation, so
    encoding is explode(words) ⋈ word-table (AQE picks broadcast
    iff the vocab fits — on web corpora this is a plain shuffle
    join, which is why no broadcast hint is forced) + one doc-keyed
    sum. Per-word token count = symbol count of the final framed
    string; the </w> marker counts as part of the last symbol in
    spirit but is its own symbol here, so `n_bpe_tokens` counts it —
    consistent in the oracle, and a constant offset per word either
    way. Words dropped by word_freq's \\x01 guard count 0.
    """
    _, final_words = bpe_train_words(docs, n_merges)
    per_word = final_words.select(
        "word",
        F.size(
            F.filter(
                F.split(F.col("s"), SEP2), lambda x: x != F.lit("")
            )
        ).alias("n_word_tokens"),
    )
    exploded = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.col("text"), " ")).alias("word"),
        )
        .filter((F.col("word") != "") & ~F.col("word").contains(SEP))
    )
    return (
        exploded.join(per_word, "word")
        .groupBy("doc_id")
        .agg(F.sum("n_word_tokens").alias("n_bpe_tokens"))
    )


def bpe_token_counts_arrow(docs: DataFrame, n_merges: int = 8) -> DataFrame:
    """Arrow closure-dict variant of bpe_token_counts — the
    hot-vocab-cache shape (BASELINE.md BPE-tier legs): the trained
    per-word segment counts ship to the Python workers as a dict
    (the tokenizer-MODEL artifact), so encoding is ONE zero-shuffle
    mapInPandas pass — no explode, no join, no doc-keyed hash agg
    probing an LLC-sized key space per exploded row.

    Exact on a closed corpus: every countable corpus word is in the
    trained word table by construction, so the dict is total and the
    output equals bpe_token_counts row-for-row (a countable word
    contributes >= 1 token, so `sum > 0` reproduces the join
    variant's inner-join doc set). At open-web scale the dict holds
    the Zipf-head vocabulary and tail words fall back to the join
    variant — here there is no tail.

    The vocab collect is model-sized (like kmeans_fit's centroids),
    NOT corpus-sized: BPE's whole point is that the word table is
    vocabulary-sized against a trillion-token corpus.
    """
    import pandas as pd

    _, final_words = bpe_train_words(docs, n_merges)
    rows = final_words.select(
        "word",
        F.size(
            F.filter(
                F.split(F.col("s"), SEP2), lambda x: x != F.lit("")
            )
        ).alias("n"),
    ).collect()
    lut = {r["word"]: r["n"] for r in rows}

    def _count(text: str) -> int:
        n = 0
        for w in text.split(" "):
            if w and SEP not in w:
                n += lut.get(w, 0)
        return n

    def gen(batches):
        for pdf in batches:
            n = pdf["text"].map(_count)
            out = pd.DataFrame(
                {"doc_id": pdf["doc_id"], "n_bpe_tokens": n}
            )
            yield out[out["n_bpe_tokens"] > 0]

    return docs.select("doc_id", "text").mapInPandas(
        gen, "doc_id long, n_bpe_tokens long"
    )


def bpe_fertility(docs: DataFrame, n_merges: int = 8) -> DataFrame:
    """Tokenizer FERTILITY audit per corpus slice — the
    tokenizer-engineering acceptance metric: BPE tokens per
    whitespace word (fertility; ~1.0 = the vocab covers the slice,
    >> 1 = the slice fragments into subwords and will eat context
    budget) and characters per BPE token (compression). Run per
    source/language before committing a vocab to a mixture — the
    number that decides whether a language needs more merges or
    more data.

    Exact integers: fertility_milli = (1000 * sum_bpe) div sum_ws,
    chars_per_token_milli = (1000 * sum_chars) div sum_bpe over the
    group (NULL when the denominator is 0 — an empty slice).

    Scale shape: rides bpe_token_counts' existing encode (explode ⋈
    trained word table + doc-keyed sum), adds one doc-keyed
    broadcast-sized join back to (group, ws-count, chars) and one
    group-keyed partial+final aggregate onto |groups| rows. Nothing
    new is corpus-sized.
    """
    per_doc = bpe_token_counts(docs, n_merges)
    base = docs.select(
        "doc_id",
        "source",
        F.size(
            F.filter(
                F.split(F.col("text"), " "), lambda x: x != ""
            )
        )
        .cast("long")
        .alias("_n_ws"),
        F.length("text").cast("long").alias("_n_chars"),
    )
    return (
        base.join(per_doc, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_n_ws").alias("n_ws_tokens"),
            F.sum("n_bpe_tokens").alias("n_bpe_tokens"),
            F.sum("_n_chars").alias("n_chars"),
        )
        .select(
            "source",
            "n_docs",
            "n_ws_tokens",
            "n_bpe_tokens",
            F.when(
                F.col("n_ws_tokens") > 0,
                F.expr("(1000 * n_bpe_tokens) div n_ws_tokens"),
            )
            .cast("long")
            .alias("fertility_milli"),
            F.when(
                F.col("n_bpe_tokens") > 0,
                F.expr("(1000 * n_chars) div n_bpe_tokens"),
            )
            .cast("long")
            .alias("chars_per_token_milli"),
        )
    )
