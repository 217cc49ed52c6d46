"""Similarity search over embedding columns (array<float>).

Two tiers:
  * brute-force cosine top-k — broadcast the (small) query set
    against the full corpus; exact baseline;
  * bucketed ANN — restrict comparisons to a coarse partition
    (label = IVF-style coarse centroid id here; at scale: a learned
    clustering or LSH hyperplane bucket). The plan shape is the one
    that matters: per-bucket joins, never an all-pairs shuffle.

Embedding cosine near-dup (dedup-by-embedding) reuses the bucketed
pair join with a similarity threshold.

Dot products run as Catalyst array expressions (zip_with +
aggregate) — JVM-side, no Python. Elements are cast to double
before arithmetic so Spark and the DuckDB oracle agree bit-for-bit
after rounding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_col(a: Column, b: Column) -> Column:
    return F.round(_dot(a, b) / (_norm(a) * _norm(b)), 5)


def brute_force_topk(
    emb: DataFrame, queries: DataFrame, k: int = 10
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    queries is expected tiny -> broadcast; corpus is scanned once;
    rank via window per query. Output: (query_id, neighbor_id,
    cosine, rank).
    """
    from pyspark.sql.window import Window

    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_col(F.col("q_emb"), F.col("embedding")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def bucketed_ann_topk(
    emb: DataFrame, queries: DataFrame, k: int = 10
) -> DataFrame:
    """IVF-style ANN: probe only the query's own coarse bucket.

    At 100 TB the corpus is hash/range-partitioned by bucket id, so
    each query touches one partition group instead of the full scan.
    Recall < 1.0 by construction — compare against brute_force_topk
    to measure it (see tests).
    """
    from pyspark.sql.window import Window

    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_bucket"),
    )
    scored = (
        emb.join(
            F.broadcast(q), emb["label"] == q["q_bucket"], "inner"
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_col(F.col("q_emb"), F.col("embedding")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def bucket_centroids(emb: DataFrame) -> DataFrame:
    """Element-wise MEDIAN centroid per coarse bucket.

    Median (exact percentile 0.5), not mean, deliberately: a mean's
    floating-point sum depends on aggregation order, so Spark and
    the DuckDB oracle could disagree in the last ulp; the median of
    stored values — (a+b)/2 of two exact floats at even counts — is
    order-independent and reproduces bit-for-bit on both engines.
    Semantics for IVF are unchanged (a robust per-bucket
    representative). Cost: posexplode + one (bucket, pos) aggregate
    over the dim table — tiny next to the corpus.
    """
    pos = emb.select(
        F.col("label").alias("bkt"),
        F.posexplode("embedding").alias("pos", "v"),
    )
    cent = pos.groupBy("bkt", "pos").agg(
        F.expr("percentile(CAST(v AS DOUBLE), 0.5)").alias("cv")
    )
    return cent.groupBy("bkt").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "cv"))),
            lambda x: x["cv"],
        ).alias("centroid")
    )


def ivf_multiprobe_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """True IVF search: rank bucket centroids per query, probe the
    nprobe nearest buckets, exact top-k inside the probed set.

    Scale shape: centroids are a tiny dim table (buckets × dim) —
    broadcast both the query set and the probe assignment; the
    corpus join touches only the probed buckets' partitions (at
    100 TB the corpus is partitioned by bucket id, so this is
    partition pruning, not a scan). Recall rises with nprobe and is
    measured against brute force in tests.
    """
    from pyspark.sql.window import Window

    cents = bucket_centroids(emb)
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    ranked = (
        q.crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "q_emb",
            F.col("bkt"),
            cosine_col(F.col("q_emb"), F.col("centroid")).alias("c_cos"),
        )
        .withColumn(
            "c_rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("c_cos"), F.asc("bkt")
                )
            ),
        )
        .filter(F.col("c_rank") <= nprobe)
        .select("query_id", "q_emb", "bkt")
    )
    scored = (
        emb.join(
            F.broadcast(ranked), emb["label"] == ranked["bkt"], "inner"
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_col(F.col("q_emb"), F.col("embedding")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _bucket_pair_join(
    keyed: DataFrame, keys: list[str], threshold: float
) -> DataFrame:
    """Shared pair-comparison tail for the near-dup operators: self-
    join on `keys`, ordered-pair filter, cosine threshold. One
    definition so the capped and uncapped variants cannot drift on
    rounding or pair semantics."""
    a = keyed.select(
        *keys,
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
    )
    b = keyed.select(
        *keys,
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
    )
    return (
        a.join(b, keys)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            cosine_col(F.col("emb_a"), F.col("emb_b")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def embedding_near_dup_pairs_capped(
    emb: DataFrame,
    threshold: float = 0.95,
    bucket_col: str = "label",
    bucket_cap: int = 32,
) -> DataFrame:
    """embedding_near_dup_pairs with a MEGA-BUCKET guard: any bucket
    larger than `bucket_cap` is deterministically split into
    ceil(size / cap) sub-buckets by hashing vec_id, and the all-pairs
    comparison stays inside a (bucket, sub) cell — EXPECTED per-cell
    cost ~cap^2 regardless of clustering skew (hash placement
    balances cells on average; the tail cell is cap + O(sqrt) over
    the mean, not a hard bound) (a
    boilerplate-heavy corpus concentrating millions of vectors in
    one coarse centroid would otherwise generate a quadratic cell).

    Recall trade, stated plainly: pairs straddling two sub-buckets
    of the same bucket are NOT compared — the same bounded-recall
    contract as the n-gram df-cut, and the DuckDB oracle implements
    the identical rule so the loss is measured, not hidden. Buckets
    at or under the cap are unaffected (nsub = 1 reproduces the
    uncapped operator).

    The bucket-size table is one count per bucket — broadcast here;
    with millions of buckets it becomes a shuffle join on the bucket
    key, co-partitioned with the pair join that follows.
    """
    from .dedup import h32

    sizes = emb.groupBy(bucket_col).agg(F.count(F.lit(1)).alias("n"))
    nsub = F.ceil(F.col("n") / F.lit(float(bucket_cap))).cast("long")
    keyed = (
        emb.join(F.broadcast(sizes), bucket_col)
        .select(
            F.col(bucket_col).alias("bkt"),
            F.pmod(h32(F.col("vec_id").cast("string")), nsub).alias("sub"),
            "vec_id",
            "embedding",
        )
    )
    return _bucket_pair_join(keyed, ["bkt", "sub"], threshold)


def embedding_near_dup_pairs(
    emb: DataFrame, threshold: float = 0.95
) -> DataFrame:
    """Near-duplicate vector pairs within coarse buckets.

    Self-join keyed on the bucket column — the all-pairs comparison
    never leaves a bucket, which is what makes embedding dedup
    feasible at corpus scale. For skew-bounded cells on a hot bucket
    see embedding_near_dup_pairs_capped.
    """
    keyed = emb.select(
        F.col("label").alias("bkt"), "vec_id", "embedding"
    )
    return _bucket_pair_join(keyed, ["bkt"], threshold)


def srp_planes(
    n_bits: int, dim: int, seed: str = "srp"
) -> list[list[float]]:
    """Deterministic Rademacher hyperplanes for signed-random-
    projection LSH (Charikar 2002 random-hyperplane family; ±1
    entries are the standard practical substitute for Gaussian
    rows). Entry (p, i) is +1 iff the first hex nibble of
    md5("{seed}_{p}_{i}") is odd — a pure function of (seed, p, i),
    so the Spark operator and the DuckDB twin inline the SAME plane
    constants (shared parameters, like the bloom bit positions) and
    stay bit-reproducible with no RNG state anywhere."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{seed}_{p}_{i}".encode()).hexdigest()[0], 16)
            % 2
            == 1
            else -1.0
            for i in range(dim)
        ]
        for p in range(n_bits)
    ]


def srp_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.30,
    n_bits: int = 24,
    bands: int = 8,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs via signed-random-projection LSH —
    the cosine-metric sibling of minhash-LSH (Jaccard) and simhash
    (text): each vector gets an n_bits signature (sign of the dot
    with a fixed Rademacher hyperplane, P[bits differ] = angle/pi),
    the signature is split into `bands` keys, vectors colliding in
    ANY band become a candidate pair, and candidates are verified
    with exact cosine >= threshold. Recall at the threshold boundary
    follows the Charikar collision bound 1-(1-p^rpb)^bands with
    p = 1 - acos(threshold)/pi — measured at sf0.001: 0.42 for
    16 bits/4 bands, 0.86 for the default 24 bits/8 bands (3-bit
    band keys), 1.00 for 32/16; pick more+narrower bands for recall,
    fewer+wider for candidate volume.

    vs embedding_near_dup_pairs (coarse-bucket all-pairs): SRP needs
    NO precomputed cluster/label column — the hyperplanes partition
    the sphere data-independently — and candidate volume is the band
    collision count, not sum over buckets of n^2 (measured at
    sf0.01: 29k candidates vs the label-bucket join's 1.25M pair
    comparisons, with the verify filter deciding final semantics).

    Scale shape: the signature is a zero-shuffle per-row expression
    chain (n_bits folds of length dim, all codegen); the band
    explode multiplies rows by `bands`; the candidate join shuffles
    on (band, key); the duplicate-candidate collapse is a distinct
    over verified pairs. A degenerate band key (e.g. a mass of
    near-identical boilerplate vectors) concentrates one cell —
    `bucket_cap` applies the same deterministic hash sub-split as
    embedding_near_dup_pairs_capped, bounding any cell at ~cap^2
    comparisons with the oracle implementing the identical rule.

    The dot sign is taken on the round-5 value (same cross-engine FP
    discipline as cosine_col) so Spark and DuckDB agree at the
    sign boundary.
    """
    if n_bits < 1 or bands < 1 or n_bits % bands != 0:
        raise ValueError(
            f"srp_near_dup_pairs: bands={bands} must divide n_bits={n_bits}"
        )
    rpb = n_bits // bands
    dim = len(emb.select("embedding").first()[0])
    planes = srp_planes(n_bits, dim)

    def bit(p: int) -> Column:
        lit = F.array(*[F.lit(v) for v in planes[p]])
        dot = F.round(
            F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    lit,
                    lambda x, y: x.cast("double") * y,
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            5,
        )
        return F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0"))

    sig = emb.select(
        "vec_id",
        "embedding",
        *[bit(p).alias(f"b{p}") for p in range(n_bits)],
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat(
                    *[F.col(f"b{b * rpb + i}") for i in range(rpb)]
                ).alias("key"),
            )
            for b in range(bands)
        ]
    )
    from .dedup import _register_persist

    # the keyed table feeds BOTH self-join sides (and the cell-size
    # aggregate when capped) — without a persist the 64-fold
    # signature projection recomputes per consumer (measured: the
    # srp_pairs scaling leg ran it 3x). Registered in the dedup
    # persist registry; the gate wrapper and bench release it via
    # release_persisted() after the result is consumed.
    keyed = _register_persist(
        sig.select(
            "vec_id", "embedding", F.explode(band_structs).alias("bk")
        ).select(
            F.col("bk.band").alias("band"),
            F.col("bk.key").alias("key"),
            "vec_id",
            "embedding",
        )
    )
    if bucket_cap is not None:
        from .dedup import h32

        sizes = keyed.groupBy("band", "key").agg(
            F.count(F.lit(1)).alias("n")
        )
        nsub = F.ceil(F.col("n") / F.lit(float(bucket_cap))).cast("long")
        keyed = keyed.join(F.broadcast(sizes), ["band", "key"]).select(
            "band",
            "key",
            F.pmod(h32(F.col("vec_id").cast("string")), nsub).alias("sub"),
            "vec_id",
            "embedding",
        )
        return _bucket_pair_join(
            keyed, ["band", "key", "sub"], threshold
        ).distinct()
    return _bucket_pair_join(keyed, ["band", "key"], threshold).distinct()


def ivfpq_ann_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    k_coarse: int = 8,
    m: int = 4,
    k_codes: int = 8,
    n_iter: int = 2,
    rerank: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF+PQ composed ANN (the IVFADC architecture, Jégou et al.
    2011; what FAISS runs at billion scale): a coarse k-medians
    quantizer partitions the corpus into k_coarse inverted lists,
    each query probes only its nprobe nearest lists, and ranking
    INSIDE the probed lists uses the PQ/ADC distance (optionally
    re-ranked exactly via `rerank`, = IVFADC+R).

    Deviation from the paper, stated plainly: PQ codebooks are fit
    on RAW vectors, not per-list residuals — residual codebooks
    would need k_coarse×m fits and per-list encode arithmetic for a
    quantization-error win that matters at billion scale, while raw
    fits keep the whole index build replayable by the one DuckDB
    twin. The SHAPE is the paper's: probe restriction multiplies
    with code compression.

    Scale shape: both quantizers are driver-sized literal tables
    (collecting them is the point); the corpus pass is ONE
    zero-shuffle projection (coarse argmin + PQ codes + recon); the
    probe assignment is a per-query expression over centroid
    literals (array_sort of k_coarse (dist, idx) structs, slice
    nprobe, explode) — broadcast; the candidate join is an equi-join
    on the list id, which at 100 TB is partition pruning over a
    corpus laid out by list id, exactly like ivf_multiprobe_topk.
    ADC ranks ~nprobe/k_coarse of the corpus per query instead of
    all of it — the two knobs (nprobe, rerank) trade recall for
    scan fraction and are measured in bench extras.
    """
    from pyspark.sql.window import Window

    coarse = kmeans_centroids(
        emb, k=k_coarse, n_iter=n_iter, id_col=id_col, vec_col=vec_col
    )
    books = pq_codebooks(
        emb, m=m, k=k_codes, n_iter=n_iter, id_col=id_col, vec_col=vec_col
    )
    # ONE zero-shuffle corpus projection: PQ codes + reconstruction
    # (keep_vec carries the raw vector for the rerank fetch) chained
    # with the coarse-list assignment — no self-join anywhere
    assigned = pq_encode(
        emb, books, id_col=id_col, vec_col=vec_col, keep_vec=True
    ).select(
        id_col,
        _argmin_centroid(F.col(vec_col), coarse)["b"].alias("bkt"),
        "recon",
    )

    # per-query probe list: rank ALL coarse centroids by round-5
    # distance with index tie-break (the same (d, b) struct order
    # _argmin_centroid uses), keep the nprobe best, explode
    cl = F.array(*[F.array(*[F.lit(float(v)) for v in c]) for c in coarse])
    ranked = F.slice(
        F.array_sort(
            F.transform(
                F.sequence(F.lit(0), F.lit(len(coarse) - 1)),
                lambda j: F.struct(
                    F.round(
                        F.aggregate(
                            F.zip_with(
                                F.col("q_emb"),
                                F.element_at(cl, j + 1),
                                lambda x, y: (x.cast("double") - y)
                                * (x.cast("double") - y),
                            ),
                            F.lit(0.0),
                            lambda acc, v: acc + v,
                        ),
                        5,
                    ).alias("d"),
                    j.alias("b"),
                ),
            )
        ),
        1,
        nprobe,
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_emb")
    ).select(
        "query_id",
        "q_emb",
        F.explode(F.transform(ranked, lambda s: s["b"])).alias("bkt"),
    )
    adc = F.round(
        F.aggregate(
            F.zip_with(
                F.col("q_emb"),
                F.col("recon"),
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        5,
    )
    scored = (
        assigned.join(F.broadcast(q), "bkt")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            adc.alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    if rerank is None:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )

    # same re-fetch shape as pq_ann_topk: the (n_queries x R)
    # shortlist broadcasts back against the corpus for exact vectors
    # instead of dragging two dim-sized arrays through the ADC
    # window exchange
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= rerank)
        .select("query_id", "neighbor_id")
    )
    exact = F.round(
        F.aggregate(
            F.zip_with(
                F.col("q_emb"),
                F.col("n_emb"),
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        5,
    )
    cand = (
        emb.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("n_emb"),
        )
        .join(F.broadcast(shortlist), "neighbor_id")
        .join(
            F.broadcast(
                queries.select(
                    F.col(id_col).alias("query_id"),
                    F.col(vec_col).alias("q_emb"),
                )
            ),
            "query_id",
        )
        .select("query_id", "neighbor_id", exact.alias("exact_dist"))
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.asc("exact_dist"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
    )


def contrastive_triplets(emb: DataFrame, t_pos: float = 0.35) -> DataFrame:
    """Mine (anchor, positive, hard-negative) training triplets for
    contrastive embedding training: per anchor, the BEST positive
    (highest cosine >= t_pos) and the HARDEST negative (highest
    cosine < t_pos) — hard negatives, not random ones, are what make
    a contrastive batch informative, and the hardest ones live
    exactly in the LSH candidate set (similar enough to collide in a
    band, below the positive threshold).

    Both roles come from ONE SRP candidate pass (threshold=-1 keeps
    every verified candidate with its cosine): each undirected
    candidate pair serves both members as anchors, then two
    row_number windows per anchor pick best-positive and
    hardest-negative with (cosine desc, id asc) determinism. Anchors
    missing either role are dropped (inner join) — a triplet needs
    both sides.

    Scale shape: everything up to the windows is srp_near_dup_pairs
    (zero-shuffle signature, band-keyed join, one distinct
    exchange); the union doubles candidate rows, the two windows
    share one anchor-keyed exchange, and the final join is
    anchor-keyed on two already-partitioned sides. No all-pairs
    anywhere.

    Output: (anchor_id, pos_id, pos_cos, neg_id, neg_cos).
    """
    from pyspark.sql.window import Window

    cand = srp_near_dup_pairs(emb, threshold=-1.0)
    both = cand.select(
        F.col("vec_a").alias("anchor_id"),
        F.col("vec_b").alias("other_id"),
        "cosine",
    ).unionByName(
        cand.select(
            F.col("vec_b").alias("anchor_id"),
            F.col("vec_a").alias("other_id"),
            "cosine",
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cosine"), F.asc("other_id")
    )
    pos = (
        both.filter(F.col("cosine") >= t_pos)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            "anchor_id",
            F.col("other_id").alias("pos_id"),
            F.col("cosine").alias("pos_cos"),
        )
    )
    neg = (
        both.filter(F.col("cosine") < t_pos)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            "anchor_id",
            F.col("other_id").alias("neg_id"),
            F.col("cosine").alias("neg_cos"),
        )
    )
    return pos.join(neg, "anchor_id")


def _argmin_centroid(vec: Column, cents: list[list[float]]) -> Column:
    """struct(d, b) of the nearest centroid: ONE nested k x dim
    literal + a transform over the centroid index, instead of k
    separate zip_with trees. Bit-identical output (same fold order,
    same round-5, same index tie-break via array_min on (d, b)
    structs) but ~4x fewer expression nodes — measured 17 s -> 5.5 s
    on the first (analysis-cold) run of an 8x64 assignment, which is
    the case kmeans_fit always pays: every iteration's centroids are
    new literals, so every iteration's plan is analysis-cold."""
    cl = F.array(*[F.array(*[F.lit(float(v)) for v in c]) for c in cents])

    def sq(c: Column) -> Column:
        return F.round(
            F.aggregate(
                F.zip_with(
                    vec,
                    c,
                    lambda x, y: (x.cast("double") - y)
                    * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            5,
        )

    return F.array_min(
        F.transform(
            F.sequence(F.lit(0), F.lit(len(cents) - 1)),
            lambda j: F.struct(
                sq(F.element_at(cl, j + 1)).alias("d"), j.alias("b")
            ),
        )
    )


def kmeans_fit(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 3,
    keep_vec: bool = False,
) -> DataFrame:
    """Deterministic K-MEDIANS (Lloyd) fit — the "train the coarse
    quantizer" step a real IVF index build runs before
    ivf_multiprobe_topk can probe it (the stored `label` column
    stands in for this in the synthetic data).

    Fully deterministic, so the DuckDB oracle replays it exactly:
      * init: the k vectors with smallest (md5(id), id) — a
        reproducible pseudo-random seed draw;
      * assign: argmin of round(squared_distance, 5) with centroid
        INDEX as tie-break;
      * update: element-wise MEDIAN per cluster (order-independent,
        unlike a mean's float sum — same argument as
        bucket_centroids); empty clusters keep their previous
        centroid.

    Scale shape per iteration: centroids are k x dim driver-side
    literals (the quantizer is TINY by design — collecting it is the
    point), assignment is a per-row codegen expression (zero
    shuffle), the median update is one posexplode + (cluster, pos)
    aggregate — the same partial+final shape as bucket_centroids.
    Total: n_iter scans, n_iter aggregates, no joins.

    Returns the final assignment: (vec_id, bkt, dist).
    """
    cents = kmeans_centroids(emb, k, n_iter)
    best = _argmin_centroid(F.col("embedding"), cents)
    out = emb.select(
        "vec_id",
        "embedding",
        best["b"].alias("bkt"),
        best["d"].alias("dist"),
    )
    return out if keep_vec else out.drop("embedding")


def kmeans_centroids(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """The fitted quantizer itself: the k x dim centroid list after
    n_iter k-medians rounds (the loop kmeans_fit runs, factored out
    so multiprobe consumers — knn_graph_multiprobe — can rank a
    vector against ALL centroids, not just take the argmin).
    Collecting it is the point: the quantizer is driver-sized by
    design and becomes broadcast literals downstream."""
    if k < 1 or n_iter < 0:
        raise ValueError("kmeans_fit: k >= 1 and n_iter >= 0 required")
    seeds = (
        emb.select(id_col, vec_col)
        .orderBy(
            F.md5(F.col(id_col).cast("string").cast("binary")),
            F.col(id_col),
        )
        .limit(k)
        .collect()
    )
    cents = [list(r[vec_col]) for r in seeds]

    for _ in range(n_iter):
        best = _argmin_centroid(F.col(vec_col), cents)
        assigned = emb.select(vec_col, best["b"].alias("bkt"))
        med = (
            assigned.select(
                "bkt", F.posexplode(vec_col).alias("pos", "v")
            )
            .groupBy("bkt", "pos")
            .agg(F.expr("percentile(CAST(v AS DOUBLE), 0.5)").alias("cv"))
            .groupBy("bkt")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                    lambda x: x["cv"],
                ).alias("centroid")
            )
            .collect()
        )
        new = {r["bkt"]: list(r["centroid"]) for r in med}
        cents = [new.get(j, cents[j]) for j in range(k)]
    return cents


def semantic_cluster_dedup(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    threshold: float = 0.95,
    bucket_cap: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    cluster the corpus embeddings with the deterministic k-medians
    fit, then drop every vector that has a LOWER-id near-duplicate
    (cosine >= threshold) inside its own cluster. Near-dup search
    never leaves a cluster — the clustering IS the blocking step
    that makes embedding dedup sub-quadratic at corpus scale.

    Keep rule, stated exactly: a vector survives iff no same-cluster
    vector with a smaller id is within the cosine threshold.
    Deterministic (no RNG anywhere: seeded k-medians + id
    tie-breaks), so re-runs and the DuckDB oracle reproduce the
    survivor set bit-for-bit.

    Scale shape: kmeans_fit is n_iter scans + tiny aggregates
    (centroids are k x dim driver literals by design); assignment is
    per-row codegen; the pair step is the shared _bucket_pair_join
    keyed on the cluster id — one hash exchange on `bkt`. With
    `bucket_cap` set, a mega-cluster (boilerplate-heavy corpora
    concentrate mass in one centroid) is deterministically sub-split
    exactly like embedding_near_dup_pairs_capped, bounding per-cell
    cost at ~cap^2. The loser set joins back on the id key — a hash
    join AQE converts to broadcast when duplicates are rare.

    Output: (vec_id, bkt, dist, is_kept) — one row per input vector.
    """
    assigned = kmeans_fit(emb, k, n_iter, keep_vec=True)
    keyed = assigned.select("bkt", "vec_id", "embedding")
    if bucket_cap is None:
        pairs = _bucket_pair_join(keyed, ["bkt"], threshold)
    else:
        pairs = embedding_near_dup_pairs_capped(
            keyed, threshold, bucket_col="bkt", bucket_cap=bucket_cap
        )
    losers = (
        pairs.select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("_dup", F.lit(1))
    )
    return (
        assigned.drop("embedding")
        .join(losers, "vec_id", "left")
        .select(
            "vec_id",
            "bkt",
            "dist",
            F.col("_dup").isNull().alias("is_kept"),
        )
    )


def knn_graph(
    emb: DataFrame,
    k_nn: int = 5,
    k_clusters: int = 8,
    n_iter: int = 2,
    nprobe: int = 1,
) -> DataFrame:
    """Approximate k-nearest-neighbor GRAPH over the corpus
    embeddings — the adjacency every graph-based curation step
    (semantic clustering into topics, kNN label propagation,
    diversity sampling a la DSIR/D4) consumes. Each vector's k_nn
    nearest neighbors BY COSINE are searched only inside its own
    k-medians cluster: the same deterministic coarse quantizer the
    IVF index and SemDeDup share, reused here as the blocking step
    that keeps the graph build sub-quadratic.

    Shape: assignment is per-row codegen on broadcast centroid
    literals (kmeans_fit), the neighbor search is ONE self-join
    co-partitioned on the cluster key, and the top-k cut is a
    row_number window over each vector's OWN candidate list
    (partition = vec_id, bounded by its cluster size). Determinism:
    cosine rounds to 5 decimals, ties break by neighbor id — both
    engines emit the identical edge set. Vectors whose cluster holds
    nothing else produce no rows (an isolated node has no edges).

    Recall contract, stated plainly: with nprobe=1 neighbors in
    OTHER clusters are unreachable, exactly like ivf_multiprobe_topk
    at nprobe=1; nprobe=p unions the SOURCE side's p nearest-centroid
    cells before the join (corpus vectors stay indexed in their one
    argmin cell, so no candidate pair is generated twice), trading
    join fan-out ~p× for recall. A mega-cluster is bounded the same
    way as embedding_near_dup_pairs_capped if needed — the graph
    quality trade is the same, so it stays a caller choice.

    The pair join carries PRECOMPUTED per-row norms (na, nb) so the
    cosine denominator is two column reads instead of two aggregate
    folds per candidate pair — bit-identical values (same doubles,
    same round-5), measured ~3× off the join stage at sf0.1.
    """
    if k_nn < 1:
        raise ValueError("knn_graph: k_nn >= 1 required")
    if not 1 <= nprobe <= k_clusters:
        raise ValueError("knn_graph: 1 <= nprobe <= k_clusters required")
    from pyspark.sql.window import Window

    cents = kmeans_centroids(emb, k_clusters, n_iter)
    best = _argmin_centroid(F.col("embedding"), cents)
    b = emb.select(
        best["b"].alias("bkt"),
        F.col("vec_id").alias("nbr"),
        F.col("embedding").alias("vb"),
        _norm(F.col("embedding")).alias("nb"),
    )
    # source side: the nprobe nearest cells = first nprobe entries of
    # the (d, b)-sorted centroid struct array (nprobe=1 == argmin)
    cl = F.array(*[F.array(*[F.lit(float(v)) for v in c]) for c in cents])
    ranked = F.slice(
        F.array_sort(
            F.transform(
                F.sequence(F.lit(0), F.lit(k_clusters - 1)),
                lambda j: F.struct(
                    F.round(
                        F.aggregate(
                            F.zip_with(
                                F.col("embedding"),
                                F.element_at(cl, j + 1),
                                lambda x, y: (x.cast("double") - y)
                                * (x.cast("double") - y),
                            ),
                            F.lit(0.0),
                            lambda acc, v: acc + v,
                        ),
                        5,
                    ).alias("d"),
                    j.alias("b"),
                ),
            )
        ),
        1,
        nprobe,
    )
    a = emb.select(
        F.col("vec_id").alias("src"),
        F.col("embedding").alias("va"),
        _norm(F.col("embedding")).alias("na"),
        F.explode(F.transform(ranked, lambda s: s["b"])).alias("bkt"),
    )
    scored = (
        a.join(b, "bkt")
        .filter(F.col("src") != F.col("nbr"))
        .select(
            "src",
            "nbr",
            F.round(
                _dot(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb")),
                5,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("src").orderBy(
        F.col("cos_sim").desc(), F.col("nbr").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_nn)
        .select(
            F.col("src").alias("vec_id"),
            F.col("nbr").alias("nbr_id"),
            "rank",
            "cos_sim",
        )
    )


def embedding_diversity(emb: DataFrame) -> DataFrame:
    """Per-group semantic-diversity audit over an embedding column —
    the number a curation pipeline reads before deciding how hard to
    dedup or downsample a source (SemDeDup, Abbas et al. 2023, cuts
    MORE from low-diversity clusters; DoReMi-style mixture tuning
    starts from exactly these per-source spreads).

    For each group: n vectors, mean squared norm, squared norm of
    the centroid, and the mean pairwise squared L2 distance over
    ordered pairs x != y — computed WITHOUT any pair join via the
    identity sum_{x,y} ||x-y||^2 = 2n*S2 - 2*||S1||^2 with
    S2 = sum ||x||^2 and S1 = sum x (elementwise). A pairwise
    formulation would be an O(n^2) self-join; this is two aggregates.

    Scale shape: per-row squared norms feed ONE partial+final hash
    aggregate on the group key; the centroid term posexplodes to
    (group, dim, value) and aggregates on (group, dim) — partial
    aggregation collapses each map task to groups x dim rows before
    the exchange, so shuffled volume is independent of n — then a
    second groups-only aggregate and a broadcast-sized join on the
    group key. Nothing row-sized crosses an exchange twice and no
    pair set is ever materialized, so the plan class holds at any
    corpus size.

    FP discipline: elements cast float -> double (exact) before any
    arithmetic, all sums in double, outputs rounded to 5 — the same
    cross-engine convention as cosine_col; summation-order ulp skew
    is absorbed by the rounding.
    """
    v = F.col("embedding")
    sq = F.aggregate(
        F.transform(v, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norms = emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"), F.sum(sq).alias("_s2")
    )
    dims = (
        emb.select("label", F.posexplode(v).alias("_pos", "_val"))
        .groupBy("label", "_pos")
        .agg(F.sum(F.col("_val").cast("double")).alias("_sv"))
        .groupBy("label")
        .agg(F.sum(F.col("_sv") * F.col("_sv")).alias("_q"))
    )
    n = F.col("n")
    return (
        norms.join(dims, "label")
        .select(
            "label",
            "n",
            F.round(F.col("_s2") / n, 5).alias("mean_sq_norm"),
            F.round(F.col("_q") / (n * n), 5).alias("centroid_sq_norm"),
            F.when(
                n > 1,
                F.round(
                    (2 * n * F.col("_s2") - 2 * F.col("_q"))
                    / (n * (n - 1)),
                    5,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("mean_pair_dist_sq"),
        )
    )


def pq_codebooks(
    emb: DataFrame,
    m: int = 4,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Product-quantization codebooks (Jégou et al. 2011): split the
    dim-D embedding into m contiguous subvectors and fit the
    deterministic k-medians quantizer INDEPENDENTLY in each
    subspace. Returns m codebooks of k x (D/m) centroids.

    Each fit is the same oracle-replayable kmeans_centroids loop
    (seed by (md5(id), id), round-5 argmin with index tie-break,
    element-wise median update), run over a sliced view of the
    corpus — so the whole PQ index build stays bit-reproducible in
    DuckDB. Cost: m fits x n_iter (scan + partial/final aggregate);
    at 100 TB the fit runs on a deterministic md5-threshold sample,
    the encode pass below is what touches the full corpus.
    """
    dim = len(emb.select(vec_col).first()[0])
    if m < 1 or dim % m != 0:
        raise ValueError(
            f"pq_codebooks: m={m} must divide the embedding dim {dim}"
        )
    d_sub = dim // m
    books = []
    for j in range(m):
        sub = emb.select(
            id_col,
            F.slice(F.col(vec_col), j * d_sub + 1, d_sub).alias(vec_col),
        )
        books.append(
            kmeans_centroids(sub, k=k, n_iter=n_iter, id_col=id_col,
                             vec_col=vec_col)
        )
    return books


def pq_encode(
    emb: DataFrame,
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vec: bool = False,
) -> DataFrame:
    """Encode every vector as m small codes (argmin centroid per
    subspace — same round-5 + index tie-break as kmeans_fit) and
    carry the RECONSTRUCTED vector (concat of the chosen centroids).

    The reconstruction is what ADC distance is computed against; it
    is built from codebook literals, so downstream distance folds
    are pure codegen expressions over (query, recon) — the corpus
    embedding column itself is no longer needed after this
    projection (at scale: store the m byte-codes, 64x smaller than
    the float vector, and materialize recon on the fly exactly as
    here). Zero shuffles.
    """
    d_sub = len(books[0][0])
    code_cols = []
    recon_parts = []
    for j, book in enumerate(books):
        sub = F.slice(F.col(vec_col), j * d_sub + 1, d_sub)
        code = _argmin_centroid(sub, book)["b"]
        code_cols.append(code.alias(f"c{j}"))
        book_lit = F.array(
            *[F.array(*[F.lit(float(v)) for v in c]) for c in book]
        )
        recon_parts.append(F.element_at(book_lit, code + 1))
    keep = [F.col(vec_col)] if keep_vec else []
    return emb.select(
        id_col,
        *code_cols,
        F.concat(*recon_parts).alias("recon"),
        *keep,
    )


def pq_ann_topk(
    emb: DataFrame,
    queries: DataFrame,
    m: int = 4,
    k_codes: int = 8,
    n_iter: int = 2,
    k: int = 10,
    rerank: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ/ADC approximate nearest neighbors: rank the corpus for
    each query by squared distance to the PQ RECONSTRUCTION of each
    corpus vector (asymmetric distance computation — the query stays
    exact, only the corpus side is quantized, Jégou et al. 2011).

    With ``rerank=R`` (Jégou's IVFADC+R) the ADC pass only builds a
    per-query shortlist of R candidates, which is then re-ranked by
    EXACT distance against the original vectors. Quantization error
    collapses fine-grained ranking (many corpus points share one
    code tuple), so pure ADC recall is bounded by cell occupancy;
    the shortlist + exact re-rank recovers it — measured 0.07 → 0.6+
    recall@10 at sf0.001 (see tests). Output then carries
    ``exact_dist`` instead of ``adc_dist``.

    The distance fold runs over the full concatenated reconstruction
    in one linear pass (NOT per-subspace partial sums) so the float
    addition order matches the DuckDB twin's list_sum exactly;
    round-5 before ranking, neighbor-id tie-break. Scale shape:
    queries broadcast, corpus scanned once through the zero-shuffle
    encode projection, one per-query window over the scored rows —
    identical plan skeleton to brute_force_topk but over 64x-smaller
    effective state (codes instead of vectors), which is the entire
    point of PQ at 100 TB. The re-rank stage joins the tiny
    (n_queries x R) shortlist back to the corpus BROADCAST — the
    corpus never shuffles; at scale this is the candidate-fetch
    point-lookup every PQ serving system does. Recall vs brute
    force is measured in bench extras next to the IVF/bucketed
    variants.
    """
    from pyspark.sql.window import Window

    books = pq_codebooks(
        emb, m=m, k=k_codes, n_iter=n_iter, id_col=id_col, vec_col=vec_col
    )
    coded = pq_encode(emb, books, id_col=id_col, vec_col=vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_emb")
    )
    adc = F.round(
        F.aggregate(
            F.zip_with(
                F.col("q_emb"),
                F.col("recon"),
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        5,
    )
    scored = (
        coded.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            adc.alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    if rerank is None:
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )

    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= rerank)
        .select("query_id", "neighbor_id")
    )
    exact = F.round(
        F.aggregate(
            F.zip_with(
                F.col("q_emb"),
                F.col("n_emb"),
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        5,
    )
    cand = (
        emb.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("n_emb"),
        )
        .join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "neighbor_id", exact.alias("exact_dist"))
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.asc("exact_dist"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
    )


def snapshot_drift(emb_a: DataFrame, emb_b: DataFrame) -> DataFrame:
    """Per-group embedding DISTRIBUTION-SHIFT audit between two
    corpus snapshots — the monitoring table a continuously-ingesting
    training pipeline reads to catch a source drifting (crawl policy
    change, spam wave, upstream re-encode) before the drift reaches
    a training mix: for every group present in BOTH snapshots, the
    cosine between the two snapshot centroids and the L2 distance
    between them, plus both snapshot sizes.

    Scale shape: the two snapshots are tagged and unioned, then
    posexploded to (group, side, dim, value) and reduced by ONE
    partial+final hash aggregate keyed on (group, dim) — partial
    aggregation collapses every map task to groups x dim rows before
    the exchange, so shuffled volume is independent of corpus size
    (the embedding_diversity shape); a second groups-only aggregate
    folds the per-dim centroid terms. Snapshot sizes ride the same
    (group, dim) cells (every dim of a fixed-width embedding sees
    the same row count, so max(count) per group = snapshot size) —
    no separate counting pass, no joins, nothing row-sized crosses
    an exchange twice.

    FP discipline: float -> double before any arithmetic, per-dim
    means divide before the group fold, outputs rounded to 5 —
    summation-order ulp skew absorbed by the rounding, the same
    cross-engine convention as embedding_diversity/cosine_col.

    Output: (group, n_a, n_b, centroid_cosine, centroid_l2), one row
    per group with rows in both snapshots (drift is undefined
    one-sided).
    """
    v = F.col("embedding")

    def _tag(df: DataFrame, is_a: bool) -> DataFrame:
        return df.select(
            F.col("label"),
            F.lit(is_a).alias("_a"),
            F.posexplode(
                F.transform(v, lambda x: x.cast("double"))
            ).alias("_pos", "_val"),
        )

    dims = (
        _tag(emb_a, True)
        .unionAll(_tag(emb_b, False))
        .groupBy("label", "_pos")
        .agg(
            F.sum(F.when(F.col("_a"), F.col("_val"))).alias("sa"),
            F.sum(F.when(~F.col("_a"), F.col("_val"))).alias("sb"),
            F.sum(F.when(F.col("_a"), F.lit(1)).otherwise(0)).alias("na"),
            F.sum(F.when(~F.col("_a"), F.lit(1)).otherwise(0)).alias(
                "nb"
            ),
        )
    )
    ca = F.col("sa") / F.col("na").cast("double")
    cb = F.col("sb") / F.col("nb").cast("double")
    cent = dims.groupBy("label").agg(
        F.max("na").alias("n_a"),
        F.max("nb").alias("n_b"),
        F.sum(ca * cb).alias("_dot"),
        F.sum(ca * ca).alias("_qa"),
        F.sum(cb * cb).alias("_qb"),
        F.sum((ca - cb) * (ca - cb)).alias("_d2"),
    )
    return cent.filter((F.col("n_a") > 0) & (F.col("n_b") > 0)).select(
        "label",
        "n_a",
        "n_b",
        F.round(
            F.col("_dot") / F.sqrt(F.col("_qa") * F.col("_qb")), 5
        ).alias("centroid_cosine"),
        F.round(F.sqrt(F.col("_d2")), 5).alias("centroid_l2"),
    )


def kcenter_select(emb: DataFrame, k: int = 6) -> DataFrame:
    """Greedy k-center coreset selection (farthest-point traversal,
    Gonzalez 1985) — the diversity-maximizing data-selection pass:
    pick the vector farthest from everything picked so far, k times.
    The returned `radius` column is the classic 2-approximation
    certificate: after round r, every corpus vector lies within
    radius_r of SOME selected center, so the selection doubles as a
    coverage audit (embedding-space "what is my sample missing").

    Fully deterministic, so the DuckDB oracle replays it exactly:
    seed = lowest id; each round scores round(sq_l2, 5) to the
    NEAREST already-chosen center (the same rounded fold
    _argmin_centroid uses for kmeans) and picks (d DESC, id ASC).
    On an all-identical corpus every distance is 0 and the rule
    degenerates to re-picking the lowest id — still deterministic,
    still oracle-equal.

    Scale shape: the selection is inherently sequential (k rounds),
    so like kmeans_fit the chosen centers live as driver-side
    literals — k rows collected TOTAL, one TakeOrdered(1) scan per
    round, per-row codegen distance expressions, zero shuffles and
    zero joins. k is the coreset size: model-sized by definition.

    Output: (round_idx, vec_id, radius); radius NULL for the seed.
    """
    if k < 1:
        raise ValueError(f"kcenter_select: k={k} < 1")
    base = emb.select("vec_id", "embedding")
    seed = base.orderBy(F.col("vec_id")).limit(1).collect()
    if not seed:
        raise ValueError("kcenter_select: empty input")
    chosen = [(0, seed[0]["vec_id"], None)]
    cents = [list(seed[0]["embedding"])]
    for r in range(1, k):
        best = _argmin_centroid(F.col("embedding"), cents)
        far = (
            base.select(
                F.col("vec_id").alias("_id"),
                best["d"].alias("_d"),
                "embedding",
            )
            .orderBy(F.desc("_d"), F.asc("_id"))
            .limit(1)
            .collect()[0]
        )
        chosen.append((r, far["_id"], float(far["_d"])))
        cents.append(list(far["embedding"]))
    return emb.sparkSession.createDataFrame(
        chosen, "round_idx int, vec_id long, radius double"
    )
