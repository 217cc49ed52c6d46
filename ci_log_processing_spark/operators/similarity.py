"""Similarity search, near-dup and quantizers over embedding columns
(array<float>): exact and bucketed/IVF/PQ top-k, cosine and SRP
near-dup pairs, k-medians and PQ fits, the kNN graph, and per-group
diversity and drift audits.

Every operator is assembled from one set of private helpers, so a
distance, a ranking or a stage has one definition:

  * `_dot`, `_sq_norm`/`_norm`, `cosine_col` and `_sq_dist` (round-5
    squared L2, one linear fold) are the distance arithmetic;
  * `_centroid_dists` ranks a vector against one nested centroid
    literal — `_argmin_centroid` takes its minimum and
    `_probed_lists` its nprobe nearest;
  * `_top_k` is the per-key row_number cut, `_cosine_top_k` the
    exact-cosine query tail and `_adc_top_k` the PQ/ADC ranking with
    its optional exact re-rank;
  * `_median_centroids` is the element-wise median update,
    `_hash_subsplit` the mega-bucket guard of the near-dup pair
    joins, `_seed_vectors` the (md5(id), id) seed draw and `_dim` the
    vector length (both raise one ValueError on an empty input), and
    `_centroid_drift` the drift statistics that
    streaming/drift_stream.py shares.

Arithmetic runs as Catalyst array expressions (zip_with + aggregate)
— JVM-side, no Python. Elements are cast to double before arithmetic
and results rounded to 5 decimals so Spark and the DuckDB oracle
agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _sq_norm(a: Column) -> Column:
    return F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_sq_norm(a))


def cosine_col(a: Column, b: Column) -> Column:
    return F.round(_dot(a, b) / (_norm(a) * _norm(b)), 5)


def _sq_dist(a: Column, b: Column) -> Column:
    """round(squared L2, 5) as ONE linear fold, so the float addition
    order matches the DuckDB twins' list_sum. Both sides are cast to
    double; on a side that already is double the cast is a no-op."""
    return F.round(
        F.aggregate(
            F.zip_with(
                a,
                b,
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
        5,
    )


def _top_k(
    df: DataFrame, part: str, order: list[Column], k: int
) -> DataFrame:
    """`df` plus `rank` (row_number per `part` in `order`), cut to
    rank <= k."""
    w = Window.partitionBy(part).orderBy(*order)
    return df.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _queries(queries: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_emb")
    )


def _cosine_top_k(joined: DataFrame, k: int) -> DataFrame:
    """Exact top-k by cosine over (query, corpus vector) candidate
    rows, ties by neighbor id: (query_id, neighbor_id, cosine, rank)."""
    scored = joined.filter(F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine_col(F.col("q_emb"), F.col("embedding")).alias("cosine"),
    )
    return _top_k(
        scored, "query_id", [F.desc("cosine"), F.asc("neighbor_id")], k
    )


def brute_force_topk(
    emb: DataFrame, queries: DataFrame, k: int = 10
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    queries is expected tiny -> broadcast; corpus is scanned once;
    rank via window per query. Output: (query_id, neighbor_id,
    cosine, rank).
    """
    q = _queries(queries, "vec_id", "embedding")
    return _cosine_top_k(emb.crossJoin(F.broadcast(q)), k)


# neighbors the ANN searches return per query
ANN_K = 10


def bucketed_ann_topk(emb: DataFrame, queries: DataFrame) -> DataFrame:
    """IVF-style ANN: probe only the query's own coarse bucket.

    At 100 TB the corpus is hash/range-partitioned by bucket id, so
    each query touches one partition group instead of the full scan.
    Recall < 1.0 by construction — compare against brute_force_topk
    to measure it (see tests).
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("label").alias("q_bucket"),
    )
    return _cosine_top_k(
        emb.join(F.broadcast(q), emb["label"] == q["q_bucket"], "inner"),
        ANN_K,
    )


def _median_centroids(keyed: DataFrame, vec_col: str) -> DataFrame:
    """(bkt, centroid): the element-wise median of `vec_col` per `bkt`
    — one posexplode + (bkt, pos) aggregate, then the per-bucket
    array in pos order."""
    return (
        keyed.select("bkt", F.posexplode(vec_col).alias("pos", "v"))
        .groupBy("bkt", "pos")
        .agg(F.expr("percentile(CAST(v AS DOUBLE), 0.5)").alias("cv"))
        .groupBy("bkt")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "cv"))),
                lambda x: x["cv"],
            ).alias("centroid")
        )
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
    return _median_centroids(
        emb.select(F.col("label").alias("bkt"), "embedding"), "embedding"
    )


def ivf_multiprobe_topk(
    emb: DataFrame, queries: DataFrame, nprobe: int = 2
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
    cents = bucket_centroids(emb)
    q = _queries(queries, "vec_id", "embedding")
    ranked = _top_k(
        q.crossJoin(F.broadcast(cents)).select(
            "query_id",
            "q_emb",
            F.col("bkt"),
            cosine_col(F.col("q_emb"), F.col("centroid")).alias("c_cos"),
        ),
        "query_id",
        [F.desc("c_cos"), F.asc("bkt")],
        nprobe,
    ).select("query_id", "q_emb", "bkt")
    return _cosine_top_k(
        emb.join(F.broadcast(ranked), emb["label"] == ranked["bkt"], "inner"),
        ANN_K,
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


def _hash_subsplit(
    keyed: DataFrame, keys: list[str], bucket_cap: int
) -> DataFrame:
    """The mega-bucket guard: (*keys, sub, vec_id, embedding), where a
    `keys` cell of n rows is split into ceil(n / bucket_cap)
    sub-buckets by hashing vec_id. The cell-size table is broadcast."""
    from .dedup import h32

    sizes = keyed.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
    nsub = F.ceil(F.col("n") / F.lit(float(bucket_cap))).cast("long")
    return keyed.join(F.broadcast(sizes), keys).select(
        *keys,
        F.pmod(h32(F.col("vec_id").cast("string")), nsub).alias("sub"),
        "vec_id",
        "embedding",
    )


# cosine at which the embedding near-dup operators (bucket pairs,
# SemDeDup) call two vectors duplicates, and the largest cell the
# capped bucket join compares all-pairs
EMB_DUP_THRESHOLD = 0.3
EMB_BUCKET_CAP = 20


def embedding_near_dup_pairs_capped(emb: DataFrame) -> DataFrame:
    """embedding_near_dup_pairs with a MEGA-BUCKET guard: any `label`
    bucket larger than EMB_BUCKET_CAP is deterministically split into
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
    keyed = emb.select(F.col("label").alias("bkt"), "vec_id", "embedding")
    return _bucket_pair_join(
        _hash_subsplit(keyed, ["bkt"], EMB_BUCKET_CAP),
        ["bkt", "sub"],
        EMB_DUP_THRESHOLD,
    )


def embedding_near_dup_pairs(emb: DataFrame) -> DataFrame:
    """Near-duplicate vector pairs within coarse buckets.

    Self-join keyed on the bucket column — the all-pairs comparison
    never leaves a bucket, which is what makes embedding dedup
    feasible at corpus scale. For skew-bounded cells on a hot bucket
    see embedding_near_dup_pairs_capped.
    """
    keyed = emb.select(
        F.col("label").alias("bkt"), "vec_id", "embedding"
    )
    return _bucket_pair_join(keyed, ["bkt"], EMB_DUP_THRESHOLD)


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


# signed-random-projection signature bits, split into SRP_BANDS band
# keys (3 bits per band)
SRP_BITS = 24
SRP_BANDS = 8


def srp_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.30,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs via signed-random-projection LSH —
    the cosine-metric sibling of minhash-LSH (Jaccard) and simhash
    (text): each vector gets an SRP_BITS signature (sign of the dot
    with a fixed Rademacher hyperplane, P[bits differ] = angle/pi),
    the signature is split into SRP_BANDS keys, vectors colliding in
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
    rpb = SRP_BITS // SRP_BANDS
    dim = _dim(emb, "embedding")
    planes = srp_planes(SRP_BITS, dim)

    def bit(p: int) -> Column:
        lit = F.array(*[F.lit(v) for v in planes[p]])
        dot = F.round(_dot(F.col("embedding"), lit), 5)
        return F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0"))

    sig = emb.select(
        "vec_id",
        "embedding",
        *[bit(p).alias(f"b{p}") for p in range(SRP_BITS)],
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat(
                    *[F.col(f"b{b * rpb + i}") for i in range(rpb)]
                ).alias("key"),
            )
            for b in range(SRP_BANDS)
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
        return _bucket_pair_join(
            _hash_subsplit(keyed, ["band", "key"], bucket_cap),
            ["band", "key", "sub"],
            threshold,
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
    coarse = kmeans_centroids(
        emb, k=k_coarse, n_iter=n_iter, id_col=id_col, vec_col=vec_col
    )
    books = pq_codebooks(
        emb, m=m, k=k_codes, n_iter=n_iter, id_col=id_col, vec_col=vec_col
    )
    # ONE zero-shuffle corpus projection: PQ codes + reconstruction
    # (keep_vec carries the raw vector for the coarse assignment)
    # chained with the coarse-list assignment — no self-join anywhere
    assigned = pq_encode(
        emb, books, id_col=id_col, vec_col=vec_col, keep_vec=True
    ).select(
        id_col,
        _argmin_centroid(F.col(vec_col), coarse)["b"].alias("bkt"),
        "recon",
    )
    q = _queries(queries, id_col, vec_col)
    probed = q.select(
        "query_id",
        "q_emb",
        _probed_lists(F.col("q_emb"), coarse, nprobe).alias("bkt"),
    )
    return _adc_top_k(
        assigned.join(F.broadcast(probed), "bkt"),
        emb, q, k, rerank, id_col, vec_col,
    )


# cosine that splits an anchor's candidates into positives and negatives
TRIPLET_T_POS = 0.35


def contrastive_triplets(emb: DataFrame) -> DataFrame:
    """Mine (anchor, positive, hard-negative) training triplets for
    contrastive embedding training: per anchor, the BEST positive
    (highest cosine >= TRIPLET_T_POS) and the HARDEST negative
    (highest cosine < TRIPLET_T_POS) — hard negatives, not random
    ones, are what make
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
    order = [F.desc("cosine"), F.asc("other_id")]
    pos = _top_k(
        both.filter(F.col("cosine") >= TRIPLET_T_POS), "anchor_id", order, 1
    ).select(
        "anchor_id",
        F.col("other_id").alias("pos_id"),
        F.col("cosine").alias("pos_cos"),
    )
    neg = _top_k(
        both.filter(F.col("cosine") < TRIPLET_T_POS), "anchor_id", order, 1
    ).select(
        "anchor_id",
        F.col("other_id").alias("neg_id"),
        F.col("cosine").alias("neg_cos"),
    )
    return pos.join(neg, "anchor_id")


def _centroid_lit(cents: list[list[float]]) -> Column:
    """The centroid list as ONE nested k x dim double literal."""
    return F.array(*[F.array(*[F.lit(float(v)) for v in c]) for c in cents])


def _centroid_dists(vec: Column, cents: list[list[float]]) -> Column:
    """array of struct(d, b): the round-5 squared distance `d` from
    `vec` to every centroid `b`, in index order. One nested literal +
    a transform over the centroid index instead of k separate
    zip_with trees: bit-identical values but ~4x fewer expression
    nodes — measured 17 s -> 5.5 s on the first (analysis-cold) run
    of an 8x64 assignment, which is the case kmeans_fit always pays:
    every iteration's centroids are new literals, so every
    iteration's plan is analysis-cold. Ordering the structs ranks by
    (d, b), i.e. distance with index tie-break."""
    cl = _centroid_lit(cents)
    return F.transform(
        F.sequence(F.lit(0), F.lit(len(cents) - 1)),
        lambda j: F.struct(
            _sq_dist(vec, F.element_at(cl, j + 1)).alias("d"), j.alias("b")
        ),
    )


def _argmin_centroid(vec: Column, cents: list[list[float]]) -> Column:
    """struct(d, b) of the nearest centroid."""
    return F.array_min(_centroid_dists(vec, cents))


def _probed_lists(
    vec: Column, cents: list[list[float]], nprobe: int
) -> Column:
    """explode of the ids of the nprobe nearest centroids (nprobe=1 is
    the argmin)."""
    ranked = F.slice(F.array_sort(_centroid_dists(vec, cents)), 1, nprobe)
    return F.explode(F.transform(ranked, lambda s: s["b"]))


_EMPTY = "the embedding input is empty: no vector to seed or size from"


def _dim(emb: DataFrame, vec_col: str) -> int:
    """Length of the first vector of `emb`."""
    first = emb.select(vec_col).first()
    if first is None:
        raise ValueError(_EMPTY)
    return len(first[0])


def _seed_vectors(
    emb: DataFrame, n: int, id_col: str, vec_col: str
) -> list[list[float]]:
    """The (up to) n vectors with the smallest (md5(id), id) — a
    reproducible pseudo-random draw the DuckDB twins replay."""
    seeds = (
        emb.select(id_col, vec_col)
        .orderBy(
            F.md5(F.col(id_col).cast("string").cast("binary")),
            F.col(id_col),
        )
        .limit(n)
        .collect()
    )
    if not seeds:
        raise ValueError(_EMPTY)
    return [list(r[vec_col]) for r in seeds]


# clusters of the k-medians coarse quantizer behind kmeans_fit,
# SemDeDup and knn_graph
KMEANS_K = 8


def kmeans_fit(
    emb: DataFrame, n_iter: int = 3, keep_vec: bool = False
) -> DataFrame:
    """Deterministic K-MEDIANS (Lloyd) fit — the "train the coarse
    quantizer" step a real IVF index build runs before
    ivf_multiprobe_topk can probe it (the stored `label` column
    stands in for this in the synthetic data).

    Fully deterministic, so the DuckDB oracle replays it exactly:
      * init: the KMEANS_K vectors with smallest (md5(id), id) — a
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
    cents = kmeans_centroids(emb, KMEANS_K, n_iter)
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
    so multiprobe consumers — knn_graph at nprobe > 1 and
    ivfpq_ann_topk — can rank a vector against ALL centroids, not
    just take the argmin). A corpus of fewer than k vectors fits
    one centroid per vector, as the DuckDB twin's LIMIT k does.
    Collecting it is the point: the quantizer is driver-sized by
    design and becomes broadcast literals downstream."""
    if k < 1 or n_iter < 0:
        raise ValueError("kmeans_centroids: k >= 1 and n_iter >= 0 required")
    cents = _seed_vectors(emb, k, id_col, vec_col)
    for _ in range(n_iter):
        best = _argmin_centroid(F.col(vec_col), cents)
        med = _median_centroids(
            emb.select(vec_col, best["b"].alias("bkt")), vec_col
        ).collect()
        new = {r["bkt"]: list(r["centroid"]) for r in med}
        cents = [new.get(j, c) for j, c in enumerate(cents)]
    return cents


# k-medians rounds of the quantizer SemDeDup and knn_graph share
QUANTIZER_ITERS = 2


def semantic_cluster_dedup(emb: DataFrame) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023):
    cluster the corpus embeddings with the deterministic k-medians
    fit, then drop every vector that has a LOWER-id near-duplicate
    (cosine >= EMB_DUP_THRESHOLD) inside its own cluster. Near-dup search
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
    keyed on the cluster id — one hash exchange on `bkt`. The loser
    set joins back on the id key — a hash
    join AQE converts to broadcast when duplicates are rare.

    Output: (vec_id, bkt, dist, is_kept) — one row per input vector.
    """
    assigned = kmeans_fit(emb, QUANTIZER_ITERS, keep_vec=True)
    pairs = _bucket_pair_join(
        assigned.select("bkt", "vec_id", "embedding"),
        ["bkt"],
        EMB_DUP_THRESHOLD,
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


# knn_graph's neighbors per vector
KNN_NEIGHBORS = 5


def knn_graph(emb: DataFrame, nprobe: int = 1) -> DataFrame:
    """Approximate k-nearest-neighbor GRAPH over the corpus
    embeddings — the adjacency every graph-based curation step
    (semantic clustering into topics, kNN label propagation,
    diversity sampling a la DSIR/D4) consumes. Each vector's KNN_NEIGHBORS
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
    if not 1 <= nprobe <= KMEANS_K:
        raise ValueError("knn_graph: 1 <= nprobe <= KMEANS_K required")
    cents = kmeans_centroids(emb, KMEANS_K, QUANTIZER_ITERS)
    best = _argmin_centroid(F.col("embedding"), cents)
    b = emb.select(
        best["b"].alias("bkt"),
        F.col("vec_id").alias("nbr"),
        F.col("embedding").alias("vb"),
        _norm(F.col("embedding")).alias("nb"),
    )
    # source side: the nprobe nearest cells (nprobe=1 == argmin)
    a = emb.select(
        F.col("vec_id").alias("src"),
        F.col("embedding").alias("va"),
        _norm(F.col("embedding")).alias("na"),
        _probed_lists(F.col("embedding"), cents, nprobe).alias("bkt"),
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
    return _top_k(
        scored,
        "src",
        [F.col("cos_sim").desc(), F.col("nbr").asc()],
        KNN_NEIGHBORS,
    ).select(
        F.col("src").alias("vec_id"),
        F.col("nbr").alias("nbr_id"),
        "rank",
        "cos_sim",
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
    norms = emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"), F.sum(_sq_norm(v)).alias("_s2")
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
    dim = _dim(emb, vec_col)
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
        recon_parts.append(F.element_at(_centroid_lit(book), code + 1))
    keep = [F.col(vec_col)] if keep_vec else []
    return emb.select(
        id_col,
        *code_cols,
        F.concat(*recon_parts).alias("recon"),
        *keep,
    )


def _adc_top_k(
    joined: DataFrame,
    emb: DataFrame,
    q: DataFrame,
    k: int,
    rerank: int | None,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The ranking stage of pq_ann_topk and ivfpq_ann_topk over
    (query, encoded corpus row) candidates: top-k by ADC distance to
    `recon` (neighbor-id tie-break), or with `rerank=R` a per-query
    shortlist of R that is re-ranked by exact distance. The
    (n_queries x R) shortlist and the query side `q` broadcast back
    against the corpus `emb` for the exact vectors, instead of
    dragging two dim-sized arrays through the ADC window exchange.
    Output: (query_id, neighbor_id, adc_dist | exact_dist, rank)."""
    scored = joined.filter(F.col(id_col) != F.col("query_id")).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        _sq_dist(F.col("q_emb"), F.col("recon")).alias("adc_dist"),
    )
    order = [F.asc("adc_dist"), F.asc("neighbor_id")]
    if rerank is None:
        return _top_k(scored, "query_id", order, k)
    shortlist = _top_k(scored, "query_id", order, rerank).select(
        "query_id", "neighbor_id"
    )
    cand = (
        emb.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("n_emb"),
        )
        .join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            _sq_dist(F.col("q_emb"), F.col("n_emb")).alias("exact_dist"),
        )
    )
    return _top_k(
        cand, "query_id", [F.asc("exact_dist"), F.asc("neighbor_id")], k
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
    books = pq_codebooks(
        emb, m=m, k=k_codes, n_iter=n_iter, id_col=id_col, vec_col=vec_col
    )
    coded = pq_encode(emb, books, id_col=id_col, vec_col=vec_col)
    q = _queries(queries, id_col, vec_col)
    return _adc_top_k(
        coded.crossJoin(F.broadcast(q)), emb, q, k, rerank, id_col, vec_col
    )


def _centroid_drift(dims: DataFrame) -> DataFrame:
    """The drift statistics from per-(label, dim) sums and counts of
    two snapshots (label, sa, sb, na, nb): per-dim means divide
    before the group fold, snapshot size = max count over the dims,
    labels empty on either side dropped, outputs rounded to 5.
    Output: (label, n_a, n_b, centroid_cosine, centroid_l2)."""
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
    return _centroid_drift(dims)


# centers kcenter_select picks
KCENTER_K = 6


def kcenter_select(emb: DataFrame) -> DataFrame:
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
    base = emb.select("vec_id", "embedding")
    seed = base.orderBy(F.col("vec_id")).limit(1).collect()
    if not seed:
        raise ValueError("kcenter_select: empty input")
    chosen = [(0, seed[0]["vec_id"], None)]
    cents = [list(seed[0]["embedding"])]
    for r in range(1, KCENTER_K):
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
