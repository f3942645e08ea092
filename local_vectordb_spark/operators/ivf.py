"""IVF (inverted-file) index: cluster-pruned kNN (SURVEY §2 ops X3-X5,
Q4).

The reference trains sklearn KMeans over all chunk vectors, keeps
`cluster_id -> [ids]` inverted lists in memory, probes the 3 nearest
centroids by **L2** and scores only their members by cosine
(/root/reference/src/models/ivf_index.py:49-190). The Spark-first
re-expression:

- X3 build: MLlib KMeans (seed fixed) over the vector column; the
  "inverted lists" are simply the assignments DataFrame
  (vec_id, cluster_id) — groupBy recovers lists, but the flat table is
  the better physical form (and can be written partitioned by
  cluster_id for true partition pruning on probe).
- Q4 search: centroid probe is a driver-side O(k·dim) computation (k
  centroids are tiny by construction); the candidate filter
  `cluster_id IN probed` prunes partitions/row-groups, then the
  brute-force scorer (knn.py) runs on the survivors only.
- X4/X5 incremental add/remove: `model.transform(new_rows)` appended to
  assignments / anti-join removal — NOT the reference's
  fit-on-one-point bug (ivf_index.py:103-105).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_K = 16
SEED = 42

# Fitting KMeans over every row stops scaling long before probing does:
# past this many rows the trainer fits on a seeded sample (the FAISS
# train-on-sample practice) and only the cheap single-pass transform()
# touches the full corpus. Unreachable at test/bench fixture sizes —
# the sampled fit is the 100 TB path, not a behavior change below it.
TRAIN_SAMPLE_MAX = 2_000_000


class TwoLevelCentroids(list):
    """Cell centroids carrying a second coarse level (r11 verdict #6):
    ``supercells`` are KMeans centroids trained over the CELLS, and
    ``cell_to_super[i]`` is cell i's supercell. Subclasses list so
    every flat consumer (len() in the n_probe rule, iteration in
    oracle twins, indexing) keeps working unchanged; the probe
    routines dispatch on the type to route supercell→cell instead of
    ranking all k cells per query. This is the structure that keeps
    the coarse quantizer usable past the flat regime: routing work per
    query drops from k to ~(s + n_super·k/s) with s=√k supercells."""

    def __init__(self, cells, supercells, cell_to_super):
        super().__init__([list(c) for c in cells])
        self.supercells = [list(c) for c in supercells]
        self.cell_to_super = [int(x) for x in cell_to_super]
        if len(self.cell_to_super) != len(self):
            raise ValueError(
                f"cell_to_super maps {len(self.cell_to_super)} cells, "
                f"index has {len(self)}"
            )


def train_supercells(
    cells: Sequence[Sequence[float]], n_super: int, seed: int = SEED,
    iters: int = 20,
) -> tuple[list[list[float]], list[int]]:
    """Train the second coarse level: Lloyd's over the k cell centroids
    (k×dim — thousands of points at most, by construction), driver-side
    and DETERMINISTIC (seeded k-means++ init, fixed iteration cap,
    empty clusters reseeded to the farthest point). numpy, not a Spark
    job: the input is the index's own metadata, never corpus-sized.
    Returns (supercells, cell_to_super)."""
    import numpy as np

    pts = np.asarray(cells, dtype=np.float64)
    k = min(int(n_super), len(pts))
    rng = np.random.RandomState(seed)
    # k-means++ seeding: spread initial supercells over the cell cloud
    centers = [pts[rng.randint(len(pts))]]
    for _ in range(1, k):
        d2 = np.min(
            [((pts - c) ** 2).sum(axis=1) for c in centers], axis=0
        )
        total = d2.sum()
        if total <= 0:  # all remaining points coincide with a center
            centers.append(pts[rng.randint(len(pts))])
            continue
        # min() guards the float edge where cumsum[-1] rounds below the
        # draw and searchsorted answers len(pts)
        idx = min(
            int(np.searchsorted(np.cumsum(d2 / total), rng.rand())),
            len(pts) - 1,
        )
        centers.append(pts[idx])
    cent = np.asarray(centers)
    for _ in range(iters):
        d2 = ((pts[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        new = np.empty_like(cent)
        for j in range(k):
            members = pts[assign == j]
            if len(members):
                new[j] = members.mean(axis=0)
            else:  # reseed an emptied supercell to the farthest cell
                new[j] = pts[d2.min(axis=1).argmax()]
        if np.allclose(new, cent):
            cent = new
            break
        cent = new
    assign = ((pts[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2).argmin(
        axis=1
    )
    return cent.tolist(), assign.tolist()


def min_supercells_for(
    centroids: "TwoLevelCentroids", n_probe: int, s_total: int
) -> int:
    """The UNIFORM supercell probe width: start at max(2, ⌈s/4⌉) and
    widen until even the worst-case choice of that many supercells
    (the emptiest ones) holds ≥ n_probe member cells — so every query
    is guaranteed a full n_probe candidate set, and the driver-side
    and distributed probe forms rank identically (no per-query
    dynamic widening to reproduce in SQL)."""
    from collections import Counter

    counts = sorted(
        Counter(centroids.cell_to_super).get(j, 0) for j in range(s_total)
    )
    n_super = max(2, -(-s_total // 4))
    while n_super < s_total and sum(counts[:n_super]) < n_probe:
        n_super += 1
    return min(n_super, s_total)


def ivf_build(
    vectors: DataFrame,
    n_clusters: int = DEFAULT_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = SEED,
    n_rows: int | None = None,
):
    """X3 — train KMeans, return (centroids, assignments DataFrame).

    Centroids come back driver-side (n_clusters × dim — small by
    construction, like the reference's in-memory centroid array);
    assignments stay distributed.

    When the caller knows the corpus size (``n_rows``) and it exceeds
    TRAIN_SAMPLE_MAX, the FIT runs on a seeded sample sized to that cap
    (every KMeans iteration is a full pass over its input — fitting a
    100 TB corpus per iteration is the part of flat IVF that stops
    scaling first; centroids from a few-million-row sample converge to
    the same cell structure, the standard train-on-sample practice)
    while transform() — one cheap pass — still assigns EVERY row.

    The fit input is put in an order fixed by the ids alone: KMeans's
    k-means|| init draws per partition, in row order, so rows in the
    order a shuffle happened to fetch them gave a different model per
    run. The rows are hash-partitioned on the id into
    ``spark.sql.shuffle.partitions`` partitions and sorted by id within
    them (a global ``orderBy`` would not do: its range bounds come from
    a sample seeded by the RDD id, which depends on what ran before in
    the session). The sample is drawn by id hash for the same reason."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = vectors.select(
        F.col(id_col), array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    fit_on = feat
    if n_rows is not None and n_rows > TRAIN_SAMPLE_MAX:
        fit_on = feat.filter(
            F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(1 << 30))
            < int(TRAIN_SAMPLE_MAX / n_rows * (1 << 30))
        )
    n_parts = int(feat.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    fit_on = fit_on.repartition(n_parts, id_col).sortWithinPartitions(id_col)
    model = KMeans(k=n_clusters, seed=seed, featuresCol="features").fit(fit_on)
    assignments = model.transform(feat).select(
        F.col(id_col), F.col("prediction").alias("cluster_id")
    )
    centroids = [c.tolist() for c in model.clusterCenters()]
    return model, centroids, assignments


def assign_cells(
    df: DataFrame,
    cells: Sequence[Sequence[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-cell assignment for a batch of rows under FROZEN
    centroids — the incremental-maintenance twin of
    ``KMeans.transform`` (r13): a write's delta rows are assigned to
    the EXISTING cell structure without retraining, so index
    maintenance costs |delta|·k flops instead of a KMeans fit.
    Distributed: rows × the broadcast k-row cell table, squared-L2
    argmin, ties to the lower cell id (``probe_clusters``'s ordering,
    so a recomputed assignment under the same centroids is
    reproducible). Returns (id_col, cluster_id)."""
    from pyspark.sql import Window

    spark = df.sparkSession
    from local_vectordb_spark.session import local_rows_df

    cent = local_rows_df(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(cells)],
        "cluster_id int, _cv array<double>",
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col(vec_col).cast("array<double>"),
            F.col("_cv"),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy(id_col).orderBy(F.asc("_d2"), F.asc("cluster_id"))
    return (
        df.select(id_col, vec_col)
        .crossJoin(F.broadcast(cent))
        .select(id_col, "cluster_id", d2.alias("_d2"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, "cluster_id")
    )


def _l2(a, b):
    return math.sqrt(sum((x - y) * (x - y) for x, y in zip(a, b)))


def probe_clusters(
    centroids: Sequence[Sequence[float]], query_vec: Sequence[float], n_probe: int = 3
) -> list[int]:
    """Q4 step 1 — nearest n_probe centroids by L2 (the reference's
    probe metric, ivf_index.py:159-166). Driver-side: k·dim flops flat;
    a :class:`TwoLevelCentroids` index routes supercell→cell instead
    (~s + n_super·k/s flops), transparently to every caller."""
    if isinstance(centroids, TwoLevelCentroids):
        return probe_clusters_two_level(centroids, query_vec, n_probe)
    dists = sorted(
        (_l2(c, query_vec), i) for i, c in enumerate(centroids)
    )
    return [i for _, i in dists[:n_probe]]


def probe_clusters_two_level(
    centroids: TwoLevelCentroids,
    query_vec: Sequence[float],
    n_probe: int = 3,
) -> list[int]:
    """Two-level coarse probe (r11 verdict #6): rank the s supercells,
    keep the nearest n_super (a uniform width that guarantees ≥
    n_probe member cells even for the emptiest supercell choice —
    min_supercells_for), then rank only THOSE supercells' member
    cells and keep the nearest n_probe. Same L2-with-index-tiebreak
    ordering as the flat probe, restricted to the routed members."""
    s_total = len(centroids.supercells)
    n_super = min_supercells_for(centroids, n_probe, s_total)
    near_super = {
        j for _, j in sorted(
            (_l2(c, query_vec), j)
            for j, c in enumerate(centroids.supercells)
        )[:n_super]
    }
    members = sorted(
        (_l2(centroids[i], query_vec), i)
        for i, sj in enumerate(centroids.cell_to_super)
        if sj in near_super
    )
    return [i for _, i in members[:n_probe]]


def ivf_search(
    vectors: DataFrame,
    assignments: DataFrame,
    centroids: Sequence[Sequence[float]],
    query_vec: Sequence[float],
    k: int = 5,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Q4 — cluster-pruned kNN: probe centroids, filter candidates,
    cosine top-k on survivors only. The isin() filter is a pushable
    predicate; with assignments partitioned by cluster_id it becomes
    partition pruning (scan ~n_probe/k of the data).

    When ``assignments`` carries ``vec_col`` (the r18 stored layout:
    the facade persists the embedding INSIDE the cell-partitioned
    artifact), the probed cells' embedding bytes come partition-pruned
    from the layout and ``vectors`` contributes only its id set (a
    column-pruned scan, so a metadata-filtered frame still filters) —
    before r18 this path semi-joined the FULL base table for the
    candidate embeddings, a corpus-wide fat-column scan per search at
    100 TB. Plain (id, cluster_id) assignments keep the old shape."""
    from local_vectordb_spark.operators.knn import knn_brute_force

    probed = probe_clusters(centroids, query_vec, n_probe)
    cand_asg = assignments.filter(F.col("cluster_id").isin(probed))
    if vec_col in assignments.columns:
        candidates = cand_asg.select(id_col, vec_col).join(
            vectors.select(id_col), id_col, "left_semi"
        )
    else:
        candidates = vectors.join(
            cand_asg.select(id_col), id_col, "left_semi"
        )
    return knn_brute_force(candidates, query_vec, k=k, id_col=id_col, vec_col=vec_col)


def ivf_search_batch(
    vectors: DataFrame,
    assignments: DataFrame,
    centroids: Sequence[Sequence[float]],
    query_rows: Sequence[tuple[int, Sequence[float]]],
    k: int = 5,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Q4 batch form — cluster-pruned kNN for a SET of queries in one
    job (the bulk-similarity analogue of knn_batch, with IVF pruning).

    Per-query centroid probes are driver-side (|Q|·k·dim flops on a
    tiny centroid table, like the reference's in-memory probe); the
    (query_id, cluster_id) probe pairs broadcast-join the assignments
    table, so the corpus is scanned ONCE for all queries and each
    query scores only its probed clusters' members. Scoring is the
    JVM cosine expression (whole-stage codegen, no Python), and the
    per-query top-k is a single window. Output: (query_id, vec_id,
    score) like knn_batch.
    """
    from pyspark.sql import Window

    from local_vectordb_spark.functions.vector import cosine_similarity
    from local_vectordb_spark.operators.knn import SCORE_DECIMALS

    spark = vectors.sparkSession
    probe_pairs = [
        (int(qid), int(c))
        for qid, qv in query_rows
        for c in probe_clusters(centroids, qv, n_probe)
    ]
    from local_vectordb_spark.session import local_rows_df

    probes = local_rows_df(
        spark, probe_pairs, "query_id long, cluster_id int"
    )
    qdf = local_rows_df(
        spark,
        [(int(qid), [float(x) for x in qv]) for qid, qv in query_rows],
        "query_id long, _qv array<double>",
    )
    if vec_col in assignments.columns:
        # r18 stored layout: embeddings ride the cell partitions — the
        # probe join reads them pruned; vectors contributes ids only
        cand = (
            assignments.join(F.broadcast(probes), "cluster_id")
            .select("query_id", id_col, vec_col)
            .join(vectors.select(id_col), id_col, "left_semi")
        )
    else:
        cand = assignments.join(F.broadcast(probes), "cluster_id").select(
            "query_id", id_col
        ).join(vectors.select(id_col, vec_col), id_col)
    scored = (
        cand.join(F.broadcast(qdf), "query_id")
        .select(
            "query_id",
            id_col,
            F.round(
                cosine_similarity(F.col(vec_col), F.col("_qv")), SCORE_DECIMALS
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def sign_bucket(vec_col, n_bits: int = 4):
    """Deterministic IVF bucketing: bucket id = the sign bits of the
    first `n_bits` vector components (axis-aligned hyperplane LSH).
    Unlike KMeans clusters, the bucket of a vector is a pure expression
    of its values — engine-independent, so a SQL oracle can reproduce
    the exact candidate set, and stable under re-clustering (a vector
    never migrates). The trade-off is no data-adaptive centroids; it is
    the layout tier for oracle-exact pruned search, not a KMeans
    replacement.
    """
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    b = F.lit(0)
    for i in range(n_bits):
        b = b + F.when(
            F.element_at(c, i + 1) >= 0, F.lit(1 << (n_bits - 1 - i))
        ).otherwise(F.lit(0))
    return b.cast("int")


def sign_probe(
    query_vec: Sequence[float], n_bits: int = 4, max_hamming: int = 1
) -> list[int]:
    """Buckets within Hamming distance ``max_hamming`` of the query's
    sign bucket (vectors near a hyperplane may land on either side;
    probing the adjacent buckets recovers them). The default Hamming-1
    probe reads n_bits+1 of the 2^n_bits buckets; Hamming-2 (the
    multi-probe recall tier) reads 1 + n_bits + C(n_bits,2). Probe
    order: the query's own bucket first, then flips by ascending
    Hamming distance, each tier in ascending flip-mask order — a
    deterministic list any engine reproduces."""
    from itertools import combinations

    qb = sum(
        (1 << (n_bits - 1 - i)) for i in range(n_bits) if query_vec[i] >= 0
    )
    out = []
    for h in range(max_hamming + 1):
        for bits in combinations(range(n_bits), h):
            mask = 0
            for j in bits:
                mask |= 1 << j
            out.append(qb ^ mask)
    return out


def sign_probe_two_level(
    query_vec: Sequence[float], n_bits: int = 4, super_bits: int = 2,
    n_probe: int = 3,
) -> list[int]:
    """Deterministic two-level probe — the value-checkable twin of
    :func:`probe_clusters_two_level` (r12): route to the query's
    SUPERCELL (the top ``super_bits`` of its sign bucket), rank that
    supercell's 2^(n_bits-super_bits) member buckets by Hamming
    distance to the query's own bucket (ties by ascending bucket id),
    keep the nearest ``n_probe``. Same route→rank-members→keep-n_probe
    shape as the trained-centroid form, with bit arithmetic standing
    in for KMeans — so a SQL oracle reproduces the exact candidate
    set where the trained tier is seed-dependent."""
    qb = sign_probe(query_vec, n_bits=n_bits, max_hamming=0)[0]
    low_mask = (1 << (n_bits - super_bits)) - 1
    base = qb & ~low_mask
    ranked = sorted(
        (bin((qb & low_mask) ^ m).count("1"), base | m)
        for m in range(low_mask + 1)
    )
    return [b for _, b in ranked[:n_probe]]


def sign_ball(bucket_col, n_bits: int = 4, max_hamming: int = 1):
    """Array of every bucket within Hamming ``max_hamming`` of a
    bucket COLUMN — the expression twin of `sign_probe`, usable on a
    query table (explode → per-query probe rows)."""
    from itertools import combinations

    c = bucket_col
    out = []
    for h in range(max_hamming + 1):
        for bits in combinations(range(n_bits), h):
            mask = 0
            for j in bits:
                mask |= 1 << j
            out.append(c.bitwiseXOR(F.lit(mask)))
    return F.array(*out)


def sign_search_batch_table(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_bits: int = 4,
    max_hamming: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
    bucket_col: str | None = None,
) -> DataFrame:
    """Bulk sign-bucket search with the query set as a DATAFRAME —
    the deterministic tier's batch form, nothing through the driver:
    each query's probe set (its sign bucket + Hamming-1 flips) is a
    pure EXPRESSION of its vector, exploded into (query_id, bucket)
    pairs that broadcast-join the bucketed corpus. A candidate's
    bucket matches exactly one probe row per query, so no dedup is
    needed; scoring is the JVM cosine and the per-query top-k one
    window. Output (query_id, id, score) like every batch surface.

    Pass ``bucket_col`` naming an EXISTING corpus column (e.g. the
    `bucket` partition column of the emb_by_sign physical layout) to
    join on the stored value instead of recomputing the expression —
    against a hive-partitioned corpus that join triggers DYNAMIC
    partition pruning, narrowing the scan to the union of all
    queries' probed directories at runtime.
    """
    from pyspark.sql import Window

    from local_vectordb_spark.functions.vector import cosine_similarity
    from local_vectordb_spark.operators.knn import SCORE_DECIMALS

    qb = sign_bucket(F.col(query_vec_col), n_bits)
    ball = sign_ball(qb, n_bits, max_hamming)
    probes = queries.select(
        query_id_col, query_vec_col, F.explode(ball).alias("_bkt")
    )
    if bucket_col is not None:
        corpus = vectors.select(
            id_col, vec_col, F.col(bucket_col).alias("_bkt")
        )
    else:
        corpus = vectors.select(
            id_col, vec_col, sign_bucket(F.col(vec_col), n_bits).alias("_bkt")
        )
    scored = corpus.join(F.broadcast(probes), "_bkt").select(
        query_id_col,
        id_col,
        F.round(
            cosine_similarity(F.col(vec_col), F.col(query_vec_col)),
            SCORE_DECIMALS,
        ).alias("score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def ivf_search_batch_table(
    vectors: DataFrame,
    assignments: DataFrame,
    centroids: Sequence[Sequence[float]],
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
) -> DataFrame:
    """Q4 batch with the query set as a DATAFRAME: like
    ``ivf_search_batch`` but nothing is collected to the driver — the
    centroid probe itself runs distributed (queries × the tiny
    broadcast centroid table, squared-L2 ranked by a per-query window,
    keep n_probe), matching ``probe_clusters``'s L2-with-index-tiebreak
    ordering exactly. The probe pairs then broadcast-join the
    assignments table as usual. This is the unbounded-cardinality path:
    a 100 TB corpus against millions of queries never routes query
    vectors through the driver.
    """
    from pyspark.sql import Window

    from local_vectordb_spark.functions.vector import cosine_similarity
    from local_vectordb_spark.operators.knn import SCORE_DECIMALS

    spark = vectors.sparkSession

    # squared L2 ranks identically to L2 and skips the sqrt
    def d2_to(col: str):
        return F.aggregate(
            F.zip_with(
                F.col(query_vec_col).cast("array<double>"),
                F.col(col),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    pw = Window.partitionBy(query_id_col).orderBy(
        F.asc("_d2"), F.asc("cluster_id")
    )
    if isinstance(centroids, TwoLevelCentroids):
        # two-level probe, fully distributed (r11 verdict #6): queries ×
        # the s-row supercell table first (keep n_super per query), then
        # only the routed supercells' member cells are ranked — per
        # query the broadcast work is s + n_super·k/s rows instead of
        # k, the same √k saving the driver-side form gets, with the
        # SAME uniform n_super so both forms rank identically
        s_total = len(centroids.supercells)
        n_super = min_supercells_for(centroids, n_probe, s_total)
        from local_vectordb_spark.session import local_rows_df

        sup = local_rows_df(
            spark,
            [(j, [float(x) for x in c])
             for j, c in enumerate(centroids.supercells)],
            "super_id int, _cv array<double>",
        )
        sw = Window.partitionBy(query_id_col).orderBy(
            F.asc("_d2"), F.asc("super_id")
        )
        routed = (
            queries.select(query_id_col, query_vec_col)
            .crossJoin(F.broadcast(sup))
            .select(query_id_col, query_vec_col, "super_id",
                    d2_to("_cv").alias("_d2"))
            .withColumn("_rn", F.row_number().over(sw))
            .filter(F.col("_rn") <= n_super)
            .select(query_id_col, query_vec_col, "super_id")
        )
        cells = local_rows_df(
            spark,
            [(i, int(centroids.cell_to_super[i]), [float(x) for x in c])
             for i, c in enumerate(centroids)],
            "cluster_id int, super_id int, _cv array<double>",
        )
        probes = (
            routed.join(F.broadcast(cells), "super_id")
            .select(query_id_col, "cluster_id", d2_to("_cv").alias("_d2"))
            .withColumn("_rn", F.row_number().over(pw))
            .filter(F.col("_rn") <= n_probe)
            .select(query_id_col, "cluster_id")
        )
    else:
        from local_vectordb_spark.session import local_rows_df

        cent = local_rows_df(
            spark,
            [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
            "cluster_id int, _cv array<double>",
        )
        probes = (
            queries.select(query_id_col, query_vec_col)
            .crossJoin(F.broadcast(cent))
            .select(query_id_col, "cluster_id", d2_to("_cv").alias("_d2"))
            .withColumn("_rn", F.row_number().over(pw))
            .filter(F.col("_rn") <= n_probe)
            .select(query_id_col, "cluster_id")
        )
    if vec_col in assignments.columns:
        # r18 stored layout: see ivf_search — pruned fat reads from the
        # artifact, ids-only from vectors
        cand = (
            assignments.join(F.broadcast(probes), "cluster_id")
            .select(query_id_col, id_col, vec_col)
            .join(vectors.select(id_col), id_col, "left_semi")
        )
    else:
        cand = assignments.join(F.broadcast(probes), "cluster_id").select(
            query_id_col, id_col
        ).join(vectors.select(id_col, vec_col), id_col)
    scored = (
        cand
        .join(F.broadcast(queries.select(query_id_col, query_vec_col)), query_id_col)
        .select(
            query_id_col,
            id_col,
            F.round(
                cosine_similarity(F.col(vec_col), F.col(query_vec_col)),
                SCORE_DECIMALS,
            ).alias("score"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def ivf_add(model, new_rows: DataFrame, assignments: DataFrame,
            id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """X4 — assign new vectors with the existing model (no refit)."""
    from pyspark.ml.functions import array_to_vector

    feat = new_rows.select(
        F.col(id_col),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
    )
    new_assign = model.transform(feat).select(
        F.col(id_col), F.col("prediction").alias("cluster_id")
    )
    return assignments.unionByName(new_assign)


def ivf_remove(assignments: DataFrame, removed_ids: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """X5 — drop ids from the assignments table (anti-join, not the
    reference's linear scan of every inverted list)."""
    return assignments.join(F.broadcast(removed_ids), id_col, "left_anti")
