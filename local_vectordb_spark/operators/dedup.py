"""Deduplication operators for large-scale text/embedding corpora
(north-star ops, SURVEY §2.5): exact, n-gram Jaccard, MinHash-LSH,
SimHash, and embedding-cosine near-dup.

Scale design notes (the part that matters at 100 TB):
- exact dedup is a hash-groupBy — one shuffle on the digest;
- n-gram Jaccard avoids the O(n²) pairwise trap with an inverted-index
  self-join on shingles (pairs are only generated for docs sharing at
  least one shingle), then one groupBy to count intersections;
- MinHash banding turns near-dup search into an equi-join on band
  signatures (each band hash is a shuffle key — no cross join ever
  materializes);
- SimHash reduces each doc to a 64-bit signature; banded prefixes
  make Hamming-≤r candidate generation an equi-join too;
- embedding near-dup uses batch top-k (BLAS matmul) rather than a
  threshold self-join, so the candidate set per vector is bounded by k.

All signature computation is JVM-side (xxhash64 + bit ops) — no Python
in the per-token path.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from local_vectordb_spark.functions.text import fingerprint, shingles

JACCARD_DECIMALS = 6


def exact_dupes(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of documents with identical *normalized* text.

    Output: (fingerprint, n_docs, canonical_id) per duplicate group,
    canonical = smallest id. One shuffle on the 128-bit digest; at
    100 TB the digest groupBy is the optimal exact-dedup plan (map-side
    partial aggregation collapses most singletons before the shuffle).
    """
    return (
        docs.select(fingerprint(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("canonical_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def shingle_sets(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, shingles ARRAY<STRING>, n_shingles) per doc — shared prep
    for Jaccard and MinHash."""
    return docs.select(
        F.col(id_col),
        shingles(F.col(text_col), n).alias("shingles"),
    ).withColumn("n_shingles", F.size("shingles"))


def ngram_jaccard_dupes(
    docs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by word-n-gram Jaccard similarity.

    Inverted-index plan: explode shingles → self-equi-join on shingle
    (generates a pair-row only when two docs share a shingle) → count
    shared shingles per pair → Jaccard = |∩| / (|A|+|B|-|∩|).
    Output: (a_id, b_id, jaccard) with a_id < b_id.

    The join key is the shingle itself, so hot shingles are the skew
    risk: a shingle shared by d docs emits d·(d-1)/2 pair rows, and on
    boilerplate-heavy corpora (license headers, templated pages) one
    shingle can hit millions of docs — the quadratic escape hatch.
    `max_df` caps it: shingles with document frequency > max_df are
    removed from the shingle UNIVERSE (stopword semantics — both the
    intersection counts and the set sizes are computed over the kept
    shingles), so per-shingle join fan-out is bounded by max_df². The
    hot-shingle list is tiny by construction (only shingles above the
    cap), so the filter is a broadcast anti-join — the posting list is
    never shuffled for it. Default None preserves exact Jaccard.
    """
    from local_vectordb_spark.session import ensure_min_parallelism

    # CPU-heavy per-row shingling: a single small parquet file arrives
    # as 1-2 splits and would pin the whole pipeline to 2 cores
    sets_df = shingle_sets(ensure_min_parallelism(docs), id_col, text_col, n)
    sizes = sets_df.select(F.col(id_col), "n_shingles")
    posting = sets_df.select(
        F.col(id_col), F.explode("shingles").alias("shingle")
    )
    if max_df is not None:
        # barrier: the capped path consumes the posting list three ways
        # (df aggregate, recomputed sizes, pair buckets) — without it
        # the CPU-heavy shingling lineage re-executes per consumer. The
        # materialization is the exploded posting list itself (what the
        # shuffle would carry anyway), spilled to local disk at scale.
        posting = posting.localCheckpoint(eager=True)
        hot = (
            posting.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > max_df)
            .select("shingle")
        )
        posting = posting.join(F.broadcast(hot), "shingle", "left_anti")
        sizes = posting.groupBy(id_col).agg(
            F.count("*").alias("n_shingles")
        )
    # Bucket-local pair generation (same shape as _bucket_pairs): ONE
    # shuffle of the posting list into per-shingle member lists, pairs
    # exploded bucket-locally. A two-sided self-join would shuffle the
    # posting list twice AND re-run the shingle pipeline per side.
    # Per-shingle work is C(df,2) — bounded by max_df when capped; the
    # aggregate output is a materialization barrier, so the pair
    # lambdas reference a plain attribute.
    buckets = (
        posting.groupBy("shingle")
        .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ms"),
            lambda m, i: F.transform(
                F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                lambda m2: F.struct(m.alias("a"), m2.alias("b")),
            ),
        )
    )
    inter = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .groupBy(
            F.col("p.a").alias("a_id"), F.col("p.b").alias("b_id")
        )
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("a_id"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("b_id"), F.col("n_shingles").alias("n_b"))
    return (
        inter.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                JACCARD_DECIMALS,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Deterministic MinHash signature per doc, fully JVM-side.

    hash_i(shingle) = xxhash64(shingle, seed=i); signature element i is
    the min over the doc's shingles. No Python, no MLlib randomness —
    reproducible across runs and cluster sizes.
    Output: (id, sig ARRAY<BIGINT> length num_hashes, n_shingles).
    """
    sets_df = shingle_sets(docs, id_col, text_col, n)

    # ONE aggregate pass over the shingle array carrying all num_hashes
    # running minima. (num_hashes separate array_min(transform(...))
    # branches would each re-inline — and re-compute — the shingle
    # construction expression per row: Catalyst collapses projections
    # into lambda bodies, so computed columns referenced inside
    # higher-order functions must be function ARGUMENTS, not captures.)
    # The whole aggregate is ONE generated-SQL expr(): building the
    # same tree out of pyspark Column calls costs num_hashes × ~6 py4j
    # round-trips per lambda (measured 0.8 s of pure DataFrame
    # CONSTRUCTION per call at num_hashes=32 — more than the query's
    # executor time); the SQL string parses in the JVM in ~ms and
    # resolves to the identical expression, so results are unchanged.
    max_long = (1 << 63) - 1
    init = ", ".join(f"{max_long}L" for _ in range(num_hashes))
    mins = ", ".join(
        f"least(element_at(acc, {i + 1}), xxhash64(s, {i}))"
        for i in range(num_hashes)
    )
    sig = F.expr(
        f"aggregate(shingles, array({init}), (acc, s) -> array({mins}))"
    )
    return sets_df.select(F.col(id_col), sig.alias("sig"), F.col("n_shingles"))


def minhash_lsh_dupes(
    docs: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash + LSH banding near-dup pairs — the 100 TB dedup path.

    Signatures are split into `bands` bands of num_hashes/bands rows;
    docs agreeing on any full band become candidates (equi-join on
    (band_idx, band_hash) — a plain shuffle join, never a cross join).
    Candidates are then verified with *estimated* Jaccard = fraction of
    agreeing signature positions.
    Output: (a_id, b_id, est_jaccard) with a_id < b_id.
    """
    from local_vectordb_spark.session import ensure_min_parallelism

    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(
        ensure_min_parallelism(docs), num_hashes, id_col, text_col, n
    )
    band_arr = F.array(
        *[
            F.hash(F.slice(F.col("sig"), i * rows_per_band + 1, rows_per_band))
            for i in range(bands)
        ]
    )
    banded = sigs.select(
        F.col(id_col), F.col("sig"), F.posexplode(band_arr).alias("band", "bh")
    )
    return _bucket_pairs(banded, id_col, num_hashes, threshold, max_bucket_size)


def _bucket_pairs(
    banded: DataFrame,
    id_col: str,
    num_hashes: int,
    threshold: float,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Bucket-local pair generation shared by the xxhash64 and portable
    MinHash variants: group by (band, band_hash) and emit pairs within
    each bucket. One shuffle, and signatures are computed ONCE — a
    banded self-join would shuffle the posting list twice and re-run
    the whole signature pipeline for each join side. Buckets are sorted
    so pairs come out a_id < b_id; the aggregate output is a
    materialization barrier, so the pair lambdas reference a plain
    attribute (no per-element re-evaluation).

    Pathologically hot buckets (e.g. millions of empty docs sharing a
    band) are the skew risk at scale: a bucket of size m emits m·(m-1)/2
    pairs in a single task, and the collect_list buffer holds all m
    signatures. `max_bucket_size` bounds BOTH by rank-filtering members
    to the first `max_bucket_size` ids BEFORE the collect (row_number
    over a sort-based, spillable window — never a giant in-memory
    array), so per-bucket work is O(max_bucket_size²) however
    degenerate the corpus. The window and the groupBy hash-partition on
    the same (band, bh) key, so the cap adds no extra shuffle. Dropped
    pairs are observable via :func:`lsh_bucket_audit` on the same
    banded input. Default None keeps exact LSH semantics.
    """
    if max_bucket_size is not None:
        w = Window.partitionBy("band", "bh").orderBy(id_col)
        banded = (
            banded.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= max_bucket_size)
            .drop("_rk")
        )
    buckets = (
        banded.groupBy("band", "bh")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col(id_col).alias("id"), F.col("sig")))
            ).alias("ms")
        )
        .filter(F.size("ms") > 1)
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ms"),
            lambda m, i: F.transform(
                F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                lambda m2: F.struct(
                    m["id"].alias("a_id"),
                    m2["id"].alias("b_id"),
                    F.size(
                        F.filter(
                            F.zip_with(m["sig"], m2["sig"], lambda x, y: x == y),
                            lambda eq: eq,
                        )
                    ).alias("n_agree"),
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select(
            F.col("p.a_id").alias("a_id"),
            F.col("p.b_id").alias("b_id"),
            F.round(
                F.col("p.n_agree").cast("double") / F.lit(num_hashes),
                JACCARD_DECIMALS,
            ).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .dropDuplicates(["a_id", "b_id"])
    )


def minhash_lsh_dupes_portable(
    docs: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash+LSH with an ENGINE-PORTABLE hash family: hash_i(shingle)
    = md5(shingle || '#' || i) compared as lowercase hex strings (the
    lexicographic min over hex is just as valid a random permutation
    proxy as a numeric min). Identical strings hash identically in any
    engine with md5, so — unlike the xxhash64 production variant, whose
    driver check is rows-only — signatures, band keys, candidate pairs,
    and Jaccard estimates here are all value-reproducible in plain SQL
    and the whole pipeline is oracle-matched. Same plan shape as
    `minhash_lsh_dupes` (one-pass signatures, bucket groupBy, never a
    cross join); md5 costs more per shingle than xxhash64, which is why
    the production path keeps xxhash64.
    """
    banded = minhash_banded_portable(docs, num_hashes, bands, id_col, text_col, n)
    return _bucket_pairs(banded, id_col, num_hashes, threshold, max_bucket_size)


def minhash_banded_portable(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """(id, sig, band, bh) banding rows for the md5-portable hash
    family — the shared first half of :func:`minhash_lsh_dupes_portable`,
    exposed so :func:`lsh_bucket_audit` can audit the same buckets pair
    generation sees.
    """
    from local_vectordb_spark.session import ensure_min_parallelism

    rows_per_band = num_hashes // bands
    sets_df = shingle_sets(
        ensure_min_parallelism(docs), id_col, text_col, n
    )
    # '~' sorts after every hex digit, so it is the string-domain +inf.
    # Generated-SQL expr() for the same reason as minhash_signatures:
    # the Column-built tree costs num_hashes × ~6 py4j round-trips of
    # pure driver-side construction per call; the string parses in the
    # JVM to the identical expression.
    init = ", ".join("'~'" for _ in range(num_hashes))
    mins = ", ".join(
        f"least(element_at(acc, {i + 1}), md5(concat(s, '#{i}')))"
        for i in range(num_hashes)
    )
    sig = F.expr(
        f"aggregate(shingles, array({init}), (acc, s) -> array({mins}))"
    )
    sigs = sets_df.select(F.col(id_col), sig.alias("sig"))
    band_arr = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|", F.slice(F.col("sig"), i * rows_per_band + 1, rows_per_band)
                )
            )
            for i in range(bands)
        ]
    )
    return sigs.select(
        F.col(id_col), F.col("sig"), F.posexplode(band_arr).alias("band", "bh")
    )


def lsh_bucket_audit(
    banded: DataFrame, id_col: str, max_bucket_size: int
) -> DataFrame:
    """Dropped-pairs audit for a capped LSH run: for every bucket over
    `max_bucket_size`, how many members it has and how many candidate
    pairs the cap discards — C(m,2) − C(cap,2). A capped dedup is an
    approximation; this makes the approximation MEASURABLE (sum the
    column for the corpus-wide dropped-pair count) instead of silent.
    Output: (band, bh, bucket_size, n_pairs_dropped), one shuffle on
    the same (band, bh) key as pair generation.
    """
    m = F.col("bucket_size").cast("long")
    cap = F.lit(max_bucket_size).cast("long")
    return (
        banded.groupBy("band", "bh")
        .agg(F.count(id_col).alias("bucket_size"))
        .filter(F.col("bucket_size") > max_bucket_size)
        # The numerator is always even and non-negative, so halving by
        # shiftright stays exact in 64-bit integer math; a float `/ 2`
        # loses exactness past 2^53 (bucket sizes ~9.5e7, plausible on
        # a degenerate 100 TB corpus).
        .withColumn(
            "n_pairs_dropped",
            F.shiftright(m * (m - 1) - cap * (cap - 1), 1),
        )
    )


# rounds the most recent connected_components call took to converge
# (including the final no-change round) — observability for the
# O(diameter) claim; read after a call, e.g. by the scale bench notes
LAST_CC_ROUNDS = 0


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame | None = None,
    a_col: str = "a_id",
    b_col: str = "b_id",
    id_col: str = "doc_id",
    max_iters: int = 20,
) -> DataFrame:
    """Collapse duplicate PAIRS into duplicate GROUPS: each node gets
    the minimum id reachable through the pair graph (the canonical
    representative every dedup pipeline keeps).

    Min-label propagation: every round, each node adopts the smallest
    label among itself and its neighbors; converges in O(component
    diameter) rounds — near-dup components are shallow (dups of dups of
    one original), so a handful of joins. Each round is one shuffle on
    node id; frontiers are checkpointed so the plan doesn't re-expand
    previous rounds. Output: (node, component) with component = min id.

    ``nodes`` defaults to the endpoints of ``pairs`` — derived from
    the CHECKPOINTED edge list, so an expensive pair-generation plan
    (e.g. the n-gram inverted index) executes exactly once; a caller
    passing its own ``nodes`` built from the raw pairs plan pays that
    plan a second time (the 2x cost this default exists to avoid).
    """
    global LAST_CC_ROUNDS
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    if nodes is None:
        # edges are bidirectional, so src alone covers every endpoint
        nodes = edges.select(F.col("src").alias(id_col)).distinct()
    labels = nodes.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("component")
    ).localCheckpoint(eager=True)
    for it in range(max_iters):
        LAST_CC_ROUNDS = it + 1
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_min"))
            .withColumnRenamed("src", "node")
        )
        # change detection fused into the label projection: the flag is
        # materialized by the SAME checkpoint as the labels, so the
        # convergence check is a filter over cached rows — not a second
        # join job per round against the previous labels
        new_labels = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nbr_min", F.col("component"))
                ).alias("component"),
                (F.col("nbr_min") < F.col("component")).alias("_changed"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter("_changed").limit(1).count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            break
    else:
        # silently returning non-converged labels would hand a dedup
        # pipeline WRONG families (members split across components) —
        # at 100 TB that's leaked eval twins, not a perf footnote. A
        # graph this deep needs a bigger max_iters or hub-style edges
        # (see the star-edge LSH form) that halve the diameter.
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds"
            " — component diameter exceeds the iteration budget"
        )
    return labels


def _simhash_expr(hashes_sql: str, n_bits: int):
    """SimHash from a token-hash array in ONE aggregate pass.

    The naive form — n_bits separate `aggregate(hashes, ...)` branches,
    one per bit — re-evaluates `hashes` (the whole tokenize+hash
    pipeline) once PER BIT per row: 60-64 full passes, ~10-20× the
    query runtime at sf0.1 under the 4.1.x interpreted HOF path. Same
    discipline as the MinHash signatures: one aggregate whose
    accumulator carries ALL n_bits running vote counts, with the
    bit-assembly in the finish lambda (the accumulator is a plain
    variable there — referencing it n_bits times costs nothing).
    Vote rule unchanged: bit_j = 1 iff Σ_tokens (bit_j(hash)*2-1) > 0.
    NULL token arrays (NULL text) hash to 0, same as an empty array —
    so NULL-text docs stay in the candidate pool and pair with
    empty-string docs instead of silently dropping out (the aggregate
    alone would return NULL for a NULL input array).

    ``hashes_sql`` is a SQL fragment (not a Column): the whole
    aggregate is ONE generated-SQL expr() because the Column-built
    form costs n_bits × ~10 py4j round-trips of driver-side tree
    construction per call — measured 2.5 s of pure CONSTRUCTION per
    dedup_simhash_md5 run at n_bits=60, more than the query's entire
    executor time. The string parses in the JVM in ~ms and resolves
    to the identical expression, so signatures are bit-unchanged.
    """
    init = ", ".join("0" for _ in range(n_bits))
    votes = ", ".join(
        f"element_at(acc, {j + 1})"
        f" + CAST((shiftright(h, {j}) & 1) * 2 - 1 AS INT)"
        for j in range(n_bits)
    )
    bits = " | ".join(
        f"shiftleft(CASE WHEN element_at(acc, {j + 1}) > 0"
        f" THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END, {j})"
        for j in range(n_bits)
    )
    return F.expr(
        f"coalesce(aggregate({hashes_sql}, array({init}),"
        f" (acc, h) -> array({votes}), acc -> {bits}), CAST(0 AS BIGINT))"
    )


def simhash_votes_arrow(
    hashed: DataFrame, id_col: str, n_bits: int
) -> DataFrame:
    """numpy mapInArrow twin of :func:`_simhash_expr` over a
    pre-computed ``(id, _hs ARRAY<BIGINT>)`` projection — signatures
    are bit-identical by construction (guide §4: vectorize the per-row
    work, cross the Python boundary once).

    Why it exists: the one-pass SQL aggregate runs under Spark 4.1.x's
    INTERPRETED higher-order-function path, allocating an n_bits-wide
    vote array per token per row — the dominant executor cost of the
    whole SimHash dedup family. Here the token hashes cross the Arrow
    boundary once as a contiguous int64 buffer and the votes are pure
    integer numpy: bit_j(doc) = 1 iff 2·(count of tokens with bit j
    set) > token count, which is exactly Σ(bit·2−1) > 0 — the expr
    form's vote rule, with no float anywhere, so equality is provable
    (pinned by tests/test_dedup.py::test_simhash_votes_arrow_parity).
    NULL token arrays and empty arrays both yield signature 0, same as
    the expr form's coalesce. Token hashing (xxhash64/md5) stays
    JVM-side in the projection feeding this, so cross-engine hash
    semantics are untouched.
    """
    import pyarrow as pa
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [hashed.schema[id_col], StructField("simhash", LongType())]
    )
    shifts = np.arange(n_bits, dtype=np.uint64)

    def votes(batches):
        for batch in batches:
            ids = batch.column(0)
            lst = batch.column(1)
            n = len(lst)
            if n == 0:
                yield pa.RecordBatch.from_arrays(
                    [ids, pa.array([], type=pa.int64())],
                    schema=pa.schema(
                        [batch.schema.field(0), pa.field("simhash", pa.int64())]
                    ),
                )
                continue
            offsets = lst.offsets.to_numpy().astype(np.int64)
            cnt = offsets[1:] - offsets[:-1]
            values = lst.values.to_numpy(zero_copy_only=False)
            sig = np.zeros(n, dtype=np.uint64)
            t = len(values)
            if t:
                # bit matrix (t, 64): column j = bit j of the int64's
                # two's-complement representation == (h >> j) & 1
                bits = np.unpackbits(
                    values.view(np.uint8).reshape(-1, 8),
                    axis=1,
                    bitorder="little",
                )[:, :n_bits]
                # per-row popcount of each bit column as an exact
                # segment sum over a prefix sum: an empty row's segment
                # is empty, so it counts 0 ones and votes bit 0 (int32:
                # a batch never holds 2^31 tokens, half int64's memory)
                csum = np.zeros((t + 1, n_bits), dtype=np.int32)
                np.cumsum(bits, axis=0, dtype=np.int32, out=csum[1:])
                ones = csum[offsets[1:]] - csum[offsets[:-1]]
                sig = (
                    ((2 * ones > cnt[:, None]).astype(np.uint64) << shifts)
                    .sum(axis=1, dtype=np.uint64)
                )
            if lst.null_count:
                sig[lst.is_null().to_numpy(zero_copy_only=False)] = 0
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(sig.view(np.int64), type=pa.int64())],
                schema=pa.schema(
                    [batch.schema.field(0), pa.field("simhash", pa.int64())]
                ),
            )

    return hashed.mapInArrow(votes, out_schema)


def simhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    use_arrow: bool = True,
) -> DataFrame:
    """64-bit SimHash per doc from token xxhash64 bit votes.

    bit_j(doc) = 1 iff Σ_tokens (bit_j(xxhash64(token))*2 - 1) > 0.
    Output: (id, simhash BIGINT). Token hashing is JVM-side; the vote
    fold runs in the numpy Arrow kernel (:func:`simhash_votes_arrow`,
    bit-identical to the ``use_arrow=False`` one-pass SQL aggregate,
    which remains as the pure-JVM/parity form).
    """
    from local_vectordb_spark.functions.text import normalize_text, tokens

    toks = tokens(normalize_text(F.col(text_col)))
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    # the hash pipeline stays a (small) Column tree projected once;
    # CollapseProject inlines it into the aggregate's INPUT argument
    # (referenced once — evaluated once per row, same as before)
    hashed = docs.select(F.col(id_col), hashes.alias("_hs"))
    if use_arrow:
        return simhash_votes_arrow(hashed, id_col, 64)
    return hashed.select(
        F.col(id_col), _simhash_expr("_hs", 64).alias("simhash")
    )


def simhash_dupes(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming.

    Candidate generation by banding the 64-bit signature into 4
    16-bit keys (pigeonhole: ≤3 differing bits ⇒ at least one of 4
    bands identical), so candidates come from 4 equi-joins, not a
    cross join. Output: (a_id, b_id, hamming).
    """
    from local_vectordb_spark.session import ensure_min_parallelism

    sigs = simhash_signatures(ensure_min_parallelism(docs), id_col, text_col)
    return _simhash_band_pairs(sigs, max_hamming, id_col, bits_per_band=16)


def _simhash_band_pairs(
    sigs: DataFrame, max_hamming: int, id_col: str, bits_per_band: int
) -> DataFrame:
    """Banded candidate join shared by the xxhash64 and portable-md5
    SimHash variants: split the signature into 4 keys of
    `bits_per_band` bits (pigeonhole: ≤3 differing bits ⇒ at least one
    of 4 bands identical), equi-join per band, then verify Hamming."""
    mask = (1 << bits_per_band) - 1
    bands = F.array(
        *[
            F.shiftright(F.col("simhash"), bits_per_band * i).bitwiseAND(
                F.lit(mask)
            )
            for i in range(4)
        ]
    )
    banded = sigs.select(
        F.col(id_col), F.col("simhash"), F.posexplode(bands).alias("band", "key")
    )
    # bucket-local pair generation (same shape as _bucket_pairs): one
    # shuffle into per-(band, key) member lists, signatures computed
    # ONCE — a two-sided self-join would shuffle the banded rows twice
    # and re-run the whole signature aggregate per side
    buckets = (
        banded.groupBy("band", "key")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col(id_col).alias("id"), F.col("simhash"))
                )
            ).alias("ms")
        )
        .filter(F.size("ms") > 1)
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ms"),
            lambda m, i: F.transform(
                F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                lambda m2: F.struct(
                    m["id"].alias("a_id"),
                    m2["id"].alias("b_id"),
                    F.bit_count(
                        m["simhash"].bitwiseXOR(m2["simhash"])
                    ).alias("hamming"),
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select(
            F.col("p.a_id").alias("a_id"),
            F.col("p.b_id").alias("b_id"),
            F.col("p.hamming").alias("hamming"),
        )
        .dropDuplicates(["a_id", "b_id"])
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_signatures_portable(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    use_arrow: bool = True,
) -> DataFrame:
    """60-bit SimHash with an ENGINE-PORTABLE hash family: the token
    hash is the first 15 hex chars of md5(token) read as an integer
    (60 bits < 2^63, so `conv(..., 16, 10)` is exact in Spark and
    `('0x' || hex)::BIGINT` is exact in any engine with 64-bit ints).
    Same vote rule as `simhash_signatures`; unlike xxhash64, every
    signature bit is value-reproducible in plain SQL, so the whole
    near-dup pipeline can be oracle-checked, not just row-counted.
    Output: (id, simhash BIGINT).
    """
    from local_vectordb_spark.functions.text import normalize_text, tokens

    toks = tokens(normalize_text(F.col(text_col)))
    hashes = F.transform(
        toks,
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
    )
    # same single-reference projection as simhash_signatures
    hashed = docs.select(F.col(id_col), hashes.alias("_hs"))
    if use_arrow:
        return simhash_votes_arrow(hashed, id_col, 60)
    return hashed.select(
        F.col(id_col), _simhash_expr("_hs", 60).alias("simhash")
    )


def simhash_dupes_portable(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """`simhash_dupes` over the portable md5 hash family: identical
    plan shape (4 pigeonhole band equi-joins over 15-bit keys, Hamming
    verification, dropDuplicates), but signatures — and therefore
    candidate pairs and Hamming distances — are bit-identical across
    engines. Output: (a_id, b_id, hamming)."""
    from local_vectordb_spark.session import ensure_min_parallelism

    sigs = simhash_signatures_portable(
        ensure_min_parallelism(docs), id_col, text_col
    )
    return _simhash_band_pairs(sigs, max_hamming, id_col, bits_per_band=15)


def embedding_near_dupes(
    vectors: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate vectors by cosine ≥ threshold — the exact
    all-pairs baseline.

    Distributed self-join with the JVM cosine expression; no driver
    collect. This is deliberately the *exact* O(n²) reference
    semantics — at 100 TB you run the LSH candidate generator first
    (operators/lsh.py random-hyperplane buckets, or minhash_lsh_dupes
    for text) and verify only candidates with this scorer; the
    expression and output contract are identical either way.
    Output: (a_id, b_id, score) with a_id < b_id.
    """
    from local_vectordb_spark.functions.vector import cosine_similarity
    from local_vectordb_spark.operators.knn import SCORE_DECIMALS

    a = vectors.select(
        F.col(id_col).alias("a_id"), F.col(vec_col).alias("va")
    )
    b = vectors.select(
        F.col(id_col).alias("b_id"), F.col(vec_col).alias("vb")
    )
    score = F.round(
        cosine_similarity(F.col("va"), F.col("vb")), SCORE_DECIMALS
    ).alias("score")
    return (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", score)
        .filter(F.col("score") >= threshold)
    )


def embedding_near_dupes_blas(
    vectors: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs cosine near-dup via broadcast + BLAS matmul —
    the fast path when one side of the self-join fits in executor
    memory (the map-side-join analogue for vector scoring).

    The full (id, unit-vector) matrix is broadcast to executors; each
    Arrow batch computes batch × matrixᵀ in one BLAS call and emits
    only pairs with score ≥ threshold and a_id < b_id. Work is still
    O(n²) flops but at memory bandwidth, with no shuffle and no pair
    materialization below threshold. For corpora where neither side
    fits (true 100 TB self-join), generate candidates with LSH first
    and verify with `embedding_near_dupes` semantics.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from local_vectordb_spark.operators.knn import SCORE_DECIMALS

    spark = vectors.sparkSession
    pdf = vectors.select(id_col, vec_col).toPandas()
    ids = pdf[id_col].to_numpy(dtype=np.int64)
    mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    unit = mat / np.where(norms == 0.0, 1.0, norms)
    bc = spark.sparkContext.broadcast((ids, unit))

    out_schema = StructType(
        [
            StructField("a_id", LongType()),
            StructField("b_id", LongType()),
            StructField("score", DoubleType()),
        ]
    )

    def pairs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_ids, all_unit = bc.value
        for b in batches:
            bids = b[id_col].to_numpy(dtype=np.int64)
            bm = np.array(b[vec_col].tolist(), dtype=np.float64)
            bn = np.linalg.norm(bm, axis=1, keepdims=True)
            bu = bm / np.where(bn == 0.0, 1.0, bn)
            scores = np.round(bu @ all_unit.T, SCORE_DECIMALS)
            ai, bj = np.nonzero(
                (scores >= threshold) & (bids[:, None] < all_ids[None, :])
            )
            yield pd.DataFrame(
                {
                    "a_id": bids[ai],
                    "b_id": all_ids[bj],
                    "score": scores[ai, bj],
                }
            )

    return vectors.select(id_col, vec_col).mapInPandas(pairs, out_schema)


def embedding_near_dupes_lsh(
    vectors: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_tables: int = 3,
    bucket_length: float | None = None,
) -> DataFrame:
    """Embedding near-dup for corpora too big to broadcast: LSH
    candidate generation followed by EXACT cosine rescoring — the
    100 TB path `embedding_near_dupes_blas`'s docstring promises.

    cos(a,b) ≥ t on unit vectors ⇔ ‖â−b̂‖ ≤ √(2−2t), so the pair
    search normalizes JVM-side, runs the bucketed
    `approxSimilarityJoin` at that radius (never an all-pairs join),
    then joins the ORIGINAL vectors back and keeps pairs whose exact
    rounded cosine clears the threshold. Rescoring means the only
    error mode is a missed candidate (recall of the OR-amplified
    tables: identical vectors always collide); precision is exact.

    Output matches `embedding_near_dupes_blas`: (a_id, b_id, score).
    """
    from local_vectordb_spark.functions.vector import cosine_similarity
    from local_vectordb_spark.operators.ann import lsh_bucket_pairs
    from local_vectordb_spark.operators.knn import SCORE_DECIMALS
    from local_vectordb_spark.session import ensure_min_parallelism

    # A small parquet corpus arrives as one split and the whole
    # hash/explode/join pipeline would run single-task; no-op at scale.
    # The eager checkpoint is a pure materialization barrier (values
    # untouched): without it every downstream ACTION re-executes the
    # scan+union+normalize lineage from the source — the bucket-width
    # dim probe, the median-norm quantile, BOTH approxSimilarityJoin
    # sides, and both rescore sides each paid the full input pipeline
    # again (profiled r19: three ~0.5 s repeats inside a 2.4 s query).
    # At true 100 TB the same move is the stored normalized projection
    # (materialize once, scan many) — identical semantics.
    vectors = ensure_min_parallelism(vectors).localCheckpoint(eager=True)
    max_l2 = max(math.sqrt(max(0.0, 2.0 - 2.0 * threshold)), 1e-9)
    if bucket_length is None:
        bucket_length = max(max_l2 / 2.0, 1e-3)

    nrm = F.sqrt(
        F.aggregate(
            F.transform(F.col(vec_col).cast("array<double>"), lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    unit = vectors.select(
        F.col(id_col),
        F.when(nrm == 0.0, F.col(vec_col).cast("array<double>"))
        .otherwise(
            F.transform(F.col(vec_col).cast("array<double>"), lambda x: x / nrm)
        )
        .alias(vec_col),
    )
    cand = lsh_bucket_pairs(
        unit, max_l2=max_l2, id_col=id_col, vec_col=vec_col,
        bucket_length=bucket_length, num_tables=num_tables,
    ).select("a_id", "b_id")

    a = vectors.select(F.col(id_col).alias("a_id"), F.col(vec_col).alias("_va"))
    b = vectors.select(F.col(id_col).alias("b_id"), F.col(vec_col).alias("_vb"))
    return (
        cand.join(a, "a_id")
        .join(b, "b_id")
        .select(
            "a_id",
            "b_id",
            F.round(
                cosine_similarity(F.col("_va"), F.col("_vb")), SCORE_DECIMALS
            ).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: ids of corpus documents that share at
    least one word n-gram with any benchmark document (the standard
    pre-training hygiene check before an eval suite is trusted).

    Output: one row per contaminated corpus id (`id_col`).

    Plan shape for 100 TB: the benchmark side (an eval suite) is tiny —
    its distinct n-gram set is broadcast, so the corpus scan never
    shuffles; contamination detection is a broadcast semi-join per
    corpus n-gram followed by a distinct on ids. The n-gram unit is the
    same normalized word shingle the Jaccard path uses (n defaults to 8
    per the usual 8-gram overlap convention).
    """
    bench_grams = benchmark.select(
        F.explode(shingles(F.col(text_col), n)).alias("gram")
    ).distinct()
    corpus_grams = corpus.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), n)).alias("gram")
    )
    return (
        corpus_grams.join(F.broadcast(bench_grams), "gram", "left_semi")
        .select(id_col)
        .distinct()
    )


def boilerplate_lines(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 3,
    min_chars: int = 6,
) -> DataFrame:
    """Normalized lines that recur across ``min_docs`` distinct
    documents — navigation bars, cookie banners, license footers: the
    cross-document boilerplate that line-level dedup (the CCNet /
    Dolma pipeline stage) strips BEFORE document-level near-dup, since
    shared boilerplate otherwise inflates every pairwise similarity.
    The reference has no notion of sub-document structure (documents
    are opaque strings end to end, /root/reference/src/models/
    collection.py:58-60); this is corpus-hygiene capability on top.

    Output: (norm, n_docs) per boilerplate line. Lines shorter than
    ``min_chars`` after normalization are never flagged (single words
    recur by chance, not by templating).

    Plan shape for 100 TB: explode to (doc, line), then ONE shuffle —
    the groupBy on the normalized line, with map-side partial
    aggregation collapsing each document's repeats before the exchange.
    countDistinct(id) rewrites to a two-phase aggregate, still the
    same single key.
    """
    from local_vectordb_spark.functions.text import normalize_text

    lines = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(F.split(F.col(text_col), "\n")).alias("line"),
    ).select("_id", normalize_text(F.col("line")).alias("norm"))
    return (
        lines.filter(F.length("norm") >= min_chars)
        .groupBy("norm")
        .agg(F.countDistinct("_id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def strip_boilerplate(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 3,
    min_chars: int = 6,
) -> DataFrame:
    """Line-level dedup: rebuild each document without its
    cross-document boilerplate lines (``boilerplate_lines`` above),
    preserving the order of the surviving lines.

    Output: (id, n_kept, clean_text) — documents whose every line was
    boilerplate drop out entirely (nothing left to train on).

    Plan shape for 100 TB: the boilerplate set is the heavy-hitter
    tail of the line distribution — tiny relative to the corpus — so
    the anti-join is left to AQE, which broadcasts it when the built
    side is small and falls back to a shuffled join (on the same
    `norm` key the aggregation already shuffled on) when a pathological
    corpus makes it big. Reassembly is one groupBy(id) with the line
    order carried as data (array_sort on (pos, line) structs), not as
    a window sort.
    """
    from local_vectordb_spark.functions.text import normalize_text

    bp = boilerplate_lines(
        docs, id_col=id_col, text_col=text_col,
        min_docs=min_docs, min_chars=min_chars,
    ).select("norm")
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("norm", normalize_text(F.col("line")))
    kept = lines.join(bp, "norm", "left_anti")
    ordered = F.array_sort(F.collect_list(F.struct("pos", "line")))
    return kept.groupBy(id_col).agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(ordered, lambda s: s["line"]), "\n"
        ).alias("clean_text"),
    )
