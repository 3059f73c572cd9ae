"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: exact baseline; the query side is tiny and
  broadcast, so the corpus is scanned once with no shuffle of the big
  side — at 100 TB this is the map-side-only pattern you want.
- random-hyperplane LSH buckets: sub-linear scale path; candidates
  share a bucket signature, then exact cosine re-ranks candidates.

Dot products run via ``zip_with`` + ``aggregate`` (codegen'd,
Arrow-free). Double accumulation left-to-right — deterministic.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F


def _dot(a: str, b: str) -> Column:
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(col: str) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(F.col(col), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list[int] | None = None,
    query_filter: str | None = None,
    k: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Exact cosine top-k: broadcast the query rows against the corpus.

    Cosine is rounded before ranking so rank order is stable across
    engines/accumulation orders; ties break on neighbour id.
    """
    from pyspark.sql.window import Window

    corpus = df.select(F.col(id_col).alias("nbr_id"), F.col(vec_col).alias("nbr_vec"))
    q = df
    if query_filter:
        q = q.filter(query_filter)
    if query_ids is not None:
        q = q.filter(F.col(id_col).isin(query_ids))
    queries = q.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))

    joined = corpus.crossJoin(F.broadcast(queries)).filter(
        F.col("nbr_id") != F.col("query_id")
    )
    scored = joined.withColumn(
        "cosine",
        F.round(_dot("q_vec", "nbr_vec") / (_norm("q_vec") * _norm("nbr_vec")), round_digits),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "cosine", "rank")
    )


def hyperplane_lsh_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_planes: int = 16,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Random-hyperplane (SRP) LSH: bucket = sign bits of dot(v, plane).

    Planes are generated driver-side with a seeded RNG (tiny: planes ×
    dim floats) and inlined as literals — no broadcast variable needed,
    identical across executors.
    """
    import numpy as np

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((num_planes, dim))
    sel = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    bucket: Column = F.lit(0).cast("long")
    for i in range(num_planes):
        plane = F.array(*[F.lit(float(x)) for x in planes[i]])
        d = F.aggregate(
            F.zip_with(F.col("vec"), plane, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(d > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return sel.withColumn("bucket", bucket)


def lsh_probe_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_planes: int = 12,
    dim: int = 64,
    seed: int = 42,
    nprobe: int = 4,
) -> DataFrame:
    """Query-directed MULTI-PROBE bucket set (Lv et al. 2007, VLDB
    "Multi-Probe LSH"): besides its own SRP bucket, each vector probes
    the ``nprobe - 1`` single-plane flips with the SMALLEST |margin|
    |dot(v, plane_i)| — the buckets a near neighbour most probably
    landed in when one sign bit disagreed. Recall rises several-x at
    probe cost ``nprobe / 2^planes`` of the corpus per query, instead
    of the table-doubling more-hash-tables answer.

    Returns one (id, bucket) row per probe. Plan shape: the plane
    margins are computed ONCE per vector (a single projected array
    feeding posexplode — no expression re-substitution), the flip
    choice is one id-keyed window over ``num_planes`` rows per vector,
    and the output stays the bucket equi-join shape downstream joins
    expect. Ties on |margin| break toward the lower plane index, so
    the probe set is deterministic and a DuckDB oracle replays it."""
    import numpy as np

    from pyspark.sql.window import Window

    if nprobe < 1 or nprobe > num_planes + 1:
        raise ValueError("nprobe must be in [1, num_planes + 1]")
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((num_planes, dim))
    sel = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))

    def margin(i: int) -> Column:
        plane = F.array(*[F.lit(float(x)) for x in planes[i]])
        return F.aggregate(
            F.zip_with(F.col("vec"), plane, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    ds = F.array(*[margin(i) for i in range(num_planes)])
    ex = sel.select(
        "id", F.posexplode(ds).alias("i", "d")
    )
    per_plane = ex.select(
        "id", "i", "d",
        F.when(F.col("d") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), i)"))
        .otherwise(F.lit(0).cast("long"))
        .alias("w"),
    )
    buckets = per_plane.groupBy("id").agg(F.sum("w").alias("bucket"))
    if nprobe == 1:
        return buckets
    rk = Window.partitionBy("id").orderBy(F.abs(F.col("d")), F.col("i"))
    flips = (
        per_plane.withColumn("rnk", F.row_number().over(rk))
        .filter(F.col("rnk") <= nprobe - 1)
        .join(buckets, "id")
        .select(
            "id",
            F.expr("bucket ^ (CAST(1 AS BIGINT) << i)").alias("bucket"),
        )
    )
    return buckets.unionByName(flips)


def lsh_ann_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    num_planes: int = 12,
    dim: int = 64,
    seed: int = 42,
    nprobe: int = 1,
    tables: int = 1,
) -> DataFrame:
    """Approximate NN: candidates share an SRP bucket; exact cosine
    re-ranks within the bucket. All-pairs work is confined to buckets
    (expected n/2^planes per bucket). ``nprobe > 1`` turns on
    query-directed multi-probe (:func:`lsh_probe_buckets`): the QUERY
    side probes its nprobe most-likely buckets while the corpus side
    keeps one bucket per vector — candidates grow to
    ~nprobe/2^planes of the corpus per query, recall several-x.

    ``tables > 1`` is the classic OR-construction (Indyk & Motwani
    1998; Andoni & Indyk 2008 survey): L INDEPENDENT seeded plane
    sets (table t draws from ``seed + t``), a candidate qualifies
    when it collides in ANY table, and the union is deduped on
    (query_id, nbr_id) before the one exact re-rank. Per-table miss
    probabilities multiply — recall ~= 1 - (1 - r_table)^L — at
    probe cost ~= L x (per-table fraction), which is the lever when
    multi-probe alone saturates (adversarially non-clustered
    embeddings; SCALING.md "ANN recall"). Plan shape is unchanged:
    every table stays the bucket equi-join keyed on (tbl, bucket) —
    one shuffle over the unioned candidate set, no all-pairs."""
    from pyspark.sql.window import Window

    if tables < 1:
        raise ValueError("tables must be >= 1")
    if tables > 1:
        # OR-construction: per-table candidate id pairs (same bucket
        # equi-join shape, seeded planes per table), unioned, deduped
        # ONCE, then a single vec re-join feeds the exact re-rank —
        # a vector scored by several tables is re-ranked once.
        def _cand(t_seed: int) -> DataFrame:
            b = hyperplane_lsh_buckets(
                df, id_col, vec_col, num_planes, dim, t_seed
            )
            if nprobe <= 1:
                return (
                    b.alias("a")
                    .join(b.alias("b"), "bucket")
                    .filter(F.col("a.id") != F.col("b.id"))
                    .select(
                        F.col("a.id").alias("query_id"),
                        F.col("b.id").alias("nbr_id"),
                    )
                )
            probes = lsh_probe_buckets(
                df, id_col, vec_col, num_planes, dim, t_seed, nprobe
            )
            return (
                probes.withColumnRenamed("id", "query_id")
                .join(
                    b.select(F.col("id").alias("nbr_id"), "bucket"),
                    "bucket",
                )
                .filter(F.col("query_id") != F.col("nbr_id"))
                .select("query_id", "nbr_id")
            )

        cands = _cand(seed)
        for t in range(1, tables):
            cands = cands.unionByName(_cand(seed + t))
        cands = cands.distinct()
        vecs = df.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
        )
        pairs = cands.join(
            vecs.select(
                F.col("id").alias("query_id"), F.col("vec").alias("q_vec")
            ),
            "query_id",
        ).join(
            vecs.select(
                F.col("id").alias("nbr_id"), F.col("vec").alias("nbr_vec")
            ),
            "nbr_id",
        )
        scored = pairs.withColumn(
            "cosine",
            F.round(
                _dot("q_vec", "nbr_vec")
                / (_norm("q_vec") * _norm("nbr_vec")),
                6,
            ),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("cosine"), F.asc("nbr_id")
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "nbr_id", "cosine", "rank")
        )

    b = hyperplane_lsh_buckets(df, id_col, vec_col, num_planes, dim, seed)
    if nprobe <= 1:
        pairs = (
            b.alias("a")
            .join(b.alias("b"), "bucket")
            .filter(F.col("a.id") != F.col("b.id"))
            .select(
                F.col("a.id").alias("query_id"),
                F.col("b.id").alias("nbr_id"),
                F.col("a.vec").alias("q_vec"),
                F.col("b.vec").alias("nbr_vec"),
            )
        )
    else:
        probes = lsh_probe_buckets(
            df, id_col, vec_col, num_planes, dim, seed, nprobe
        )
        qvecs = df.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        )
        pairs = (
            probes.withColumnRenamed("id", "query_id")
            .join(
                b.select(
                    F.col("id").alias("nbr_id"),
                    F.col("vec").alias("nbr_vec"),
                    "bucket",
                ),
                "bucket",
            )
            .filter(F.col("query_id") != F.col("nbr_id"))
            .join(qvecs, "query_id")
        )
    scored = pairs.withColumn(
        "cosine",
        F.round(_dot("q_vec", "nbr_vec") / (_norm("q_vec") * _norm("nbr_vec")), 6),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "cosine", "rank")
    )


def rademacher_signs(rows: int, dim: int, prefix: str):
    """Hash-derived Rademacher (+-1) projection matrix: entry (r, j)
    is +1 when the portable 60-bit md5 fold of ``"{prefix}:{r}:{j}"``
    is even, else -1. Data-independent, seed-free, and computable in
    ANY engine that has md5 — the DuckDB oracle regenerates the same
    matrix relationally instead of shipping hundreds of thousands of
    float literals. Cached per (rows, dim, prefix); int8 numpy array."""
    import hashlib

    import numpy as np

    key = (rows, dim, prefix)
    cached = _RADEMACHER_CACHE.get(key)
    if cached is not None:
        return cached
    S = np.empty((rows, dim), dtype=np.int8)
    for r in range(rows):
        base = f"{prefix}:{r}:"
        for j in range(dim):
            h = hashlib.md5(f"{base}{j}".encode()).hexdigest()
            S[r, j] = 1 if int(h[:15], 16) % 2 == 0 else -1
    _RADEMACHER_CACHE[key] = S
    return S


_RADEMACHER_CACHE: dict = {}


def srp_table_keys(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    num_planes: int = 12,
    tables: int = 320,
    dim: int = 64,
    prefix: str = "srp",
) -> DataFrame:
    """All L OR-construction SRP bucket keys in ONE corpus pass:
    returns (id, tbl, bucket) — ``tables`` rows per vector. The
    ``tables x num_planes`` Rademacher planes (:func:`rademacher_signs`)
    are applied as a single numpy int64 matmul inside an Arrow-batched
    ``mapInPandas`` — thousands of plane dots per vector are exactly
    the workload Catalyst expression trees cannot express (the plan
    would carry tables x planes x dim literal nodes) and a vectorized
    kernel does in microseconds. Margins are exact integer sums of
    FLOOR-microquantized components (the repo's cross-engine protocol:
    order-independent, replayed bit-for-bit by DuckDB), bit p of a
    table's key is ``margin > 0``.

    Scale: one linear scan, no shuffle; output is L rows (16 bytes)
    per vector — the classic E2LSH many-tables storage trade, sized
    by ``tables``."""
    if num_planes < 1 or num_planes > 62:
        raise ValueError("num_planes must be in [1, 62]")
    if tables < 1:
        raise ValueError("tables must be >= 1")
    import numpy as np

    S_T = (
        rademacher_signs(tables * num_planes, dim, prefix)
        .astype(np.int64)
        .T.copy()
    )
    id_type = df.schema[id_col].dataType.simpleString()
    L, P = tables, num_planes
    w_bits = (1 << np.arange(P, dtype=np.int64))

    def keys_batches(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            if V.ndim != 2 or V.shape[1] != dim:
                raise ValueError(
                    f"expected fixed {dim}-dim vectors, got {V.shape}"
                )
            Qm = np.floor(V * 1e6).astype(np.int64)
            bits = (Qm @ S_T) > 0
            keys = bits.reshape(len(pdf), L, P).astype(np.int64) @ w_bits
            yield pd.DataFrame(
                {
                    "id": np.repeat(pdf[id_col].to_numpy(), L),
                    "tbl": np.tile(np.arange(L, dtype=np.int32), len(pdf)),
                    "bucket": keys.reshape(-1),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        keys_batches, schema=f"id {id_type}, tbl int, bucket long"
    )


def srp_sketch_words(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    bits: int = 120,
    dim: int = 64,
    prefix: str = "srpsig",
) -> DataFrame:
    """Per-vector SRP sketch packed into two <=60-bit words (the
    repo's portable 60-bit idiom — no sign-bit traffic in either
    engine): returns (id, sig0, sig1) where bit b of the sketch is
    ``integer-quantized dot(vec, rademacher plane b) > 0``. Hamming
    distance between sketches estimates angular distance
    (Charikar 2002) — the cheap prefilter between LSH bucket
    collision and the exact cosine re-rank."""
    if not 1 <= bits <= 120:
        raise ValueError("bits must be in [1, 120]")
    import numpy as np

    S_T = rademacher_signs(bits, dim, prefix).astype(np.int64).T.copy()
    id_type = df.schema[id_col].dataType.simpleString()
    lo = min(bits, 60)
    w0 = (1 << np.arange(lo, dtype=np.int64))
    w1 = (1 << np.arange(max(bits - 60, 0), dtype=np.int64))

    def sig_batches(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            Qm = np.floor(V * 1e6).astype(np.int64)
            b = ((Qm @ S_T) > 0).astype(np.int64)
            sig0 = b[:, :lo] @ w0
            sig1 = (
                b[:, 60:] @ w1
                if bits > 60
                else np.zeros(len(pdf), dtype=np.int64)
            )
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].to_numpy(),
                    "sig0": sig0,
                    "sig1": sig1,
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        sig_batches, schema=f"id {id_type}, sig0 long, sig1 long"
    )


def srp_or_ann_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    num_planes: int = 12,
    tables: int = 320,
    sig_bits: int = 120,
    max_hamming: int = 52,
    dim: int = 64,
    query_filter: str | None = None,
    prefix: str = "srp",
    sig_prefix: str = "srpsig",
    round_digits: int = 6,
) -> DataFrame:
    """Many-tables OR-construction SRP ANN with a hamming-sketch
    prefilter — the three-stage shape that makes the LSH leg
    recommendable on weakly-clustered corpora where multi-probe
    saturates (SCALING.md "ANN recall"):

    1. CANDIDATES: a vector pair qualifies when it collides in ANY of
       the ``tables`` independent hash tables (``num_planes`` bits
       each; miss probabilities multiply — recall ~=
       1 - (1 - p1^P)^L). One bucket equi-join on (tbl, bucket),
       deduped once.
    2. PREFILTER: collisions pass only if the ``sig_bits``-bit SRP
       sketch hamming distance is <= ``max_hamming`` — two XOR +
       bit_count ops per pair (~30x cheaper than an exact cosine)
       that reject most random collisions while keeping ~90%+ of
       true neighbours.
    3. RE-RANK: exact rounded cosine + per-query top-k window.

    Measured at sf0.1 (n=2000, 64-dim, mean top-5 neighbour cosine
    0.377 — weak structure): recall@5 = 0.66 with 3.2% of the corpus
    exactly re-ranked per query (bucket-collision stage touches ~10%
    with 2-int64 hamming ops only). Defaults are that operating
    point. Every stage is hash-derived (no data-dependent training)
    and the DuckDB oracle replays buckets, sketches, hamming and
    re-rank bit-for-bit (workload ``ann_recall_lsh_or``)."""
    from pyspark.sql.window import Window

    keys = srp_table_keys(
        df, id_col, vec_col, num_planes, tables, dim, prefix
    )
    sig = srp_sketch_words(df, id_col, vec_col, sig_bits, dim, sig_prefix)
    qside = df.filter(query_filter) if query_filter else df
    qkeys = (
        srp_table_keys(
            qside, id_col, vec_col, num_planes, tables, dim, prefix
        )
        if query_filter
        else keys
    )
    cands = (
        qkeys.toDF("query_id", "tbl", "bucket")
        .join(keys.toDF("nbr_id", "tbl", "bucket"), ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("nbr_id"))
        .select("query_id", "nbr_id")
        .distinct()
    )
    qsig = sig.toDF("query_id", "q_sig0", "q_sig1")
    nsig = sig.toDF("nbr_id", "n_sig0", "n_sig1")
    passed = (
        cands.join(qsig, "query_id")
        .join(nsig, "nbr_id")
        .filter(
            F.bit_count(
                F.col("q_sig0").bitwiseXOR(F.col("n_sig0"))
            )
            + F.bit_count(F.col("q_sig1").bitwiseXOR(F.col("n_sig1")))
            <= max_hamming
        )
        .select("query_id", "nbr_id")
    )
    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    pairs = passed.join(
        vecs.toDF("query_id", "q_vec"), "query_id"
    ).join(vecs.toDF("nbr_id", "nbr_vec"), "nbr_id")
    scored = pairs.withColumn(
        "cosine",
        F.round(
            _dot("q_vec", "nbr_vec") / (_norm("q_vec") * _norm("nbr_vec")),
            round_digits,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("nbr_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "cosine", "rank")
    )


def srp_banded_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    bands: int = 8,
    planes_per_band: int = 6,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Banded SRP-LSH: one (id, band, bucket) row per band, so
    candidate pairs are ORed across bands (MinHash-banding idiom —
    recall 1-(1-p^r)^b instead of the single-signature p^r).

    All planes come from one seeded RNG; band ``i`` uses rows
    [i*r, (i+1)*r) of the plane matrix, which keeps the oracle replica
    a pure function of (bands, planes_per_band, dim, seed).
    """
    import numpy as np

    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((bands * planes_per_band, dim))
    sel = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))

    def band_bucket(b: int) -> Column:
        bucket: Column = F.lit(0).cast("long")
        for j in range(planes_per_band):
            plane = F.array(
                *[F.lit(float(x)) for x in planes[b * planes_per_band + j]]
            )
            d = F.aggregate(
                F.zip_with(F.col("vec"), plane, lambda x, y: x.cast("double") * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            bucket = bucket + F.when(d > 0, F.lit(1 << j).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        return bucket

    banded = sel.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), band_bucket(b).alias("bucket")
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    )
    return banded.select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    bands: int = 8,
    planes_per_band: int = 6,
    dim: int = 64,
    seed: int = 42,
    round_digits: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >=
    threshold), the embedding leg of the dedup family (exact hash /
    n-gram Jaccard / MinHash / SimHash — llm/dedup.py).

    Scale shape: candidate generation is a (band, bucket) equi
    self-join over the banded SRP table — never an all-pairs cross
    join; expected bucket size n/2^r bounds the quadratic term.
    Vectors are joined back onto the DISTINCT candidate pair ids so
    the wide vec column never rides through the pair shuffle.
    """
    b = srp_banded_buckets(df, id_col, vec_col, bands, planes_per_band, dim, seed)
    cand = (
        b.alias("a")
        .join(b.alias("b"), ["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    pairs = (
        cand.join(vecs.withColumnRenamed("id", "id_a"), "id_a")
        .withColumnRenamed("vec", "q_vec")
        .join(
            vecs.select(F.col("id").alias("id_b"), F.col("vec").alias("nbr_vec")),
            "id_b",
        )
    )
    scored = pairs.withColumn(
        "cosine",
        F.round(
            _dot("q_vec", "nbr_vec") / (_norm("q_vec") * _norm("nbr_vec")),
            round_digits,
        ),
    )
    return scored.filter(F.col("cosine") >= threshold).select(
        "id_a", "id_b", "cosine"
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path: partition
# the corpus into nlist Voronoi cells around centroids, search only the
# nprobe cells nearest each query. At cluster scale the cell id becomes
# the shuffle/partition key, so candidate generation is a co-partitioned
# join instead of an all-pairs cross join.


def _dot_lit(vec_col: str, centroid: list[float]):
    """dot(column vector, literal centroid) as a JVM-side expression."""
    arr = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(F.col(vec_col), arr, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


#: Plan-size ceiling for inlining centroids as literals: each centroid
#: contributes dim Literal nodes per dot product, so the expression
#: tree carries k x dim literals PER REFERENCE to the sims array.
#: Below the limit the inlined form is strictly better (narrow map, no
#: shuffle, whole-stage codegen); above it Catalyst analysis/codegen
#: time and plan serialization blow up (k=4096 x dim=768 would be 3M+
#: literal nodes), so assignment switches to a broadcast join against
#: a (cell, cvec) centroid table. The join path computes dots with the
#: SAME zip_with/aggregate fold (bit-identical doubles) and the same
#: lowest-cell tiebreak, so the two paths agree exactly.
INLINE_CENTROID_LIMIT = 16384


def _use_inline(centroids: list[list[float]], inline_limit: int | None) -> bool:
    limit = INLINE_CENTROID_LIMIT if inline_limit is None else inline_limit
    dim = len(centroids[0]) if centroids else 0
    return len(centroids) * dim <= limit


def _centroid_frame(spark, centroids: list[list[float]]) -> DataFrame:
    return spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cell int, cvec array<double>",
    )


def _dot_cols(vec_col: str, cvec_col: str):
    """dot(vector column, centroid column) — the join-path twin of
    ``_dot_lit``, same fold order so doubles are bit-identical."""
    return F.aggregate(
        F.zip_with(
            F.col(vec_col), F.col(cvec_col), lambda x, y: x.cast("double") * y
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def ivf_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    nlist: int = 8,
    iters: int = 1,
    exact_mean: bool = False,
    normalize: bool = False,
    inline_limit: int | None = None,
) -> list[list[float]]:
    """Deterministic coarse centroids: seed with the ``nlist`` lowest-id
    vectors, refine with ``iters`` Lloyd steps (assign -> per-cell mean).

    Centroids are tiny (nlist x dim floats) and are returned driver-side
    to be inlined as literals — the corpus itself is never collected.

    ``exact_mean`` sums each dimension through DECIMAL(18,6) (exact,
    order-independent — components must stay under ~10^12) instead of
    the float ``avg``, so refined centroids are bit-identical across
    engines and partitionings; the cross-engine hash oracle needs
    that, plain clustering does not.

    ``normalize`` L2-normalizes seeds and every refined centroid —
    spherical k-means. Required when assignment quality matters on
    raw dot products: a plain mean SHRINKS the centroid norm, so
    max-dot assignment would drift toward whichever cell kept the
    longest centroid; on the unit sphere mean-then-normalize is the
    exact optimal update for the sum-of-cosines objective.
    """
    mean_expr = (
        (F.sum(F.col("x").cast("decimal(18,6)")).cast("double")
         / F.count(F.lit(1)))
        if exact_mean
        else F.avg("x")
    )

    def _unit(vec: list[float]) -> list[float]:
        if not normalize:
            return vec
        # sequential index-order fold, matching list_dot_product /
        # F.aggregate — keeps the double bit-identical cross-engine
        norm = 0.0
        for x in vec:
            norm += x * x
        norm = math.sqrt(norm)
        return [x / norm for x in vec] if norm > 0.0 else vec

    seeds = [
        _unit([float(x) for x in r.vec])
        for r in df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        .orderBy("id")
        .limit(nlist)
        .collect()
    ]
    centroids = seeds
    for _ in range(iters):
        assigned = ivf_assign(
            df, id_col, vec_col, centroids, inline_limit=inline_limit
        )
        means = (
            assigned.select("cell", F.posexplode("vec").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(mean_expr.alias("m"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("dims"))
            .collect()
        )
        by_cell = {r.cell: _unit([float(d.m) for d in r.dims]) for r in means}
        # empty cells keep their previous centroid
        centroids = [by_cell.get(i, c) for i, c in enumerate(centroids)]
    return centroids


def ivf_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    inline_limit: int | None = None,
) -> DataFrame:
    """Map each vector to its nearest centroid (``cell``).

    Two physical strategies, selected by plan size (k x dim vs
    ``INLINE_CENTROID_LIMIT``; ``inline_limit`` overrides for tests):
    - inline (small k): argmax over nlist inlined dot products — a
      narrow map, no shuffle, the right call at curation scale.
    - broadcast join (large k): rows x k via a broadcast of the
      (cell, cvec) table, then a groupBy(id) max(struct(sim, -cell))
      argmax — one shuffle, but the plan stays O(1) in k. Dots use the
      same fold, tiebreak is the same lowest-cell, so assignments are
      identical between paths.
    """
    # NULL vectors are dropped explicitly (a stored-column predicate,
    # scan-pushable for free): the inline path used to drop them
    # implicitly at the downstream cell join while the broadcast path
    # kept them under an arbitrary cell — now both paths agree
    sel = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    ).filter(F.col("vec").isNotNull())
    if _use_inline(centroids, inline_limit):
        sims = F.array(*[_dot_lit("vec", c) for c in centroids])
        # argmax: first index attaining the max (deterministic
        # tiebreak). coalesce(-1) makes the column NON-NULLABLE
        # (array_position can never miss here — the max is in the
        # array — but Catalyst doesn't know that): downstream joins
        # on cell otherwise infer isnotnull(cell) and pushdown
        # substitutes ALL nlist dot products into the scan filter,
        # re-scoring every row twice (caught by the r13 fleet audit).
        cell = F.coalesce(
            F.array_position(sims, F.array_max(sims)) - 1, F.lit(-1)
        )
        return sel.withColumn("cell", cell.cast("int"))
    cent = _centroid_frame(df.sparkSession, centroids)
    scored = sel.crossJoin(F.broadcast(cent)).withColumn(
        "sim", _dot_cols("vec", "cvec")
    )
    # max over (sim, -cell) = highest sim, then LOWEST cell — the same
    # first-max-index tiebreak as array_position above
    best = scored.groupBy("id").agg(
        F.max(F.struct(F.col("sim"), (-F.col("cell")).alias("ncell"))).alias("b"),
        F.first("vec").alias("vec"),
    )
    return best.select("id", "vec", (-F.col("b.ncell")).cast("int").alias("cell"))


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    iters: int = 1,
    round_digits: int = 6,
    inline_limit: int | None = None,
) -> DataFrame:
    """IVF ANN top-k with the same output contract as ``cosine_topk``
    (query_id, nbr_id, cosine, rank) so recall is directly comparable.

    Defaults (r13): nlist=16 / nprobe=4 — recall@5 0.82-0.93 on the
    test corpus vs 0.48 at the old 8/2 point, same nprobe/nlist probed
    fraction. At scale, grow nlist with the corpus (fraction stays
    nprobe/nlist) — IVF is the recommended index for weakly-clustered
    embeddings, where SRP's angle-based recall ceiling binds (see
    SCALING.md "ANN recall").

    Candidate generation joins corpus and queries on ``cell`` — each
    query probes its ``nprobe`` nearest cells. Exact cosine re-ranks
    within the probed cells. Probe scoring is plan-size-gated like
    ``ivf_assign``: inlined literals under ``INLINE_CENTROID_LIMIT``,
    a broadcast join against the centroid table above (both already
    materialize rows x nlist before the top-nprobe window, so the
    join path costs the same shuffle shape).
    """
    from pyspark.sql.window import Window

    centroids = ivf_centroids(
        df, id_col, vec_col, nlist=nlist, iters=iters,
        inline_limit=inline_limit,
    )
    corpus = ivf_assign(
        df, id_col, vec_col, centroids, inline_limit=inline_limit
    ).select(
        F.col("id").alias("nbr_id"), F.col("vec").alias("nbr_vec"), "cell"
    )
    sel = df.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    if _use_inline(centroids, inline_limit):
        sims = F.array(*[_dot_lit("q_vec", c) for c in centroids])
        cand = sel.select(
            "query_id", "q_vec", F.posexplode(sims).alias("cell", "sim")
        )
    else:
        cand = sel.crossJoin(
            F.broadcast(_centroid_frame(df.sparkSession, centroids))
        ).select(
            "query_id", "q_vec", "cell",
            _dot_cols("q_vec", "cvec").alias("sim"),
        )
    probe_w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("cell"))
    probes = (
        cand
        .withColumn("probe_rank", F.row_number().over(probe_w))
        .filter(F.col("probe_rank") <= nprobe)
        .select("query_id", "q_vec", F.col("cell").cast("int").alias("cell"))
    )
    scored = (
        corpus.join(probes, "cell")
        .filter(F.col("nbr_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(
                _dot("q_vec", "nbr_vec") / (_norm("q_vec") * _norm("nbr_vec")),
                round_digits,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "nbr_id", "cosine", "rank")
    )


def kmeans_clusters(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 1,
    exact_mean: bool = False,
    round_digits: int = 6,
    inline_limit: int | None = None,
) -> DataFrame:
    """Document/embedding clustering: SPHERICAL k-means on the IVF
    machinery (deterministic lowest-id seeds, L2-normalized centroids,
    ``iters`` mean-then-normalize refinement steps, inlined-literal
    centroids so assignment stays a narrow map — no shuffle). Returns
    one row per vector: (id, cluster, sim) where ``sim`` is the cosine
    to the winning centroid. Each refinement step is the exact optimal
    update for the sum-of-cosines objective, so mean ``sim`` is
    non-decreasing in ``iters``.

    The curation use-case is cluster-balanced sampling / topic
    bucketing: cluster once, then sample per cluster (e.g. with
    ``sample_k_per_group``) to de-bias a crawl toward topical breadth.

    ``exact_mean=True`` computes centroid means as order-independent
    DECIMAL(18,6) sums (bit-stable across engines/partitionings —
    used by the hash oracle); the default float mean is cheaper and
    fine for real clustering.

    Plan-size gate: when k x dim exceeds ``INLINE_CENTROID_LIMIT``
    (curation k<=64 x dim<=768 stays far under it), assignment and the
    winning-centroid cosine switch from inlined literals to a
    broadcast equi-join on ``cluster`` — identical output, plan O(1)
    in k. ``inline_limit`` overrides the threshold (tests force the
    join path with 0).
    """
    centroids = ivf_centroids(
        df, id_col, vec_col, nlist=k, iters=iters,
        exact_mean=exact_mean, normalize=True, inline_limit=inline_limit,
    )
    assigned = ivf_assign(
        df, id_col, vec_col, centroids, inline_limit=inline_limit
    )
    if _use_inline(centroids, inline_limit):
        sims = F.array(*[_dot_lit("vec", c) for c in centroids])
        # centroids are unit vectors, so dot / |v| is the cosine
        return assigned.select(
            F.col("id").alias(id_col),
            F.col("cell").alias("cluster"),
            F.round(
                F.element_at(sims, F.col("cell") + 1) / _norm("vec"),
                round_digits,
            ).alias("sim"),
        )
    cent = _centroid_frame(df.sparkSession, centroids)
    return (
        assigned.join(F.broadcast(cent), assigned.cell == cent.cell)
        .select(
            F.col("id").alias(id_col),
            assigned.cell.alias("cluster"),
            F.round(
                _dot_cols("vec", "cvec") / _norm("vec"), round_digits
            ).alias("sim"),
        )
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    threshold: float = 0.95,
    iters: int = 0,
    exact_mean: bool = False,
    round_digits: int = 6,
    inline_limit: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540, public): cluster embeddings with spherical
    k-means, then inside each cluster drop every vector whose cosine
    to a LOWER-id cluster-mate reaches ``threshold``. Returns one row
    per input vector: (id, cluster, dup_of, keep) where ``dup_of`` is
    the smallest dominating id (NULL for keepers).

    The keep rule is the deterministic "dominated by any earlier id"
    greedy: a vector is dropped iff SOME smaller-id vector in its
    cluster is within the threshold — not the transitive-closure
    variant (a dropped vector can itself dominate). That makes the
    result a pure EXISTS over within-cluster pairs: order-independent,
    engine-replayable, and one aggregation.

    Scale shape: the near-dup search never leaves a cluster — the
    pair join shuffles both sides once on the cluster id and the
    quadratic term is bounded per cluster (sum of n_c^2, the reason
    the paper clusters first). Size k so n/k keeps n_c^2 tractable
    (k ~ n/50k at corpus scale); a pathological mega-cluster is the
    skew signal to raise k or pre-band inside the cluster with
    ``embedding_neardup_pairs``. Centroid assignment itself is the
    kmeans/IVF narrow map (inlined literals below the plan-size gate,
    broadcast join above it) — no shuffle.
    """
    centroids = ivf_centroids(
        df, id_col, vec_col, nlist=k, iters=iters,
        exact_mean=exact_mean, normalize=True, inline_limit=inline_limit,
    )
    a = ivf_assign(df, id_col, vec_col, centroids, inline_limit=inline_limit)
    left = a.select("id", "cell", "vec")
    right = a.select(
        F.col("id").alias("rid"),
        F.col("cell").alias("rcell"),
        F.col("vec").alias("rvec"),
    )
    dom = (
        left.join(
            right,
            (F.col("cell") == F.col("rcell")) & (F.col("rid") < F.col("id")),
        )
        .withColumn(
            "cosine",
            F.round(
                _dot("vec", "rvec") / (_norm("vec") * _norm("rvec")),
                round_digits,
            ),
        )
        .filter(F.col("cosine") >= F.lit(float(threshold)))
        .groupBy("id")
        .agg(F.min("rid").alias("dup_of"))
    )
    return (
        a.select("id", "cell")
        .join(dom, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.col("cell").cast("int").alias("cluster"),
            "dup_of",
            F.col("dup_of").isNull().alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# int8 scalar quantization — the memory-scale leg of the ANN family: a
# 64-dim float32 embedding is 256 bytes; per-dimension asymmetric int8
# (min/max trained on the corpus, faiss-SQ8-style) stores 64 bytes + a
# shared dim-sized codebook, a 4x reduction that moves a 100 TB
# embedding store under the broadcast/cache thresholds its float form
# blows through. Quantize/dequantize are narrow maps over literal
# codebook arrays — no shuffle, same inline pattern (and plan-size
# caveat) as the k-means centroids.


def quantization_params(
    df: DataFrame, vec_col: str
) -> list[tuple[float, float]]:
    """Per-dimension (min, max) codebook, collected driver-side —
    O(dim) floats, the corpus itself never leaves the executors."""
    rows = (
        df.select(F.posexplode(vec_col).alias("pos", "x"))
        .groupBy("pos")
        .agg(
            F.min(F.col("x").cast("double")).alias("mn"),
            F.max(F.col("x").cast("double")).alias("mx"),
        )
        .orderBy("pos")
        .collect()
    )
    return [(float(r.mn), float(r.mx)) for r in rows]


def _param_arrays(params: list[tuple[float, float]]):
    mn = F.array(*[F.lit(m) for m, _ in params])
    mx = F.array(*[F.lit(m) for _, m in params])
    return mn, mx


def quantize_embeddings(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    params: list[tuple[float, float]] | None = None,
    out_col: str = "qvec",
) -> DataFrame:
    """Asymmetric per-dimension int8: q_i = floor((x_i - mn_i) /
    (mx_i - mn_i) * 255 + 0.5), clamped to [0, 255]. ``floor(z + 0.5)``
    instead of round() because floor is bit-identical across engines
    while round's half-way rule is not — the quantized codes are part
    of the cross-engine oracle contract. Keeps all input columns and
    appends ``out_col`` (array<int>)."""
    params = params if params is not None else quantization_params(df, vec_col)
    mn, mx = _param_arrays(params)
    q = F.transform(
        F.col(vec_col),
        lambda x, i: F.when(
            F.get(mx, i) == F.get(mn, i), F.lit(0)
        ).otherwise(
            F.greatest(
                F.lit(0),
                F.least(
                    F.lit(255),
                    F.floor(
                        (x.cast("double") - F.get(mn, i))
                        / (F.get(mx, i) - F.get(mn, i))
                        * F.lit(255.0)
                        + F.lit(0.5)
                    ).cast("int"),
                ),
            )
        ),
    )
    return df.withColumn(out_col, q)


def dequantize_embeddings(
    df: DataFrame,
    qvec_col: str,
    params: list[tuple[float, float]],
    out_col: str = "dvec",
) -> DataFrame:
    """Reconstruct x̂_i = mn_i + q_i * (mx_i - mn_i) / 255 — the
    approximate vectors distance computations run against."""
    mn, mx = _param_arrays(params)
    d = F.transform(
        F.col(qvec_col),
        lambda q, i: F.get(mn, i)
        + q.cast("double") * (F.get(mx, i) - F.get(mn, i)) / F.lit(255.0),
    )
    return df.withColumn(out_col, d)


def quantization_fidelity(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    params: list[tuple[float, float]] | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """Per-vector quantization error report: cosine between the
    original and its int8 reconstruction plus the max absolute
    per-dimension error — the go/no-go measurement before switching a
    search path to quantized vectors. One narrow map, no shuffle."""
    params = params if params is not None else quantization_params(df, vec_col)
    q = quantize_embeddings(df, id_col, vec_col, params, out_col="__q")
    d = dequantize_embeddings(q, "__q", params, out_col="__d")
    err = F.array_max(
        F.zip_with(
            F.col(vec_col), F.col("__d"),
            lambda x, y: F.abs(x.cast("double") - y),
        )
    )
    return d.select(
        F.col(id_col),
        F.round(
            _dot(vec_col, "__d") / (_norm(vec_col) * _norm("__d")),
            round_digits,
        ).alias("recon_cosine"),
        F.round(err, round_digits).alias("max_abs_err"),
    )


def ann_recall(
    exact: DataFrame,
    approx: DataFrame,
    *,
    query_col: str = "query_id",
    nbr_col: str = "nbr_id",
) -> DataFrame:
    """Recall@k of an approximate-NN result against exact ground truth:
    per query, the fraction of the exact neighbour set the approximate
    index returned. The evaluation loop every ANN deployment needs —
    run it on a sampled query subset before trusting an index at
    100 TB (exact truth on a sample is cheap; the index serves the
    rest).

    Both inputs are (query, neighbour) frames (e.g. cosine_topk /
    lsh_ann_topk / ivf_ann_topk outputs, already cut at their own k).
    Queries present in ``exact`` but missing from ``approx`` (ANN
    found no candidates) score recall 0.0. Two key-hashed aggregates
    + one semi join — no all-pairs work beyond what the inputs did.
    """
    t = exact.select(query_col, nbr_col)
    a = approx.select(query_col, nbr_col)
    truth = t.groupBy(query_col).agg(F.count(F.lit(1)).alias("truth_n"))
    hits = (
        t.join(a, [query_col, nbr_col], "left_semi")
        .groupBy(query_col)
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    return truth.join(hits, query_col, "left").select(
        query_col,
        "truth_n",
        F.coalesce("hits", F.lit(0)).cast("long").alias("hits"),
        (
            F.coalesce("hits", F.lit(0)).cast("double") / F.col("truth_n")
        ).alias("recall"),
    )


def random_projection(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    out_dim: int = 16,
    seed: int = 42,
    round_digits: int = 6,
    out_col: str = "rp_vec",
    inline_limit: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: map each embedding to
    ``out_dim`` dimensions via a seeded Gaussian matrix scaled by
    1/sqrt(out_dim) (distance-preserving in expectation) — the
    standard pre-step that makes downstream ANN / clustering /
    near-dup passes cheaper at 100 TB (4-8x narrower vectors, same
    neighbours to JL tolerance).

    Projections are rounded to ``round_digits`` so results are
    bit-stable across engines and accumulation orders (the cosine_topk
    convention). Plan-size-gated like ivf_assign: under
    ``INLINE_CENTROID_LIMIT`` (out_dim x dim literal nodes) the matrix
    inlines as literals — a narrow codegen map, zero shuffle; above
    it, a broadcast join against the exploded matrix rows + one
    groupBy(id) rebuild, avoiding a Catalyst tree blow-up at large
    out_dim x dim. Both paths fold dots in the same order, so outputs
    are identical (pinned by test).
    """
    import numpy as np

    if dim is None:
        # infer from the first NON-NULL vector (a null first row must
        # not crash the inference — ADVICE r9); explicit dim= skips
        # this extra job entirely
        first = (
            df.filter(F.col(vec_col).isNotNull())
            .select(F.size(vec_col))
            .first()
        )
        if first is None:
            raise ValueError(
                "random_projection: no non-null vectors to infer the "
                "input dimension from — pass dim= explicitly"
            )
        dim = int(first[0])
    if dim < 1:
        raise ValueError(f"random_projection: input dim must be >= 1, got {dim}")
    rng = np.random.default_rng(seed)
    mat = rng.standard_normal((out_dim, dim)) / np.sqrt(out_dim)
    rows = [[float(x) for x in mat[i]] for i in range(out_dim)]
    # runtime guard: a null or ragged vector would otherwise be
    # silently mis-projected (zip_with truncates to the shorter array)
    checked = F.when(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == F.lit(int(dim))),
        F.col(vec_col),
    ).otherwise(
        # raise_error is NullType — it coerces to the WHEN branch's
        # exact array type, so the vector's element type (and thus the
        # dot-product precision the oracle pins) never changes
        F.raise_error(
            F.concat(
                F.lit(
                    f"random_projection: expected non-null {dim}-dim "
                    "vector, got size "
                ),
                F.coalesce(F.size(vec_col), F.lit(-1)).cast("string"),
            )
        )
    )
    sel = df.select(F.col(id_col), checked.alias("__v"))
    if _use_inline(rows, inline_limit):
        proj = F.array(
            *[F.round(_dot_lit("__v", r), round_digits) for r in rows]
        )
        return sel.select(F.col(id_col), proj.alias(out_col))
    matrix = df.sparkSession.createDataFrame(
        [(i, rows[i]) for i in range(out_dim)],
        "out_idx int, rvec array<double>",
    )
    scored = sel.crossJoin(F.broadcast(matrix)).select(
        F.col(id_col),
        "out_idx",
        F.round(_dot_cols("__v", "rvec"), round_digits).alias("val"),
    )
    return scored.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("out_idx", "val"))),
            lambda s: s.getField("val"),
        ).alias(out_col)
    )


def mmr_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    k: int = 5,
    n_candidates: int = 10,
    lam: float = 0.5,
    query_ids: list[int] | None = None,
    query_filter: str | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """Maximal Marginal Relevance diverse reranking (Carbonell &
    Goldstein 1998): per query, greedily pick k results from the
    top-``n_candidates`` cosine candidates, each step maximizing
    ``lam * relevance - (1 - lam) * max_similarity_to_already_picked``
    — the standard redundancy-vs-relevance trade for retrieval and for
    diverse few-shot/example selection in training-data pipelines.

    Returns (query_id, nbr_id, mmr_rank, mmr_score); step 1's score is
    the pure relevance (nothing picked yet), ties break on the smaller
    neighbour id at every step.

    Scale shape: candidate generation is :func:`cosine_topk` (bounded
    n_candidates per query); pairwise candidate similarities are a
    per-query join bounded by n_candidates^2; the greedy selection is
    inherently sequential IN k but embarrassingly parallel ACROSS
    queries — a cogrouped ``applyInPandas`` (Arrow-batched, one group
    per query, group size <= n_candidates + n_candidates^2 rows).
    Relevances and similarities are rounded to ``round_digits``
    JVM-side before the Python step, so the greedy argmax compares the
    exact same doubles a differential oracle sees — selections (and
    scores: one multiply-subtract per step) are bit-stable
    cross-engine.
    """
    import pandas as pd

    if not 0.0 <= lam <= 1.0:
        raise ValueError("lam must be in [0, 1]")
    cands = cosine_topk(
        df, id_col, vec_col,
        query_ids=query_ids, query_filter=query_filter,
        k=n_candidates, round_digits=round_digits,
    )
    vecs = df.select(F.col(id_col).alias("__vid"), F.col(vec_col).alias("__v"))
    with_vec = cands.join(
        vecs, cands.nbr_id == vecs.__vid
    ).select("query_id", "nbr_id", "cosine", "__v")
    a, b = with_vec.alias("a"), with_vec.alias("b")
    sims = (
        a.join(b, F.col("a.query_id") == F.col("b.query_id"))
        .filter(F.col("a.nbr_id") != F.col("b.nbr_id"))
        .select(
            F.col("a.query_id").alias("query_id"),
            F.col("a.nbr_id").alias("sa"),
            F.col("b.nbr_id").alias("sb"),
            F.round(
                _dot("a.__v", "b.__v") / (_norm("a.__v") * _norm("b.__v")),
                round_digits,
            ).alias("sim"),
        )
    )
    lam_, k_ = float(lam), int(k)

    def greedy(cand_pdf: pd.DataFrame, sim_pdf: pd.DataFrame) -> pd.DataFrame:
        if cand_pdf.empty:
            return pd.DataFrame(
                columns=["query_id", "nbr_id", "mmr_rank", "mmr_score"]
            )
        qid = int(cand_pdf["query_id"].iloc[0])
        rel = dict(zip(cand_pdf["nbr_id"], cand_pdf["cosine"]))
        sim = {
            (int(r.sa), int(r.sb)): float(r.sim)
            for r in sim_pdf.itertuples()
        }
        selected: list[int] = []
        rows = []
        while len(selected) < min(k_, len(rel)):
            best = None
            for cid, r in rel.items():
                cid = int(cid)
                if cid in selected:
                    continue
                if not selected:
                    score = float(r)
                else:
                    pen = max(sim[(cid, s)] for s in selected)
                    score = lam_ * float(r) - (1.0 - lam_) * pen
                key = (score, -cid)
                if best is None or key > best[0]:
                    best = (key, cid, score)
            selected.append(best[1])
            rows.append((qid, best[1], len(selected), best[2]))
        return pd.DataFrame(
            rows, columns=["query_id", "nbr_id", "mmr_rank", "mmr_score"]
        )

    return (
        cands.groupBy("query_id")
        .cogroup(sims.groupBy("query_id"))
        .applyInPandas(
            greedy,
            "query_id long, nbr_id long, mmr_rank int, mmr_score double",
        )
    )


def pq_train(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    m: int = 8,
    k: int = 16,
    dim: int = 64,
    engine: str = "auto",
    iters: int = 1,
) -> list[list[list[float]]]:
    """Product-quantization codebooks (Jégou, Douze & Schmid 2011,
    "Product Quantization for Nearest Neighbor Search" — the FAISS
    IVF-PQ building block): split each vector into ``m`` subvectors
    of dim/m dimensions and train an independent ``k``-centroid L2
    codebook per subspace. Returns ``codebooks[m][cell] ->
    list[float]``.

    Training protocol is the repo's oracle-replayable k-means
    convention (kmeans_clusters): seeds = the ``k`` lowest-id
    vectors' subvectors, ``iters`` Lloyd refine steps (default 1 —
    the oracle-replay protocol) with DECIMAL-exact per-dimension
    means (bit-identical across engines and partitionings), empty
    cells keep their previous codeword, assignment argmin breaks
    ties toward the lower cell. More iterations buy materially
    better codebooks (r15 grid: +0.1-0.2 recall@5 at iters=4) at one
    assignment pass + one exact-mean aggregate each — the quality
    knob for bench/production points; keep iters=1 where a DuckDB
    oracle must replay the training.

    Scale: per subspace, one assignment pass against k inline literal
    centroids (zero shuffle) + one map-side-combined groupBy(cell,
    pos) mean — 2m bounded jobs total; driver state O(m x k x dim/m)
    = exactly the codebook. Above ``PQ_EXPR_CELL_LIMIT`` cells the
    whole training collapses to TWO jobs (one numpy assignment pass
    for all subspaces + one exploded exact-mean aggregate) — same
    bits, no m*k-node expression trees (r15)."""
    if dim % m != 0:
        raise ValueError("dim must divide into m subspaces")
    sub = dim // m
    seed_rows = (
        df.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    )
    if len(seed_rows) < k:
        raise ValueError(f"need at least k={k} vectors to train")
    if engine == "expr":
        cur = _pq_train_expr_step(df, vec_col, seed_rows, m, k, sub)
    else:
        # auto routes TRAINING through the numpy refine at every size:
        # bit-identical to the expression step (TestPqEngineEquivalence
        # pins it) and ONE assignment+mean job for all m subspaces
        # instead of m sequential collect jobs, each compiling a
        # k-literal codegen tree (r15: pq_adc/ivf_pq/ann-store builds
        # were job-count dominated). `engine` still gates the
        # encode/ADC expression paths via _use_pq_expr.
        seed_cb = [
            [
                [float(x) for x in r[vec_col][mm * sub:(mm + 1) * sub]]
                for r in seed_rows
            ]
            for mm in range(m)
        ]
        cur = _pq_refine_numpy(df, vec_col, seed_cb, m, k, sub)
    # extra Lloyd steps always run the numpy refine — it is
    # bit-identical to the expression step (TestPqEngineEquivalence)
    # and costs one assignment pass + one aggregate each
    for _ in range(iters - 1):
        cur = _pq_refine_numpy(df, vec_col, cur, m, k, sub)
    return cur


def _pq_refine_numpy(df, vec_col, cur_cb, m, k, sub):
    """One Lloyd step under the current codebooks: numpy assignment
    pass + ONE exploded DECIMAL-exact mean aggregate; empty cells
    keep their previous codeword."""
    enc = _pq_codes_map(
        df.select(F.col(vec_col).alias("__vec")),
        ["__vec"], "__vec", cur_cb, "__codes",
    )
    # ONE exploded exact-mean job over every (subspace, cell,
    # position): mm = pos div sub picks the subspace, the code
    # array picks the Lloyd cell — identical value sets (and thus
    # identical DECIMAL-exact means) to the per-subspace jobs
    means = (
        enc.select(
            "__codes", F.posexplode("__vec").alias("__pos", "__x")
        )
        .select(
            (F.col("__pos") / sub).cast("int").alias("__mm"),
            F.element_at(
                "__codes", (F.col("__pos") / sub).cast("int") + 1
            ).alias("__cell"),
            (F.col("__pos") % sub).alias("__sp"),
            "__x",
        )
        .groupBy("__mm", "__cell", "__sp")
        .agg(
            (
                F.sum(F.col("__x").cast("decimal(18,6)"))
                .cast("double")
                / F.count(F.lit(1))
            ).alias("__mu")
        )
        .collect()
    )
    refined_all: list[dict[int, list[float]]] = [
        {} for _ in range(m)
    ]
    for r in means:
        refined_all[int(r["__mm"])].setdefault(
            int(r["__cell"]), [0.0] * sub
        )[int(r["__sp"])] = float(r["__mu"])
    return [
        [
            refined_all[mm].get(cell, cur_cb[mm][cell])
            for cell in range(k)
        ]
        for mm in range(m)
    ]


def _pq_train_expr_step(df, vec_col, seed_rows, m, k, sub):
    """The original seed->one-Lloyd-step expression path, per
    subspace: k inline literal centroids, argmin with first-minimum
    ties, DECIMAL-exact means (the DuckDB-oracle-replayed protocol,
    _pq_fragments in workloads/llmdata.py)."""
    codebooks: list[list[list[float]]] = []
    for mm in range(m):
        seeds = [
            [float(x) for x in r[vec_col][mm * sub:(mm + 1) * sub]]
            for r in seed_rows
        ]
        sv = F.slice(F.col(vec_col), mm * sub + 1, sub)
        staged = df.select(sv.alias("__sv"))
        dists = F.array(*[
            F.aggregate(
                F.zip_with(
                    F.col("__sv"),
                    F.array(*[F.lit(c) for c in seeds[cell]]),
                    lambda x, y: (x.cast("double") - y)
                    * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for cell in range(k)
        ])
        # argmin with lowest-cell tie-break: array_position returns
        # the FIRST index holding the exact minimum
        assigned = staged.select(
            "__sv",
            (
                F.array_position(dists, F.array_min(dists)) - 1
            ).cast("int").alias("__cell"),
        )
        means = (
            assigned.select(
                "__cell", F.posexplode("__sv").alias("__pos", "__x")
            )
            .groupBy("__cell", "__pos")
            .agg(
                (
                    F.sum(F.col("__x").cast("decimal(18,6)"))
                    .cast("double")
                    / F.count(F.lit(1))
                ).alias("__mu")
            )
            .collect()
        )
        refined: dict[int, list[float]] = {}
        for r in means:
            refined.setdefault(int(r["__cell"]), [0.0] * sub)[
                int(r["__pos"])
            ] = float(r["__mu"])
        codebooks.append(
            [refined.get(cell, seeds[cell]) for cell in range(k)]
        )
    return codebooks


def _pq_codes_expr(vec_col: str, codebooks, sub: int):
    """codes array<int> expression: per subspace, argmin L2 against
    the inline codebook, first-minimum (lowest cell) tie-break."""
    per_m = []
    for mm, cb in enumerate(codebooks):
        sv = F.slice(F.col(vec_col), mm * sub + 1, sub)
        dists = F.array(*[
            F.aggregate(
                F.zip_with(
                    sv,
                    F.array(*[F.lit(c) for c in cell]),
                    lambda x, y: (x.cast("double") - y)
                    * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for cell in cb
        ])
        per_m.append(
            (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        )
    return F.array(*per_m)


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
    *,
    out_col: str = "pq_codes",
    engine: str = "auto",
) -> DataFrame:
    """Encode every vector to its ``m`` nearest-codeword indices —
    the 32-64x memory compression that makes billion-vector indexes
    fit (m bytes/vector at k<=256 vs m*(dim/m)*4 raw). One
    zero-shuffle map — codegen against inline codebook literals at
    small m*k, the bit-identical numpy kernel above
    ``PQ_EXPR_CELL_LIMIT``; at 100 TB this is the scan that builds
    the compressed index."""
    m, k = len(codebooks), len(codebooks[0])
    sub = len(codebooks[0][0])
    if not _use_pq_expr(m, k, engine):
        sel = df.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("__vec")
        )
        return _pq_codes_map(sel, ["id"], "__vec", codebooks, out_col)
    return df.select(
        F.col(id_col).alias("id"),
        _pq_codes_expr(vec_col, codebooks, sub).alias(out_col),
    )


#: max m*k for the inline-literal PQ paths: the expression tree for
#: encode/ADC carries m*k aggregate nodes (each over dim/m terms), and
#: codegen/analysis of that tree dominates wall-clock well before the
#: r15-build grid's 512 guess — measured at the 8x16 point (128
#: cells), the full pq_adc workload runs 16-28s on the expression path
#: vs 2-3.6s on the numpy kernels, alternating warm in one session
#: (the 1.4 MB task binaries are recompiled per invocation because the
#: trained codebook literals differ). Above the limit the numpy
#: mapInPandas kernels run instead — they replay the EXACT fold
#: arithmetic (sequential IEEE-double adds in identical order,
#: first-minimum ties), so results are bit-identical and the DuckDB
#: oracles hold for both paths.
PQ_EXPR_CELL_LIMIT = 64


def _use_pq_expr(m: int, k: int, engine: str = "auto") -> bool:
    if engine not in ("auto", "expr", "numpy"):
        raise ValueError(f"pq engine must be auto|expr|numpy, got {engine!r}")
    if engine != "auto":
        return engine == "expr"
    return m * k <= PQ_EXPR_CELL_LIMIT


def _np_codebooks(codebooks):
    import numpy as np

    return [np.array(cbm, dtype=np.float64) for cbm in codebooks]


def _np_sq_dists(sv, cb):
    """(B, k) squared L2 distances accumulated dimension-by-dimension
    in index order — the same sequential IEEE-double fold as the
    zip_with/aggregate expression, so argmin sees bit-identical
    values."""
    t = sv[:, None, 0] - cb[None, :, 0]
    d = t * t
    for j in range(1, sv.shape[1]):
        t = sv[:, None, j] - cb[None, :, j]
        d = d + t * t
    return d


def _pq_codes_map(
    df: DataFrame,
    passthrough: list[str],
    vec_col: str,
    codebooks,
    out_col: str,
) -> DataFrame:
    """Numpy encode path: one Arrow-batched mapInPandas pass, one
    (B, k) distance matrix per subspace per batch — no m*k-node
    expression tree, no codegen blowup. Output = ``passthrough``
    columns + ``out_col`` array<int>. Bit-identical to
    ``_pq_codes_expr`` (sequential fold order, first-min ties)."""
    import numpy as np

    CB = _np_codebooks(codebooks)
    m, sub = len(CB), CB[0].shape[1]
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    out_schema = ", ".join(
        [f"{c} {types[c]}" for c in passthrough] + [f"{out_col} array<int>"]
    )

    def batches(it):
        import pandas as pd

        for pdf in it:
            if len(pdf) == 0:
                continue
            V = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for mm in range(m):
                d = _np_sq_dists(V[:, mm * sub:(mm + 1) * sub], CB[mm])
                codes[:, mm] = np.argmin(d, axis=1)  # first-min tie
            out = pdf[passthrough].copy()
            out[out_col] = pd.Series(
                list(codes), index=pdf.index, dtype=object
            )
            yield out

    cols = list(dict.fromkeys([*passthrough, vec_col]))
    return df.select(*cols).mapInPandas(batches, schema=out_schema)


def _adc_map(
    pairs: DataFrame,
    codebooks,
    *,
    q_vec_col: str = "q_vec",
    codes_col: str = "pq_codes",
    out_col: str = "adc_raw",
) -> DataFrame:
    """Numpy ADC path: per batch, gather each pair's codewords and
    accumulate the per-subspace partials in subspace order (the
    ``_adc_dist_expr`` fold, vectorized). Emits the UNROUNDED double;
    callers apply ``F.round`` JVM-side so rounding semantics stay
    identical across paths."""
    import numpy as np

    CB = _np_codebooks(codebooks)
    m, sub = len(CB), CB[0].shape[1]
    keep = [c for c in pairs.columns if c not in (q_vec_col, codes_col)]
    types = {f.name: f.dataType.simpleString() for f in pairs.schema.fields}
    out_schema = ", ".join(
        [f"{c} {types[c]}" for c in keep] + [f"{out_col} double"]
    )

    def batches(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            Q = np.array(pdf[q_vec_col].tolist(), dtype=np.float64)
            C = np.array(pdf[codes_col].tolist(), dtype=np.int64)
            acc = None
            for mm in range(m):
                qs = Q[:, mm * sub:(mm + 1) * sub]
                cw = CB[mm][C[:, mm]]
                t = qs[:, 0] - cw[:, 0]
                part = t * t
                for j in range(1, sub):
                    t = qs[:, j] - cw[:, j]
                    part = part + t * t
                acc = part if acc is None else acc + part
            out = pdf[keep].copy()
            out[out_col] = acc
            yield out

    return pairs.mapInPandas(batches, schema=out_schema)


def _adc_dist_expr(m: int, sub: int):
    """Asymmetric distance between ``q_vec`` and ``pq_codes`` against
    the ``__cb`` inline codebook column: sum over subspaces IN
    SUBSPACE ORDER (a sequential fold, so a DuckDB oracle's in-order
    list sum replays the double bit-identically) of
    ||query_subvector - codeword||^2."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, mm: acc
        + F.aggregate(
            F.zip_with(
                F.slice(F.col("q_vec"), mm * sub + 1, sub),
                F.element_at(
                    F.element_at(F.col("__cb"), mm + 1),
                    F.element_at(F.col("pq_codes"), mm + 1) + 1,
                ),
                lambda x, y: (x.cast("double") - y)
                * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        ),
    )


def _residual_expr(vec_col: str, cell_col: str, centroids):
    """vec - centroid[cell], per row: the FAISS IVF-PQ residual.
    element_at picks the row's OWN centroid from the inline nlist x
    dim literal (tiny), zip_with subtracts in index order — exact
    IEEE doubles, replayable."""
    cent_lit = F.array(*[
        F.array(*[F.lit(float(x)) for x in c]) for c in centroids
    ])
    return F.zip_with(
        F.col(vec_col),
        F.element_at(cent_lit, F.col(cell_col) + 1),
        lambda x, y: x.cast("double") - y,
    )


def _adc_score(
    pairs: DataFrame,
    codebooks,
    round_digits: int,
    engine: str = "auto",
) -> DataFrame:
    """(query_id, nbr_id, adc_dist) from a candidate-pair frame
    carrying ``q_vec`` + ``pq_codes`` — expression path at small m*k,
    numpy kernel above the gate; rounding always happens JVM-side so
    both paths share one rounding semantic."""
    m, k = len(codebooks), len(codebooks[0])
    sub = len(codebooks[0][0])
    if not _use_pq_expr(m, k, engine):
        raw = _adc_map(pairs, codebooks)
        return raw.select(
            "query_id", "nbr_id",
            F.round(F.col("adc_raw"), round_digits).alias("adc_dist"),
        )
    return pairs.withColumn("__cb", _codebook_literal(codebooks)).select(
        "query_id", "nbr_id",
        F.round(_adc_dist_expr(m, sub), round_digits).alias("adc_dist"),
    )


def _codebook_literal(codebooks) -> Column:
    """The m x k x sub codebook as one nested array literal — tiny
    (m*k*sub floats) and inlined into the plan, so ADC scoring is a
    zero-shuffle codegen map over the encoded corpus."""
    return F.array(*[
        F.array(*[
            F.array(*[F.lit(x) for x in cell]) for cell in cbm
        ])
        for cbm in codebooks
    ])


def pq_adc_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    m: int = 8,
    k: int = 16,
    topk: int = 5,
    dim: int = 64,
    query_filter: str | None = None,
    codebooks: list[list[list[float]]] | None = None,
    round_digits: int = 6,
    engine: str = "auto",
) -> DataFrame:
    """Asymmetric-distance (ADC) approximate top-k: corpus vectors
    live only as PQ codes; each query's distance to a corpus vector
    is the sum over subspaces of ||query_subvector - codeword||^2 —
    the query side stays full-precision, the corpus side never
    decompresses (Jégou et al. 2011 §IV). Output (query_id, nbr_id,
    adc_dist, rank), dist rounded before ranking with id tie-breaks
    so a DuckDB oracle replays the ranking exactly (workload
    ``pq_adc_topk_embeddings``).

    Plan: the encoded corpus streams map-side; queries broadcast
    (the cosine_topk shape); per pair the distance reads m codewords
    from the inline codebook literal — no raw corpus vectors move.
    At scale, compose with IVF (route to nprobe cells, ADC within
    the cell) for the standard IVF-PQ index."""
    from pyspark.sql.window import Window

    if codebooks is None:
        codebooks = pq_train(
            df, id_col, vec_col, m=m, k=k, dim=dim, engine=engine
        )
    sub = len(codebooks[0][0])
    enc = pq_encode(df, id_col, vec_col, codebooks, engine=engine).toDF(
        "nbr_id", "pq_codes"
    )
    q = df.filter(query_filter) if query_filter else df
    queries = q.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    pairs = enc.crossJoin(F.broadcast(queries)).filter(
        F.col("query_id") != F.col("nbr_id")
    )
    scored = _adc_score(pairs, codebooks, round_digits, engine)
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("nbr_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", "nbr_id", "adc_dist", "rank")
    )


def ivf_pq_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    topk: int = 5,
    nlist: int = 8,
    nprobe: int = 2,
    m: int = 16,
    k: int = 64,
    dim: int = 64,
    iters: int = 0,
    round_digits: int = 6,
    query_filter: str | None = None,
    codebooks: list[list[list[float]]] | None = None,
    centroids: list[list[float]] | None = None,
    inline_limit: int | None = None,
    engine: str = "auto",
    residual: bool = False,
    pq_iters: int = 1,
) -> DataFrame:
    """IVF-PQ: the standard composed index (Jégou et al. 2011 §V, the
    FAISS ``IVFx,PQy`` factory string). A coarse IVF quantizer routes
    each query to its ``nprobe`` nearest cells; within the probed
    cells, corpus vectors exist ONLY as ``m`` PQ codes and are scored
    by asymmetric distance — so the index stores m bytes/vector
    (k<=256) AND each query touches ~nprobe/nlist of it, where flat
    PQ-ADC still scans every code.

    Two encodings: raw (default — the codebook trains once on raw
    vectors, the DuckDB oracle replays it, and on a unit-normalized
    corpus the raw-vector ADC ranking is the cosine ranking) and
    ``residual=True`` (FAISS's default: encode vec - centroid[cell],
    score queries by their per-probed-cell residual q -
    centroid[cell]). Residuals concentrate each cell's mass near the
    origin so the same codebook budget can quantize finer on
    CLUSTERED corpora; on this repo's weakly-clustered synthetic
    embeddings it measured NO win (SCALING.md, IVF-PQ operating grid;
    sf0.1: 0.41 vs 0.53 raw at 16 B/vector, 0.72 vs 0.73 at 32 B) —
    shipped as the standard option with the honest number, default
    off. The plan shape is identical (one extra zip_with subtract on
    each side, still zero-shuffle); training is one global codebook
    over residual vectors, not nlist codebooks.

    Plan: coarse assignment is the ``ivf_assign`` inline/broadcast
    gate (zero shuffle at small nlist); encoding is a zero-shuffle
    codegen map; candidates come from the (cell) EQUI-join of the
    encoded corpus against the probe table — never a cross join; ADC
    reads codewords from the inlined codebook literal. At 100 TB the
    encoded corpus is the only shuffled stream, m bytes + cell per
    vector. Defaults (r15 grid, SCALING.md IVF-PQ section): m=16/k=64 —
    16 B/vector (16x compression), the measured recall knee.

    Output (query_id, nbr_id, adc_dist, rank) — the ``pq_adc_topk``
    contract, oracle-replayable (workload ``ivf_pq_topk_embeddings``).
    """
    from pyspark.sql.window import Window

    if centroids is None:
        centroids = ivf_centroids(
            df, id_col, vec_col, nlist=nlist, iters=iters,
            inline_limit=inline_limit,
        )
    assigned = ivf_assign(
        df, id_col, vec_col, centroids, inline_limit=inline_limit
    )
    if residual:
        assigned = assigned.withColumn(
            "vec", _residual_expr("vec", "cell", centroids)
        )
    if codebooks is None:
        if residual:
            # train the global codebook on the RESIDUAL frame
            codebooks = pq_train(
                assigned, "id", "vec", m=m, k=k, dim=dim,
                engine=engine, iters=pq_iters,
            )
        else:
            codebooks = pq_train(
                df, id_col, vec_col, m=m, k=k, dim=dim,
                engine=engine, iters=pq_iters,
            )
    sub = len(codebooks[0][0])
    if _use_pq_expr(m, k, engine):
        enc = assigned.select(
            F.col("id").alias("nbr_id"),
            F.col("cell"),
            _pq_codes_expr("vec", codebooks, sub).alias("pq_codes"),
        )
    else:
        enc = _pq_codes_map(
            assigned.select(
                F.col("id").alias("nbr_id"), "cell", "vec"
            ),
            ["nbr_id", "cell"], "vec", codebooks, "pq_codes",
        )
    q = df.filter(query_filter) if query_filter else df
    sel = q.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    # probe routing: same scoring + plan-size gate as ivf_topk
    if _use_inline(centroids, inline_limit):
        sims = F.array(*[_dot_lit("q_vec", c) for c in centroids])
        cand = sel.select(
            "query_id", "q_vec", F.posexplode(sims).alias("cell", "sim")
        )
    else:
        cand = sel.crossJoin(
            F.broadcast(_centroid_frame(df.sparkSession, centroids))
        ).select(
            "query_id", "q_vec", "cell",
            _dot_cols("q_vec", "cvec").alias("sim"),
        )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("cell")
    )
    probes = (
        cand.withColumn("probe_rank", F.row_number().over(probe_w))
        .filter(F.col("probe_rank") <= nprobe)
        .select("query_id", "q_vec", F.col("cell").cast("int").alias("cell"))
    )
    if residual:
        # the query's residual is PER PROBED CELL: q - centroid[cell]
        probes = probes.withColumn(
            "q_vec", _residual_expr("q_vec", "cell", centroids)
        )
    pairs = enc.join(probes, "cell").filter(
        F.col("query_id") != F.col("nbr_id")
    )
    scored = _adc_score(pairs, codebooks, round_digits, engine)
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("nbr_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", "nbr_id", "adc_dist", "rank")
    )


#: rounds between (id, vec, md) checkpoints in the k-center greedy
#: loop. Each un-checkpointed round chains one filter + one least()
#: fold (with a dim-literal center array) onto the plan, and the
#: driver re-analyzes the WHOLE chain for every round's argmax
#: collect — at cadence 8 the r15 profile showed 8.5s of driver gap
#: vs 2.3s of job time for k=10. A shorter cadence trades one tiny
#: eager checkpoint job per window for much shallower plans; values
#: are semantics-free (least() is associative, the checkpoint only
#: materializes), so this is purely a plan-depth knob.
KCENTER_CHECKPOINT_EVERY = 3


def kcenter_coreset(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    *,
    round_digits: int = 6,
) -> DataFrame:
    """Diversity-aware coreset selection: greedy k-center / max-min
    (Gonzalez 1985's farthest-point traversal, the 2-approximation;
    Sener & Savarese 2018 use exactly this selector for data-efficient
    training coresets). Starting from the smallest-id point, each step
    adds the point whose distance to the nearest already-selected
    center is LARGEST — after k steps every corpus point is within the
    returned ``min_dist`` radius of some center, and the centers are
    pairwise maximally spread (SemDeDup removes redundancy, MMR
    reranks a candidate list; this is the corpus-level "pick k
    maximally diverse documents" selector both lack).

    Output: one row per selected center — (center_rank, id, min_dist)
    where min_dist is the point's distance to the selection at the
    moment it was picked (the coverage radius sequence; NULL for the
    seed). Distance is ``round(1 - cosine, round_digits)`` — rounded
    BEFORE the running min and the argmax, ties break on the smaller
    id, so the selection is a pure function of the vectors and a
    DuckDB oracle replays every step (workload
    ``kcenter_coreset_embeddings``).

    Scale shape: the greedy loop is inherently sequential in k — each
    of the k rounds is ONE corpus map (the newest center's distance
    folded into a running min column, no shuffle) plus a top-1 reduce;
    driver state is O(k x dim). For k beyond ~100 at 100 TB, compose with
    :func:`kmeans_clusters`: run this selector per cell over cluster
    representatives with per-cell quotas (cells are independent, so
    the k-sequential chain parallelizes across cells)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    sel = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    seed_rows = sel.orderBy("id").limit(1).collect()
    if not seed_rows:
        raise ValueError("empty input")
    spark = df.sparkSession

    def center_dist(cvec: list[float]) -> Column:
        lit = F.array(*[F.lit(float(x)) for x in cvec])
        dot = F.aggregate(
            F.zip_with(
                F.col("vec"), lit,
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cn = F.sqrt(
            F.aggregate(
                lit, F.lit(0.0), lambda acc, x: acc + x * x
            )
        )
        return F.round(F.lit(1.0) - dot / (_norm("vec") * cn), round_digits)

    picked = [(seed_rows[0]["id"], list(seed_rows[0]["vec"]), None)]
    # running min-distance column: round r adds ONE distance (to the
    # newest center) via least() instead of recomputing all r rounded
    # center distances — least() over rounded values is associative,
    # so md, the argmax and its tie-break are bit-identical to the
    # recompute-everything form. The per-round filter/least chain
    # references vec/md once per level (linear plan growth) and is
    # checkpointed on the BPE cadence to bound plan depth; the
    # checkpoint pins (id, vec, md), which the old loop re-derived
    # from the source scan every round (r15).
    cur, base, pending, has_md = sel, None, 0, False
    for _ in range(1, k):
        last_id, last_vec = picked[-1][0], picked[-1][1]
        d = center_dist(last_vec)
        cur = cur.filter(F.col("id") != F.lit(last_id)).withColumn(
            "md", F.least(F.col("md"), d) if has_md else d
        )
        has_md = True
        pending += 1
        if pending >= KCENTER_CHECKPOINT_EVERY:
            prev = base
            base = cur.localCheckpoint(eager=True)
            cur, pending = base, 0
            if prev is not None:
                prev.unpersist()
        nxt = (
            cur.orderBy(F.desc("md"), F.asc("id")).limit(1).collect()
        )
        if not nxt:
            break  # corpus smaller than k
        picked.append((nxt[0]["id"], list(nxt[0]["vec"]), float(nxt[0]["md"])))
    if base is not None:
        base.unpersist()
    id_type = df.schema[id_col].dataType.simpleString()
    return spark.createDataFrame(
        [(r + 1, cid, md) for r, (cid, _, md) in enumerate(picked)],
        f"center_rank int, {id_col} {id_type}, min_dist double",
    )


def rrf_fuse(
    rankings: list[DataFrame],
    *,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 60,
    out_col: str = "rrf_score",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of N rankers:
    score(d) = sum over rankers of 1 / (k + rank_r(d)) — the standard
    hybrid-retrieval combiner (e.g. BM25 lexical + embedding cosine),
    robust to incomparable score scales because only RANKS enter.

    Each input is an (id, rank) frame (1-based ranks, already cut to
    each ranker's top-k). Items missing from a ranker contribute 0 for
    it. Union + one groupBy on the id — no joins; at 100 TB the inputs
    are top-k-bounded so the fusion is trivially small. Bit-stability:
    the per-id addends 1/(k+rank) are folded in a FIXED order (ranks
    collected then array_sort'ed before the aggregate fold), so the
    double sum is identical across engines and partitionings.
    """
    if not rankings:
        raise ValueError("rrf_fuse requires at least one ranking")
    parts = [
        r.select(F.col(id_col), F.col(rank_col).cast("long").alias("__rank"))
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    # fold 1/(k+rank) over the per-id SORTED rank list: a fixed
    # summation order makes the double total bit-identical across
    # engines and partitionings (N is ranker count — tiny)
    return (
        u.groupBy(id_col)
        .agg(F.array_sort(F.collect_list("__rank")).alias("__ranks"))
        .select(
            F.col(id_col),
            F.size("__ranks").cast("long").alias("n_rankers"),
            F.aggregate(
                "__ranks",
                F.lit(0.0),
                lambda acc, r: acc + F.lit(1.0) / (F.lit(float(k)) + r),
            ).alias(out_col),
        )
    )
