"""Deduplication families for training-data pipelines:

- exact (content-hash groupBy)
- n-gram Jaccard over shingle-share candidates
- MinHash + LSH banding
- SimHash (64-bit)

Scale design: every variant generates CANDIDATE PAIRS before any
pairwise computation — never an O(n^2) cross join. Candidates come
from an equi-join on a shared token (shingle / LSH band / simhash
band), which Spark executes as an ordinary shuffle join; hot shingles
are capped by document frequency (``max_df``) so a stop-shingle can't
produce a quadratic bucket (the standard "stop shingle" guard).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, functions as F

from odibi_spark.llm.text import sql_literal

# Universal-hash modulus for the portable MinHash scheme: 2^31 - 1
# (Mersenne prime). a*x+b stays under 2^62 — no 64-bit overflow in
# either Spark or DuckDB.
MINHASH_PRIME = 2_147_483_647


def minhash_perm_constants(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    """Seeded (a, b) pairs for the affine permutations h_i(x) =
    (a_i * x + b_i) mod P. Deterministic — the DuckDB oracle inlines
    the same constants."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MINHASH_PRIME), rng.randrange(0, MINHASH_PRIME))
        for _ in range(num_perm)
    ]


def portable_hash60(col: Column) -> Column:
    """Engine-portable 60-bit hash: fold the first 15 hex chars of md5.
    DuckDB equivalent: CAST(concat('0x', substring(md5(x),1,15)) AS BIGINT).
    Slower than xxhash64 (crypto hash) — the fast path stays xxhash64;
    use this where a differential oracle must recompute the same hash."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by content hash. Returns one row per
    duplicated content: (fingerprint, n_copies, keep_id = min id)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min(id_col).alias("keep_id"))
        .filter("n_copies > 1")
    )


def explode_nonempty(df: DataFrame, arr, alias: str, *keep) -> DataFrame:
    """Explode a COMPUTED array column without the predicate a plain
    ``explode`` makes Catalyst infer: InferFiltersFromGenerate adds
    ``size(arr) > 0 AND arr IS NOT NULL`` and predicate pushdown
    substitutes the whole array expression into the scan filter — for
    interpreted HOF pipelines (shingles, n-gram hashes, winnowing
    minima) every row then builds its array TWICE, the second time
    with the projected word array re-split per lambda index (the
    O(words^2) disease word_shingles stages columns to avoid; r12
    measured the DSIR ratio pass 9.4s -> sub-second and the shingle
    family ~1.3-2x end-to-end at sf0.1). ``explode_outer`` infers
    nothing; the NULL row an empty/NULL array produces is dropped by
    a cheap attribute filter ABOVE the Generate, which cannot be
    pushed below it.

    EXACTLY explode's semantics (ADVICE r12): the filter keys on the
    ``posexplode_outer`` POSITION marker, which is NULL only for the
    row an empty/NULL array produces — never for a NULL element — so
    arrays with nullable elements keep those rows just like plain
    explode would (a value-keyed isNotNull filter silently dropped
    them)."""
    out = df.select(
        *keep, F.posexplode_outer(arr).alias("__xne_pos", alias)
    )
    return out.filter(F.col("__xne_pos").isNotNull()).drop("__xne_pos")


def word_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingles) with shingles = distinct sorted word n-grams.

    The word array is projected into its own column BEFORE the
    shingling lambda: with ``split()`` inlined inside the transform
    lambda the interpreted HOF re-splits the text once per shingle
    index (O(words^2) string work per doc — measured 1.6x slower
    end-to-end at sf0.1). CollapseProject keeps the split separate
    because the column is referenced more than once.

    Docs with < ``n`` words carry an EMPTY shingle array (r13: the
    former ``filter(size(__w) >= n)`` pushed ``size(split(text))``
    into the parquet scan filter, recomputing the split per row —
    the CASE guard keeps the short-doc cutoff while the split stays
    computed once). Every consumer explodes the array or joins back
    by candidate id, so empty-array rows never surface downstream.
    """
    words = df.select(
        F.col(id_col).alias("id"), F.split(F.trim(F.col(text_col)), " ").alias("__w")
    )
    sh = F.expr(
        f"CASE WHEN size(__w) >= {n} THEN "
        f"array_sort(array_distinct(transform(sequence(1, size(__w) - {n - 1}), "
        f"i -> concat_ws(' ', slice(__w, i, {n}))))) "
        f"ELSE array() END"
    )
    return words.select("id", sh.alias("shingles"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.2,
    max_df: int | None = 1000,
) -> DataFrame:
    """Near-duplicate pairs by n-gram Jaccard similarity.

    Plan shape (scales linearly in corpus size + candidate count):
      1. shingle sets per doc (codegen, no shuffle)
      2. explode -> (shingle, id); drop shingles with document
         frequency > max_df (stop-shingle guard — a quadratic bucket
         at 100 TB otherwise)
      3. self-join on shingle with id_a < id_b -> distinct candidates
      4. jaccard = |intersect| / |union| (exact int division in
         double). Without a ``max_df`` cap the self-join emits exactly
         one row per SHARED distinct shingle, so |intersect| is the
         per-pair row count and |union| = |A| + |B| - |intersect|
         (set sizes ride along as an 8-byte column through the
         explode) — one aggregation replaces the distinct + the two
         wide shingle-array joins (guide §2.3: shuffle fewer bytes;
         r15 measured the pair job 6.1s -> see OPTIMIZATION_r15.md).
         With ``max_df`` the candidate stream is df-filtered, counts
         would undercount shared stop-shingles, so verification joins
         back the full sets exactly as before.
    """
    sets = word_shingles(df, id_col, text_col, n)
    if not max_df:
        ex = explode_nonempty(
            sets.withColumn("__ns", F.size("shingles")),
            "shingles", "shingle", "id", "__ns",
        )
        return (
            ex.alias("a")
            .join(ex.alias("b"), "shingle")
            .filter(F.col("a.id") < F.col("b.id"))
            .groupBy(
                F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
            )
            .agg(
                F.count(F.lit(1)).alias("__ni"),
                F.min("a.__ns").alias("__na"),
                F.min("b.__ns").alias("__nb"),
            )
            .withColumn(
                "jaccard",
                F.col("__ni")
                / (F.col("__na") + F.col("__nb") - F.col("__ni")),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
    exploded = explode_nonempty(sets, "shingles", "shingle", "id")
    freq = exploded.groupBy("shingle").agg(F.count(F.lit(1)).alias("df_"))
    exploded = exploded.join(freq.filter(F.col("df_") <= max_df), "shingle").drop("df_")
    pairs = (
        exploded.alias("a")
        .join(exploded.alias("b"), "shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return _verified_pairs(pairs, sets, threshold)


def _minhash_projection(exploded: DataFrame, hasher: str, seed: int) -> DataFrame:
    """Project the per-shingle hash base ONCE before the groupBy so the
    (expensive) hash runs once per shingle, not once per permutation."""
    if hasher == "xxhash64":
        return exploded
    # portable: 60-bit md5 fold reduced mod P; permutations are affine
    return exploded.select(
        "id", (portable_hash60(F.col("shingle")) % F.lit(MINHASH_PRIME)).alias("bx")
    )


def _minhash_aggs(num_perm: int, hasher: str, seed: int) -> list[Column]:
    # one parsed expression per permutation (SQL text, not a Column
    # built call by call over py4j)
    if hasher == "xxhash64":
        return [F.expr(f"min(xxhash64({i}, shingle)) AS h{i}") for i in range(num_perm)]
    consts = minhash_perm_constants(num_perm, seed)
    return [
        F.expr(f"min(({a} * bx + {b}) % {MINHASH_PRIME}) AS h{i}")
        for i, (a, b) in enumerate(consts)
    ]


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 32,
    hasher: str = "xxhash64",
    seed: int = 42,
) -> DataFrame:
    """MinHash signatures: sig[i] = min over shingles of a per-permutation
    hash. ``hasher``: 'xxhash64' (fast path) computes sig[i] =
    min(xxhash64(i, shingle)); 'portable' computes one 60-bit md5 fold
    per shingle and derives the permutations as seeded affine maps
    (a_i*x+b_i mod 2^31-1) — reproducible in DuckDB for the
    differential oracle, and cheaper than 32 independent hashes.

    Formulation deliberately explode + groupBy, NOT a higher-order-
    function projection (``array_min(transform(...))``): explode +
    hash + partial min run inside whole-stage codegen, and because a
    doc's shingles all sit in one partition the map-side partial
    aggregation already reduces to ONE row per doc before the
    exchange — the shuffle is O(docs x num_perm longs) at any corpus
    size, not O(shingles). HOF lambdas are interpreted (no codegen)
    and measured 1.5-2x slower end-to-end at sf0.1; the groupBy's
    exchange output is also reused by both sides of the LSH band
    self-join downstream (ReusedExchange).
    """
    exploded = explode_nonempty(
        word_shingles(df, id_col, text_col, n), "shingles", "shingle", "id"
    )
    proj = _minhash_projection(exploded, hasher, seed)
    return proj.groupBy("id").agg(*_minhash_aggs(num_perm, hasher, seed))


def signatures_from_sets(
    sets: DataFrame,
    num_perm: int = 32,
    hasher: str = "xxhash64",
    seed: int = 42,
) -> DataFrame:
    """Minhash signatures from an already-shingled (id, shingles)
    frame — the reuse point when the shingle sets are persisted and
    shared with a downstream exact-Jaccard verification (see
    minhash_dedup_pairs / curation.neardup_decontaminate_hits)."""
    exploded = explode_nonempty(sets, "shingles", "shingle", "id")
    proj = _minhash_projection(exploded, hasher, seed)
    return proj.groupBy("id").agg(*_minhash_aggs(num_perm, hasher, seed))


def band_keys(
    signatures: DataFrame,
    bands: int = 8,
    rows_per_band: int = 4,
    hasher: str = "xxhash64",
) -> DataFrame:
    """Explode minhash signatures to (id, band, bh) LSH band keys —
    the equi-join key both the one-shot self-join and the incremental
    delta-vs-store join bucket on. The portable hasher keys bands on
    the concatenated row values (identical decimal rendering in both
    engines) instead of an engine-specific hash."""
    band_cols = []
    for b in range(bands):
        cols = [f"h{b * rows_per_band + r}" for r in range(rows_per_band)]
        bh = (
            f"CAST(xxhash64({', '.join(cols)}) AS STRING)"
            if hasher == "xxhash64"
            else f"concat_ws(',', {', '.join(f'CAST({c} AS STRING)' for c in cols)})"
        )
        band_cols.append(f"named_struct('band', {b}, 'bh', {bh})")
    return signatures.selectExpr(
        "id", f"explode(array({', '.join(band_cols)})) AS bb"
    ).select("id", "bb.band", "bb.bh")


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 8,
    rows_per_band: int = 4,
    hasher: str = "xxhash64",
) -> DataFrame:
    """LSH banding over minhash signatures: docs agreeing on all rows of
    any band become candidates. Equi-join on (band, band_hash) — the
    classic sub-quadratic candidate generator."""
    banded = band_keys(signatures, bands, rows_per_band, hasher)
    return (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "bh"])
        .filter("a.id < b.id")
        .selectExpr("a.id AS id_a", "b.id AS id_b")
        .distinct()
    )


def _verified_pairs(cands: DataFrame, sets: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, jaccard) for each candidate pair whose exact
    Jaccard over the (id, shingles) sets is at least ``threshold``."""
    a = sets.selectExpr("id AS id_a", "shingles AS sh_a")
    b = sets.selectExpr("id AS id_b", "shingles AS sh_b")
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", F.expr(
            "size(array_intersect(sh_a, sh_b)) / size(array_union(sh_a, sh_b))"))
        .filter(f"jaccard >= {sql_literal(threshold)}")
        .select("id_a", "id_b", "jaccard")
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    hasher: str = "xxhash64",
    seed: int = 42,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures -> banded
    candidates -> exact Jaccard verification of candidates only.

    The shingle-set intermediate feeds three plan branches (signature
    explode + both sides of the verification join); persist it so the
    shingling scan runs once, not three times. It is ~|corpus| rows of
    string arrays — memory-and-disk so big corpora spill instead of
    OOM-ing.
    """
    from pyspark import StorageLevel

    rows_per_band = num_perm // bands
    sets = word_shingles(df, id_col, text_col, n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        # signature formulation: see minhash_signatures — codegen'd
        # explode + map-side partial min shuffles one row per doc, and
        # its exchange is reused by both sides of the band self-join
        sigs = signatures_from_sets(sets, num_perm, hasher, seed)
        cands = lsh_candidate_pairs(sigs, bands, rows_per_band, hasher)
        # materialize while the persisted sets are alive
        return _verified_pairs(cands, sets, threshold).localCheckpoint(eager=True)
    finally:
        sets.unpersist()


def simhash64(
    df: DataFrame, id_col: str, text_col: str = "text", hasher: str = "xxhash64"
) -> DataFrame:
    """SimHash over word hashes, fully JVM-side: 64-bit with xxhash64
    (fast path), 60-bit with the portable md5 fold (differential-oracle
    path — DuckDB recomputes identical values).

    Per doc: hash each distinct word; for each bit position sum +1/-1
    by bit value; simhash bit = sign of the sum. Implemented as explode
    + conditional-sum aggregates + bit reassembly — one shuffle on doc
    id.
    """
    nbits = 64 if hasher == "xxhash64" else 60
    words = explode_nonempty(
        df,
        F.array_distinct(F.split(F.trim(F.col(text_col)), " ")),
        "w",
        F.col(id_col).alias("id"),
    )
    h = F.xxhash64("w") if hasher == "xxhash64" else portable_hash60(F.col("w"))
    words = words.withColumn("h", h)
    aggs = [
        F.sum(
            F.when(F.expr(f"(h >> {b}) & 1 = 1"), F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"b{b}")
        for b in range(nbits)
    ]
    sums = words.groupBy("id").agg(*aggs)
    # reassemble: OR together shiftleft(1, b) where sum > 0
    bit_terms = " + ".join(
        f"IF(b{b} > 0, CAST(shiftleft(CAST(1 AS BIGINT), {b}) AS BIGINT), CAST(0 AS BIGINT))"
        for b in range(nbits)
    )
    return sums.select("id", F.expr(bit_terms).alias("simhash"))


def hash64_near_pairs(
    df: DataFrame,
    id_col: str = "id",
    hash_col: str = "simhash",
    max_hamming: int = 3,
    *,
    band_bits: int = 16,
    n_bands: int = 4,
) -> DataFrame:
    """Hamming-band near-dup pairs over ANY 64-bit-or-less perceptual
    hash column (SimHash for text, dHash for images, ...): split the
    hash into ``n_bands`` bands of ``band_bits``, candidate pairs
    share >= 1 band (pigeonhole: two hashes within hamming distance
    ``n_bands - 1`` always do), verified with exact popcount. Rows
    with a NULL hash (undecodable payloads) are skipped. The only
    shuffle is the band-key equi-join — candidates, never all pairs."""
    bands = df.filter(F.col(hash_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.col(hash_col).alias("__h64"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.expr(
                        f"(`{hash_col}` >> {band_bits * b})"
                        f" & {(1 << band_bits) - 1}"
                    ).alias("bh"),
                )
                for b in range(n_bands)
            ])
        ).alias("bb"),
    ).select("id", "__h64", "bb.band", "bb.bh")
    return (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "bh"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.expr("bit_count(a.__h64 ^ b.__h64)").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 3,
    hasher: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup candidates by band blocking (4 bands of 16 bits
    for the 64-bit fast path, 4 x 15 bits for the 60-bit portable path;
    either way two hashes within hamming distance 3 agree on >= 1
    band), verified with exact popcount hamming distance."""
    band_bits = 16 if hasher == "xxhash64" else 15
    sh = simhash64(df, id_col, text_col, hasher)
    return hash64_near_pairs(
        sh, "id", "simhash", max_hamming, band_bits=band_bits, n_bands=4
    )


def connected_components_stats(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    on_nonconverged: str = "warn",
) -> tuple[DataFrame, dict]:
    """Duplicate-cluster resolution: connected components over a
    near-dup pair list by min-label propagation WITH pointer jumping.
    Returns ``(labels, stats)``: labels = (id, cluster_id) for every
    node that appears in an edge, cluster_id = the smallest id in the
    component; stats = {"rounds": r, "converged": bool}.

    Pairs alone don't dedup a corpus — A~B and B~C must collapse to
    ONE keeper even when A~C was never emitted as a candidate. This is
    the map-reduce CC family (cf. Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): each round every
    node takes the min among its own label, its neighbors' labels, AND
    its label's label (the pointer-jumping step of Shiloach-Vishkin).
    Neighbor propagation alone needs O(diameter) rounds — a planted
    1024-node duplicate chain takes 1024 rounds; the jump step doubles
    the reach of a label each round, giving O(log diameter): measured
    12 rounds for that same chain (bench `cc_chain` probe). Real
    near-dup components are shallow stars, converging in 2-4 rounds
    either way; the jump is the insurance against pathological chains.

    Scale notes: the undirected edge list is persisted and reused every
    round; each round is one edge equi-join + one groupBy min (map-side
    partial) + one label self-equi-join for the jump, all keyed on node
    id. Labels are localCheckpoint'ed per round — without that the
    lineage doubles each iteration and the plan blows up. The
    convergence probe is one exact-sum aggregate per round (labels
    only decrease, so an unchanged sum means an unchanged frame). The
    driver loop runs O(log diameter) tiny jobs; no data ever reaches
    the driver.

    If the loop exhausts ``max_iter`` without converging, the returned
    labels would silently split one component into several clusters;
    ``on_nonconverged`` controls the reaction: "warn" (default) logs a
    warning, "raise" raises RuntimeError.
    """
    from pyspark import StorageLevel

    e = edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    und = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        labels = und.select(F.col("src").alias("node")).distinct().withColumn(
            "cluster_id", F.col("node")
        )
        labels = labels.localCheckpoint(eager=True)
        # convergence probe: min-label propagation is MONOTONE (every
        # round takes least(old, ...), node set fixed), so labels
        # changed iff the exact label sum strictly decreased — one
        # tiny aggregate over the fresh checkpoint instead of the old
        # new-vs-old label equi-join + LIMIT 1 count per round (r15
        # job trim; DECIMAL(38,0) sum cannot overflow or lose
        # exactness at any corpus size)
        label_sum = F.sum(F.col("cluster_id").cast("decimal(38,0)"))
        prev_sum = labels.agg(label_sum).collect()[0][0]
        changed, rounds = 0, 0
        for _ in range(max_iter):
            nbr_min = (
                und.join(
                    labels.select(
                        F.col("node").alias("dst"),
                        F.col("cluster_id").alias("dst_label"),
                    ),
                    "dst",
                )
                .groupBy(F.col("src").alias("node"))
                .agg(F.min("dst_label").alias("nbr_label"))
            )
            # pointer jump: label(label(v)) — every cluster_id is itself
            # a node id in the same component, so the self-join is total
            jump = labels.join(
                labels.select(
                    F.col("node").alias("cluster_id"),
                    F.col("cluster_id").alias("jump_label"),
                ),
                "cluster_id",
            ).select("node", "jump_label")
            new_labels = (
                labels.join(nbr_min, "node", "left")
                .join(jump, "node", "left")
                .select(
                    "node",
                    F.least(
                        F.col("cluster_id"),
                        F.coalesce("nbr_label", F.col("cluster_id")),
                        F.coalesce("jump_label", F.col("cluster_id")),
                    ).alias("cluster_id"),
                )
                .localCheckpoint(eager=True)
            )
            new_sum = new_labels.agg(label_sum).collect()[0][0]
            changed = 0 if new_sum == prev_sum else 1
            prev_sum = new_sum
            labels = new_labels
            rounds += 1
            if changed == 0:
                break
        if changed != 0:
            msg = (
                f"connected_components did not converge in {max_iter} "
                "rounds (component diameter exceeds max_iter); labels "
                "may split one component into several clusters"
            )
            if on_nonconverged == "raise":
                raise RuntimeError(msg)
            import logging

            logging.getLogger(__name__).warning(msg)
        out = labels.select(F.col("node").alias("id"), "cluster_id")
        return out, {"rounds": rounds, "converged": changed == 0}
    finally:
        und.unpersist()


def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    on_nonconverged: str = "warn",
) -> DataFrame:
    """Labels-only form of :func:`connected_components_stats`."""
    labels, _ = connected_components_stats(
        edges, id_a, id_b, max_iter, on_nonconverged
    )
    return labels


def dedup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Keep one document per duplicate cluster: resolve components over
    ``pairs`` and drop every doc whose cluster_id differs from its own
    id (the min-id doc is the canonical keeper). Docs in no pair pass
    through untouched.

    No broadcast hint on the anti-join (VERDICT r5 sweep): the
    dropped-id set is CORPUS-PROPORTIONAL — web crawls routinely run
    30-50% duplicates, so at 100 TB the losers frame is billions of
    ids and a forced broadcast OOMs the executors. AQE broadcasts it
    at runtime whenever it is actually small (the common local case),
    and falls back to a shuffled anti-join when it is not
    (tests/test_llm.py high-dup-fraction case)."""
    comp = connected_components(pairs, id_a, id_b)
    losers = comp.filter(F.col("id") != F.col("cluster_id")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def dedup_clusters_by_quality(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "quality",
    id_a: str = "id_a",
    id_b: str = "id_b",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Keep the BEST document per duplicate cluster — keeper election
    by ``quality_col`` (ties broken by lowest id) instead of
    :func:`dedup_clusters`' min-id rule. This is what production
    pipelines actually want: near-dup groups usually contain one
    clean original and N mangled syndications, and min-id keeps
    whichever was crawled first, not whichever is best.

    Docs in no pair are their own singleton cluster and always
    survive. Adds ``cluster_col`` to the output.

    Plan: one component resolution (O(diameter) rounds over EDGES,
    never documents), one left join of docs x labels (AQE chooses
    broadcast vs shuffle — the label set is corpus-proportional in
    the worst case, same reasoning as dedup_clusters), and ONE
    hash-partitioned window per cluster for the argmax."""
    from pyspark.sql.window import Window

    # reserved '__'-prefixed names for the component frame (ADVICE
    # r11): joining on the raw 'id'/'cluster_id' names collides when
    # the caller's frame already carries either column — drop("id")
    # would remove both copies / F.col("cluster_id") turns ambiguous
    comp = connected_components(pairs, id_a, id_b).select(
        F.col("id").alias("__cc_id"),
        F.col("cluster_id").alias("__cc_cluster"),
    )
    joined = df.join(
        comp, df[id_col] == comp["__cc_id"], "left"
    ).drop("__cc_id")
    joined = joined.withColumn(
        cluster_col, F.coalesce(F.col("__cc_cluster"), F.col(id_col))
    ).drop("__cc_cluster")
    w = Window.partitionBy(cluster_col).orderBy(
        F.desc(quality_col), F.asc(id_col)
    )
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .drop("__rn")
    )


def duplicate_span_signals(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-corpus exact-substring duplication signals in the style of
    Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
    Better"): a span is a contiguous word ``ngram``-gram; a span is
    *duplicated* when the same gram occurs in at least ``min_docs``
    DISTINCT documents (distinct-doc counting deliberately ignores
    within-document repetition — that is :func:`repetition_signals`'
    job).

    The published approach builds a corpus suffix array; that is a
    sequential single-machine construction. The Spark-first
    re-expression keeps the same detection semantics for fixed-length
    spans as pure dataflow:

      1. project the word array once, posexplode the ``ngram``-gram
         windows (O(total tokens) rows, codegen, no Python)
      2. hash each gram to md5 (portable, so differential oracles can
         recompute it; collision odds at 128 bits are negligible).
         The INTERNAL key is ``unhex(md5(...))`` — the identical 128
         bits as 16 raw bytes instead of a 32-char hex string, so the
         gram exchanges move half the key bytes with the same
         collision-free identity (r16, guide §2.3 narrower types; the
         hex form never appears in any declared output)
      3. groupBy gram-hash -> distinct-doc count (map-side partial
         aggregate; AQE absorbs the Zipf-head skew), then filter to
         the DUPLICATED grams only (``__ndocs >= min_docs``)
      4. join spans back on gram-hash — against the duplicated-gram
         subset only — and count hits per document.

    ``total_spans`` never needed the explode at all: the window count
    of a doc is ``max(size(words) - ngram + 1, 0)``, a pure projection
    (r16, VERDICT r15 #3 — the old shape counted it by joining EVERY
    span against the full gram table, so the join and the per-doc
    rollup carried all spans instead of only duplicated ones).

    Returns one row per input document: ``total_spans``,
    ``dup_spans``, and ``dup_span_ratio`` (0.0 for docs shorter than
    ``ngram`` words). At 100 TB every stage is a linear scan plus two
    key-hashed shuffles — and the second shuffle now carries only
    spans whose gram is actually duplicated; nothing is ever
    all-pairs.
    """
    if ngram < 2:
        raise ValueError("ngram must be >= 2")
    words = df.select(
        F.col(id_col),
        F.split(F.trim(F.col(text_col)), " ").alias("__w"),
    )
    spans = explode_nonempty(
        words,
        # CASE guard: sequence(1, 0) is DESCENDING, not empty
        F.expr(
            f"CASE WHEN size(__w) >= {ngram} THEN "
            f"transform(sequence(1, size(__w) - {ngram - 1}), "
            f"i -> unhex(md5(concat_ws(' ', slice(__w, i, {ngram}))))) "
            f"ELSE CAST(array() AS ARRAY<BINARY>) END"
        ),
        "gram_h",
        F.col(id_col),
    )
    dup_grams = (
        spans.groupBy("gram_h")
        .agg(F.count_distinct(F.col(id_col)).alias("__ndocs"))
        .filter(F.col("__ndocs") >= min_docs)
        .select("gram_h")
    )
    dup_per_doc = (
        # left_semi: dup_grams is already distinct (groupBy output),
        # so semi vs inner is the same count — but semi ships no
        # payload columns and keeps the runtime-filter/broadcast
        # options open for the planner
        spans.join(dup_grams, "gram_h", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("dup_spans"))
    )
    totals = df.select(
        F.col(id_col),
        F.expr(
            f"CAST(CASE WHEN size(split(trim({text_col}), ' ')) >= {ngram} "
            f"THEN size(split(trim({text_col}), ' ')) - {ngram - 1} "
            f"ELSE 0 END AS BIGINT)"
        ).alias("total_spans"),
    )
    out = totals.join(dup_per_doc, id_col, "left")
    return out.select(
        F.col(id_col),
        F.col("total_spans"),
        F.coalesce("dup_spans", F.lit(0)).alias("dup_spans"),
        F.when(
            F.col("total_spans") > 0,
            F.coalesce("dup_spans", F.lit(0)).cast("double")
            / F.col("total_spans"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_span_ratio"),
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 8,
    min_docs: int = 2,
    out_col: str | None = None,
) -> DataFrame:
    """Rewrite documents with cross-corpus duplicated spans REMOVED —
    the second half of Lee et al. 2021's exact-substring dedup (where
    :func:`duplicate_span_signals` only measures, this edits): for
    every word ``ngram``-gram occurring in >= ``min_docs`` distinct
    documents, the globally FIRST occurrence (lowest (id, position))
    keeps its tokens; every other occurrence's covered tokens are cut,
    and the surviving tokens are re-joined in order.

    A doc containing a corpus-duplicated gram twice keeps only the
    occurrence that is the global keeper (within-doc extra copies of a
    cross-corpus duplicate are cut too); docs shorter than ``ngram``
    words pass through untouched.

    Plan shape, all linear, and — r15, guide §8 ("decide with small
    rows, move big rows once") — token TEXT never crosses an
    exchange: spans are one posexplode of the projected word array;
    the keeper election is one groupBy on the md5 gram key
    (min(struct(id, pos)) — map-side partial); removed spans explode
    to covered (id, pos) rows and come back per doc as ONE
    collect_set of int positions; the rewrite is a pure projection
    over the original text (``array_except`` of the position range —
    hash-set, linear in doc length — then ``element_at`` re-joins the
    survivors in order). The old shape posexploded every token a
    second time, anti-joined, and re-shuffled all kept token text
    through a per-document collect_list. Adds ``n_kept_tokens`` /
    ``n_removed_tokens``; the rewritten text lands in ``out_col``
    (default: replaces ``text_col``).
    """
    if ngram < 2:
        raise ValueError("ngram must be >= 2")
    out_col = out_col or text_col
    words = df.select(
        F.col(id_col), F.split(F.trim(F.col(text_col)), " ").alias("__w")
    )
    spans = explode_nonempty(
        words,
        F.expr(
            f"CASE WHEN size(__w) >= {ngram} THEN "
            f"transform(sequence(1, size(__w) - {ngram - 1}), "
            f"i -> struct(i AS start, "
            # unhex(md5): identical 128-bit identity as 16 raw bytes
            # instead of 32 hex chars — h is internal plumbing (never
            # declared output), so the gram exchanges move half the
            # key bytes (r16, guide §2.3)
            f"unhex(md5(concat_ws(' ', slice(__w, i, {ngram})))) AS h)) "
            f"ELSE CAST(array() AS ARRAY<STRUCT<start: INT, h: BINARY>>) END"
        ),
        "s",
        F.col(id_col),
    ).select(F.col(id_col), F.col("s.start").alias("start"), F.col("s.h").alias("h"))
    stats = spans.groupBy("h").agg(
        F.count_distinct(F.col(id_col)).alias("__ndocs"),
        F.min(F.struct(F.col(id_col).alias("kid"), F.col("start").alias("kstart"))
              ).alias("__keeper"),
    )
    # collect_set replaces the old explode->distinct->anti-join: the
    # set dedups overlapping-span positions inside ONE narrow int
    # aggregation instead of a second (id, pos) exchange
    removed = (
        spans.join(stats, "h")
        .filter(
            (F.col("__ndocs") >= min_docs)
            & ~(
                (F.col(id_col) == F.col("__keeper.kid"))
                & (F.col("start") == F.col("__keeper.kstart"))
            )
        )
        .select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("start"), F.col("start") + F.lit(ngram - 1))
            ).alias("pos"),
        )
        .groupBy(id_col)
        .agg(F.collect_set("pos").alias("__rm"))
    )
    out = df.join(removed, id_col, "left")
    out = out.withColumn(
        "__w2", F.split(F.trim(F.col(text_col)), " ")
    ).withColumn(
        "__keep_pos",
        F.array_except(
            F.sequence(F.lit(1), F.size("__w2")),
            F.coalesce("__rm", F.array().cast("array<int>")),
        ),
    )
    return (
        out.withColumn(
            "n_kept_tokens",
            F.coalesce(
                F.size("__keep_pos").cast("long"), F.lit(0).cast("long")
            ),
        )
        .withColumn(
            "n_removed_tokens",
            F.size("__w2").cast("long") - F.col("n_kept_tokens"),
        )
        .withColumn(
            out_col,
            F.concat_ws(
                " ",
                F.transform(
                    "__keep_pos", lambda p: F.element_at(F.col("__w2"), p)
                ),
            ),
        )
        .drop("__rm", "__w2", "__keep_pos")
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS algorithm): hash every word ``k``-gram, slide a
    ``window`` of consecutive gram hashes, and keep the MINIMUM hash
    of each window. The selected hash set is the document's
    fingerprint sketch, with the winnowing guarantee: any two
    documents sharing a run of >= ``window + k - 1`` words share at
    least one fingerprint — local like MinHash bands but with a
    DETERMINISTIC match-length floor instead of a probabilistic one.

    This is the value-set variant (positions dropped, values
    deduplicated) — what candidate joins need; sketch size is
    ~2/(window+1) of the gram count.

    Returns (id, fp) exploded rows. Plan: the gram-hash array and the
    window minima are per-row column expressions over ONE projected
    word array (no shuffle); the only exchange is whatever the caller
    does with the fingerprints. Hashes are the portable md5 fold, so
    a DuckDB oracle reproduces the sketch exactly.
    """
    if k < 1 or window < 1:
        raise ValueError("k and window must be >= 1")
    words = df.select(
        F.col(id_col).alias("id"),
        F.split(F.trim(F.col(text_col)), " ").alias("__w"),
    )
    # gram hashes projected into their own column first (interpreted
    # HOFs don't CSE an inlined split — the word_shingles lesson).
    # CASE guards replace the former filter(size(__w) >= k+window-1),
    # which pushed size(split(text)) into the scan filter and
    # recomputed the split per row (r13); short docs yield array()
    # and explode to nothing, exactly as the filter dropped them.
    grams = words.withColumn(
        "__gh",
        F.expr(
            f"CASE WHEN size(__w) >= {k + window - 1} THEN "
            f"transform(sequence(1, size(__w) - {k - 1}), i -> "
            f"CAST(conv(substring(md5(concat_ws(' ', slice(__w, i, {k}))),"
            f" 1, 15), 16, 10) AS BIGINT)) ELSE array() END"
        ),
    )
    fps = explode_nonempty(
        grams,
        F.array_distinct(
            F.expr(
                f"CASE WHEN size(__gh) >= {window} THEN "
                f"transform(sequence(1, size(__gh) - {window - 1}), "
                f"i -> array_min(slice(__gh, i, {window}))) "
                f"ELSE CAST(array() AS ARRAY<BIGINT>) END"
            )
        ),
        "fp",
        "id",
    )
    return fps


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_docs: int = 2,
    scope_col: str | None = None,
    delim: str = "\n",
    granularity: str = "line",
    out_col: str | None = None,
) -> DataFrame:
    """Line- or paragraph-level boilerplate removal (the RefinedWeb/
    CCNet line-dedup stage — RefinedWeb applies it at BOTH
    granularities): a unit occurring in >= ``min_docs`` DISTINCT
    documents — optionally scoped per ``scope_col`` (source/domain,
    where nav bars, cookie banners, and copyright footers repeat) —
    is boilerplate; drop every occurrence and re-join the survivors
    in order. Complements :func:`remove_duplicate_spans` (word-gram
    spans, first occurrence kept): boilerplate repeats are junk in
    EVERY document, so no keeper survives.

    ``granularity='line'`` splits on ``delim`` exactly;
    ``granularity='paragraph'`` treats a run of >= 2 delimiters
    (a blank line) as the separator and re-joins survivors with a
    double ``delim`` — whole paragraphs (multi-line blocks) are the
    frequency unit, so a footer whose lines individually vary but
    whose block repeats still dies as one unit.

    Plan shape identical at both granularities, all linear, and —
    r15, guide §8 ("decide with small rows, move big rows once") —
    the unit TEXT never crosses an exchange: the posexplode emits
    only (id, pos, md5-of-unit); the frequency side groups on the md5
    UNIT KEY (narrow rows, count_distinct doc partials map-side);
    boilerplate POSITIONS come back per doc as one collect_set of
    ints; the rewrite is a pure projection over the original text
    (``array_except`` of the position range, hash-set linear in doc
    length, then ``element_at`` picks the survivors in order). The
    old shape instead re-shuffled every kept unit's text through a
    per-document collect_list. Adds ``n_kept_lines`` /
    ``n_boilerplate_lines`` (unit counts); docs whose every unit is
    boilerplate come back as '' (kept, flagged — dropping rows is the
    caller's policy decision).
    """
    if min_docs < 2:
        raise ValueError("min_docs must be >= 2")
    if granularity not in ("line", "paragraph"):
        raise ValueError("granularity must be 'line' or 'paragraph'")
    out_col = out_col or text_col
    import re as _re

    if granularity == "paragraph":
        # RE2-compatible (the DuckDB oracle splits with the same
        # pattern): a blank line = 2+ consecutive delimiters
        split_pat = f"(?:{_re.escape(delim)}){{2,}}"
        delim = delim * 2
    else:
        split_pat = _re.escape(delim)
    scope = [F.col(scope_col)] if scope_col else []
    lines = df.select(
        F.col(id_col),
        *scope,
        F.posexplode(F.split(F.col(text_col), split_pat)).alias(
            "pos", "line"
        ),
    ).select(
        # unhex(md5): same 128-bit unit identity, 16 raw bytes instead
        # of 32 hex chars through the frequency/semi-join exchanges —
        # __lh is internal plumbing, never declared output (r16 §2.3)
        F.col(id_col), *scope, "pos",
        F.unhex(F.md5(F.col("line"))).alias("__lh"),
    )
    freq_keys = [*(
        [scope_col] if scope_col else []
    ), "__lh"]
    boiler = (
        lines.groupBy(*freq_keys)
        .agg(F.count_distinct(F.col(id_col)).alias("__ndocs"))
        .filter(F.col("__ndocs") >= min_docs)
        .select(*freq_keys)
    )
    # boilerplate positions per doc: ints only through the shuffle
    removed = (
        lines.join(boiler, freq_keys, "left_semi")
        .groupBy(id_col)
        .agg(F.collect_set("pos").alias("__rm"))
    )
    out = df.join(removed, id_col, "left")
    # unit array + kept positions each projected once (both are
    # multiply-referenced non-cheap expressions; CollapseProject
    # keeps them as real columns)
    out = out.withColumn(
        "__units", F.split(F.col(text_col), split_pat)
    ).withColumn(
        "__keep_pos",
        F.array_except(
            F.sequence(F.lit(0), F.size("__units") - 1),
            F.coalesce("__rm", F.array().cast("array<int>")),
        ),
    )
    return (
        out.withColumn(
            "n_kept_lines",
            F.coalesce(
                F.size("__keep_pos").cast("long"), F.lit(0).cast("long")
            ),
        )
        .withColumn(
            "n_boilerplate_lines",
            F.size("__units").cast("long") - F.col("n_kept_lines"),
        )
        .withColumn(
            out_col,
            F.concat_ws(
                delim,
                F.transform(
                    "__keep_pos",
                    lambda p: F.element_at(F.col("__units"), p + 1),
                ),
            ),
        )
        .drop("__rm", "__units", "__keep_pos")
    )
