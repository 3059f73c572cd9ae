"""LLM-data workloads over documents/embeddings tables, with DuckDB
oracles where SQL-expressible; minhash/simhash/LSH entries are
rows-only checks (hash functions differ across engines by design).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from odibi_spark.workloads.common import read_table, untuned_session_prep
from odibi_spark.llm import chunking, curation, dedup, similarity, text

DEC = "DECIMAL(18,6)"


def _prep(spark: SparkSession) -> None:
    untuned_session_prep(spark)


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring per document (length/stopword features)."""
    _prep(spark)
    df = text.with_text_stats(read_table(spark, sf_dir, "documents"))
    # round: ln() differs by 1 ulp between JVM and libm
    return df.select(
        "doc_id", "n_chars_obs", "n_words", "avg_word_len",
        "stopword_ratio", F.round("quality_score", 6).alias("quality_score"),
    )


TEXT_QUALITY_SQL = """
WITH w AS (
  SELECT doc_id, CAST(length(text) AS INTEGER) AS n_chars_obs,
         CAST(len(string_split(trim(text), ' ')) AS INTEGER) AS n_words,
         CAST(len(list_filter(string_split(trim(text), ' '),
                         x -> x = 'the' OR x = 'a')) AS INTEGER) AS stop_hits
  FROM documents
)
SELECT doc_id, n_chars_obs, n_words,
       (n_chars_obs - (n_words - 1)) / n_words AS avg_word_len,
       stop_hits / n_words AS stopword_ratio,
       round(ln(1 + n_words) * (1.0 - stop_hits / n_words), 6) AS quality_score
FROM w
"""


def token_counts_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + regex) rolled up per source."""
    _prep(spark)
    df = text.with_token_counts(read_table(spark, sf_dir, "documents"))
    return df.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws_tokens").alias("total_ws_tokens"),
        F.sum("word_tokens").alias("total_word_tokens"),
    )


TOKEN_COUNTS_SQL = """
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS total_ws_tokens,
       CAST(SUM(len(regexp_extract_all(text, '[a-z]+'))) AS BIGINT) AS total_word_tokens
FROM documents GROUP BY source
"""


def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by content hash."""
    _prep(spark)
    return dedup.exact_dedup_groups(read_table(spark, sf_dir, "documents"), "doc_id")


EXACT_DEDUP_SQL = """
SELECT md5(text) AS fingerprint, COUNT(*) AS n_copies, MIN(doc_id) AS keep_id
FROM documents GROUP BY md5(text) HAVING COUNT(*) > 1
"""


def fingerprint_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized fingerprint uniqueness per source."""
    _prep(spark)
    df = text.with_fingerprint(read_table(spark, sf_dir, "documents"))
    return df.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("fingerprint").alias("n_unique"),
    )


FINGERPRINT_SQL = """
SELECT source, COUNT(*) AS n_docs,
       COUNT(DISTINCT md5(trim(regexp_replace(
         regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))))
       AS n_unique
FROM documents GROUP BY source
"""


def lang_stopword_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic signal: English stopword presence by the
    labelled language."""
    _prep(spark)
    df = read_table(spark, sf_dir, "documents")
    words = F.split(F.trim(F.col("text")), " ")
    return (
        df.withColumn("has_the", F.array_contains(words, "the").cast("int"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("has_the").alias("n_docs_with_the"),
            F.sum(F.expr(f"CAST(n_chars AS {DEC})")).cast("double").alias("total_chars"),
        )
    )


LANG_PROFILE_SQL = f"""
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(CAST(list_contains(string_split(trim(text), ' '), 'the') AS BIGINT)) AS BIGINT)
         AS n_docs_with_the,
       CAST(SUM(CAST(n_chars AS {DEC})) AS DOUBLE) AS total_chars
FROM documents GROUP BY lang
"""


def ngram_jaccard_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by 3-gram Jaccard >= 0.2 (shingle-share candidates)."""
    _prep(spark)
    df = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    return dedup.ngram_jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=0.2, max_df=None
    )


NGRAM_JACCARD_SQL = """
WITH sets AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, len(string_split(trim(text), ' ')) - 1),
           i -> array_to_string(string_split(trim(text), ' ')[i:i+2], ' ')
         )) AS sh
  FROM documents
  WHERE len(string_split(trim(text), ' ')) >= 3
),
exploded AS (SELECT doc_id, unnest(sh) AS shingle FROM sets),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM exploded a JOIN exploded b USING (shingle)
  WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       len(list_intersect(sa.sh, sb.sh))
         / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
FROM cands
JOIN sets sa ON sa.doc_id = id_a
JOIN sets sb ON sb.doc_id = id_b
WHERE len(list_intersect(sa.sh, sb.sh))
        / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.2
"""


def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for query vectors vec_id < 20."""
    _prep(spark)
    df = read_table(spark, sf_dir, "embeddings", cpu_heavy=True)
    return similarity.cosine_topk(
        df, "vec_id", "embedding", query_filter="vec_id < 20", k=5
    )


EMB_TOPK_SQL = """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 20),
c AS (SELECT vec_id AS nbr_id, CAST(embedding AS DOUBLE[]) AS nv FROM embeddings),
scored AS (
  SELECT query_id, nbr_id,
         round(list_dot_product(qv, nv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(nv, nv))),
               6) AS cosine
  FROM q JOIN c ON nbr_id <> query_id
)
SELECT query_id, nbr_id, cosine,
       CAST(rank AS INTEGER) AS rank
FROM (
  SELECT query_id, nbr_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, nbr_id) AS rank
  FROM scored
) WHERE rank <= 5
"""


# ---- formerly rows-only; now differential-oracle-checked via portable
# hashing (md5 fold + seeded affine permutations) and inlined literals ----

def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32) + LSH(8 bands) near-dup pairs, Jaccard-verified.
    Portable hasher: DuckDB recomputes identical signatures."""
    _prep(spark)
    df = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    return dedup.minhash_dedup_pairs(
        df, "doc_id", "text", n=3, num_perm=32, bands=8, threshold=0.2,
        hasher="portable", seed=42,
    )


def simhash_near_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates (hamming <= 10; 60-bit portable
    variant with 15-bit band blocking)."""
    _prep(spark)
    df = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    return dedup.simhash_near_pairs(
        df, "doc_id", "text", max_hamming=10, hasher="portable"
    )


def lsh_ann_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via random-hyperplane LSH buckets. Planes are
    seeded literals — the oracle inlines the same floats."""
    _prep(spark)
    df = read_table(spark, sf_dir, "embeddings", cpu_heavy=True)
    return similarity.lsh_ann_topk(df, "vec_id", "embedding", k=5, num_planes=8)


def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via banded SRP-LSH. The
    synthetic corpus has no planted duplicates (max pairwise cosine
    ~0.48), so the workload threshold is 0.4 — "near neighbours" —
    which exercises the identical banding/candidate/verify pipeline;
    planted-dup recall at 0.95 is pinned in pytest."""
    _prep(spark)
    df = read_table(spark, sf_dir, "embeddings", cpu_heavy=True)
    return similarity.embedding_neardup_pairs(
        df, "vec_id", "embedding", threshold=0.4, bands=8, planes_per_band=6
    )


def language_guesses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language guess distribution (heuristic op)."""
    _prep(spark)
    df = text.with_language_guess(read_table(spark, sf_dir, "documents"))
    return df.groupBy("lang", "lang_guess").agg(F.count(F.lit(1)).alias("n_docs"))


def _minhash_sig_ctes(n: int, num_perm: int, bands: int, seed: int) -> str:
    """Shared DuckDB CTE chain replicating the portable MinHash
    pipeline (sets -> shingle bases -> signatures -> band keys ->
    candidate pairs) — same seeded affine constants and band keys as
    the Spark side; reused by the one-shot and incremental oracles."""
    P = dedup.MINHASH_PRIME
    consts = dedup.minhash_perm_constants(num_perm, seed)
    rows_per_band = num_perm // bands
    sig_cols = ",\n         ".join(
        f"MIN(({a} * bx + {b}) % {P}) AS h{i}" for i, (a, b) in enumerate(consts)
    )
    band_selects = "\n  UNION ALL\n  ".join(
        "SELECT doc_id, {b} AS band, concat_ws(',', {cols}) AS bh FROM sig".format(
            b=b,
            cols=", ".join(f"h{b * rows_per_band + r}" for r in range(rows_per_band)),
        )
        for b in range(bands)
    )
    return f"""
WITH sets AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, len(string_split(trim(text), ' ')) - {n - 2}),
           i -> array_to_string(string_split(trim(text), ' ')[i:i+{n - 1}], ' ')
         )) AS sh
  FROM documents
  WHERE len(string_split(trim(text), ' ')) >= {n}
),
ex AS (SELECT doc_id, unnest(sh) AS shingle FROM sets),
bases AS (
  SELECT doc_id,
         CAST(concat('0x', substring(md5(shingle), 1, 15)) AS BIGINT) % {P} AS bx
  FROM ex
),
sig AS (
  SELECT doc_id,
         {sig_cols}
  FROM bases GROUP BY doc_id
),
bands AS (
  {band_selects}
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b USING (band, bh)
  WHERE a.doc_id < b.doc_id
)"""


def _minhash_oracle_sql(
    n: int = 3, num_perm: int = 32, bands: int = 8, threshold: float = 0.2,
    seed: int = 42,
) -> str:
    """DuckDB replica of the portable MinHash-LSH pipeline — same seeded
    affine constants, same band keys, same Jaccard verification."""
    return f"""
{_minhash_sig_ctes(n, num_perm, bands, seed)}
SELECT id_a, id_b,
       len(list_intersect(sa.sh, sb.sh))
         / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
FROM cands
JOIN sets sa ON sa.doc_id = id_a
JOIN sets sb ON sb.doc_id = id_b
WHERE len(list_intersect(sa.sh, sb.sh))
        / len(list_distinct(list_concat(sa.sh, sb.sh))) >= {threshold}
"""


def _simhash_oracle_sql(max_hamming: int = 10) -> str:
    """DuckDB replica of the 60-bit portable SimHash + 15-bit banding."""
    nbits, band_bits = 60, 15
    sum_cols = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(nbits)
    )
    bit_terms = "\n         + ".join(
        f"(CASE WHEN b{b} > 0 THEN (CAST(1 AS BIGINT) << {b}) ELSE CAST(0 AS BIGINT) END)"
        for b in range(nbits)
    )
    return f"""
WITH words AS (
  SELECT doc_id, unnest(list_distinct(string_split(trim(text), ' '))) AS w
  FROM documents
),
wh AS (
  SELECT doc_id, CAST(concat('0x', substring(md5(w), 1, 15)) AS BIGINT) AS h
  FROM words
),
sums AS (
  SELECT doc_id,
         {sum_cols}
  FROM wh GROUP BY doc_id
),
sh AS (
  SELECT doc_id,
         {bit_terms} AS simhash
  FROM sums
),
bands AS (
  SELECT doc_id, simhash, t.band,
         (simhash >> ({band_bits} * t.band)) & {(1 << band_bits) - 1} AS bh
  FROM sh, (SELECT unnest([0, 1, 2, 3]) AS band) t
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM bands a JOIN bands b USING (band, bh)
WHERE a.doc_id < b.doc_id
  AND bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


def _lsh_ann_oracle_sql(k: int = 5, num_planes: int = 8, dim: int = 64,
                        seed: int = 42, nprobe: int = 1) -> str:
    """DuckDB replica of the SRP-LSH ANN: identical seeded plane
    literals, identical in-order double dot products. ``nprobe > 1``
    replays the query-directed multi-probe set (original bucket +
    the nprobe-1 single-plane flips with smallest |margin|, ties to
    the lower plane index — similarity.lsh_probe_buckets)."""
    import numpy as np

    planes = np.random.default_rng(seed).standard_normal((num_planes, dim))
    bucket_terms = "\n       + ".join(
        "(CASE WHEN list_dot_product(vec, [{vals}]) > 0 THEN {w} ELSE 0 END)".format(
            vals=", ".join(repr(float(x)) for x in planes[i]), w=1 << i
        )
        for i in range(num_planes)
    )
    if nprobe <= 1:
        pair_ctes = """
pairs AS (
  SELECT a.id AS query_id, bb.id AS nbr_id, a.vec AS qv, bb.vec AS nv
  FROM b a JOIN b bb USING (bucket)
  WHERE a.id <> bb.id
),"""
    else:
        margin_structs = ", ".join(
            "struct_pack(i := {i}, d := list_dot_product(vec, [{vals}]))".format(
                i=i, vals=", ".join(repr(float(x)) for x in planes[i])
            )
            for i in range(num_planes)
        )
        pair_ctes = f"""
m AS (
  SELECT id, unnest([{margin_structs}]) AS md FROM v
),
flips AS (
  SELECT m.id, xor(b.bucket, CAST(1 AS BIGINT) << md.i) AS bucket
  FROM (SELECT id, md,
               row_number() OVER (PARTITION BY id
                                  ORDER BY abs(md.d), md.i) AS rnk
        FROM m) m JOIN b USING (id)
  WHERE m.rnk <= {nprobe - 1}
),
probes AS (
  SELECT id, bucket FROM b
  UNION ALL
  SELECT id, bucket FROM flips
),
pairs AS (
  SELECT p.id AS query_id, bb.id AS nbr_id, qv.vec AS qv, bb.vec AS nv
  FROM probes p
  JOIN b bb USING (bucket)
  JOIN v qv ON qv.id = p.id
  WHERE p.id <> bb.id
),"""
    return f"""
WITH v AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
),
b AS (
  SELECT id, vec,
       {bucket_terms} AS bucket
  FROM v
),{pair_ctes}
scored AS (
  SELECT query_id, nbr_id,
         round(list_dot_product(qv, nv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(nv, nv))),
               6) AS cosine
  FROM pairs
)
SELECT query_id, nbr_id, cosine, CAST(rank AS INTEGER) AS rank
FROM (
  SELECT query_id, nbr_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, nbr_id) AS rank
  FROM scored
) WHERE rank <= {k}
"""


def _neardup_oracle_sql(
    threshold: float = 0.4, bands: int = 8, planes_per_band: int = 6,
    dim: int = 64, seed: int = 42,
) -> str:
    """DuckDB replica of the banded-SRP near-dup pipeline: identical
    seeded plane literals, band i = plane rows [i*r, (i+1)*r)."""
    import numpy as np

    planes = np.random.default_rng(seed).standard_normal(
        (bands * planes_per_band, dim)
    )

    def band_expr(b: int) -> str:
        return "\n       + ".join(
            "(CASE WHEN list_dot_product(vec, [{vals}]) > 0 THEN {w} ELSE 0 END)".format(
                vals=", ".join(
                    repr(float(x)) for x in planes[b * planes_per_band + j]
                ),
                w=1 << j,
            )
            for j in range(planes_per_band)
        )

    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT id, {b} AS band, {band_expr(b)} AS bucket FROM v"
        for b in range(bands)
    )
    return f"""
WITH v AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
),
bk AS (
{band_selects}
),
cand AS (
  SELECT DISTINCT a.id AS id_a, bb.id AS id_b
  FROM bk a JOIN bk bb USING (band, bucket)
  WHERE a.id < bb.id
)
SELECT id_a, id_b,
       round(list_dot_product(va.vec, vb.vec)
             / (sqrt(list_dot_product(va.vec, va.vec))
                * sqrt(list_dot_product(vb.vec, vb.vec))), 6) AS cosine
FROM cand
JOIN v va ON va.id = id_a
JOIN v vb ON vb.id = id_b
WHERE round(list_dot_product(va.vec, vb.vec)
            / (sqrt(list_dot_product(va.vec, va.vec))
               * sqrt(list_dot_product(vb.vec, vb.vec))), 6) >= {threshold}
"""


_STOP_LISTS = {
    lang: ", ".join(f"'{w}'" for w in stops)
    for lang, stops in text.STOPWORD_PROFILES.items()
}
_GREATEST = "greatest(h_en, h_fr, h_es, h_de)"
LANGUAGE_GUESS_SQL = f"""
WITH h AS (
  SELECT lang,
    len(list_filter(string_split(trim(lower(text)), ' '), x -> x IN ({_STOP_LISTS['en']}))) AS h_en,
    len(list_filter(string_split(trim(lower(text)), ' '), x -> x IN ({_STOP_LISTS['fr']}))) AS h_fr,
    len(list_filter(string_split(trim(lower(text)), ' '), x -> x IN ({_STOP_LISTS['es']}))) AS h_es,
    len(list_filter(string_split(trim(lower(text)), ' '), x -> x IN ({_STOP_LISTS['de']}))) AS h_de
  FROM documents
),
g AS (
  SELECT lang,
         CASE WHEN {_GREATEST} = 0 THEN 'und'
              WHEN h_en = {_GREATEST} THEN 'en'
              WHEN h_fr = {_GREATEST} THEN 'fr'
              WHEN h_es = {_GREATEST} THEN 'es'
              ELSE 'de' END AS lang_guess
  FROM h
)
SELECT lang, lang_guess, COUNT(*) AS n_docs FROM g GROUP BY 1, 2
"""


def repetition_signals_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText-style repetition quality signals per doc:
    duplicate-sentence fractions + top-2-gram char fraction (the corpus
    is single-line, so sentences stand in for lines)."""
    _prep(spark)
    df = text.repetition_signals(
        read_table(spark, sf_dir, "documents", cpu_heavy=True),
        ngram=2, line_delim=r"\. ",
    )
    return df.select(
        "doc_id", "dup_line_fraction", "dup_line_char_fraction",
        "top_ngram_char_fraction",
    )


REPETITION_SQL = """
WITH lines AS (
  SELECT doc_id, unnest(string_split(text, '. ')) AS line FROM documents
),
per_line AS (
  SELECT doc_id, line, COUNT(*) AS cnt, length(line) AS line_chars
  FROM lines GROUP BY doc_id, line
),
line_stats AS (
  SELECT doc_id,
    SUM(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) / SUM(cnt)
      AS dup_line_fraction,
    SUM(CASE WHEN cnt >= 2 THEN cnt * line_chars ELSE 0 END)
      / GREATEST(SUM(cnt * line_chars), 1) AS dup_line_char_fraction
  FROM per_line GROUP BY doc_id
),
w AS (
  SELECT doc_id, length(text) AS doc_chars,
         string_split(trim(text), ' ') AS ws
  FROM documents
),
grams AS (
  SELECT doc_id, doc_chars,
         unnest(CASE WHEN len(ws) >= 2 THEN list_transform(
           generate_series(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i + 1])
           ELSE [] END) AS gram
  FROM w
),
gram_counts AS (
  SELECT doc_id, doc_chars, gram, COUNT(*) AS cnt
  FROM grams GROUP BY doc_id, doc_chars, gram
),
top_gram AS (
  SELECT doc_id,
    MAX(cnt * length(gram)) / GREATEST(ANY_VALUE(doc_chars), 1)
      AS top_ngram_char_fraction
  FROM gram_counts GROUP BY doc_id
)
SELECT d.doc_id,
  CAST(COALESCE(ls.dup_line_fraction, 0.0) AS DOUBLE) AS dup_line_fraction,
  CAST(COALESCE(ls.dup_line_char_fraction, 0.0) AS DOUBLE) AS dup_line_char_fraction,
  CAST(COALESCE(tg.top_ngram_char_fraction, 0.0) AS DOUBLE) AS top_ngram_char_fraction
FROM documents d
LEFT JOIN line_stats ls USING (doc_id)
LEFT JOIN top_gram tg USING (doc_id)
"""


def decontamination_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3-style n-gram overlap): docs
    with doc_id %% 50 == 0 play the eval set; flag corpus docs sharing
    >= 2 distinct word 3-grams with any of them. Real pipelines use
    n = 8-13; the small synthetic corpus needs n = 3 for non-trivial
    overlap volume. Benchmark grams broadcast; corpus never shuffles."""
    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    corpus = docs.filter("doc_id % 50 <> 0")
    bench = docs.filter("doc_id % 50 = 0").select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return curation.contamination_hits(
        corpus, bench, n=3, min_hits=2
    ).orderBy("doc_id", "bench_id")


DECONTAMINATION_SQL = """
WITH corpus AS (
  SELECT doc_id, string_split(trim(text), ' ') AS ws
  FROM documents WHERE doc_id % 50 <> 0
),
bench AS (
  SELECT doc_id AS bench_id, string_split(trim(text), ' ') AS ws
  FROM documents WHERE doc_id % 50 = 0
),
cg AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
    generate_series(1, len(ws) - 2),
    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS gram
  FROM corpus WHERE len(ws) >= 3
),
bg AS (
  SELECT bench_id, unnest(list_distinct(list_transform(
    generate_series(1, len(ws) - 2),
    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS gram
  FROM bench WHERE len(ws) >= 3
)
SELECT doc_id, bench_id, COUNT(*) AS shared_grams
FROM cg JOIN bg USING (gram)
GROUP BY doc_id, bench_id
HAVING COUNT(*) >= 2
ORDER BY doc_id, bench_id
"""


def decontamination_bloom_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered decontamination (r6): the SAME hits as
    decontamination_hits, hash-checked against the SAME oracle — the
    pure-SQL Bloom filter (bitmap_construct_agg, ~2 bytes/gram, no
    false negatives) cuts the corpus gram stream to true hits plus
    ~0.5% false positives map-side, and the exact gram join removes
    the FPs. The scale path for benchmark suites whose gram set
    strains a broadcast hash relation."""
    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    corpus = docs.filter("doc_id % 50 <> 0")
    bench = docs.filter("doc_id % 50 = 0").select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return curation.contamination_hits(
        corpus, bench, n=3, min_hits=2, prefilter="bloom"
    ).orderBy("doc_id", "bench_id")


def corpus_overlap_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus overlap profile under the FULL hash gate (r10 — VERDICT
    r9 task 2): distinct / union / intersection / Jaccard of the
    3-gram shingle sets between the even- and odd-doc_id halves, via
    the portable KMV sketch (llm/kmv.py). Unlike the r6 theta-sketch
    version (curation.corpus_overlap, kept with its error-bound
    pytests), the KMV state is a pure function of the value set, so
    DuckDB rebuilds sketch AND estimates bit-identically — the former
    rows-only waiver is gone. At sf0.01 the shingle universe (~16k)
    exceeds margin*k, so the driver check exercises the HLL-thresholded
    map-side prefilter, not just the exact path."""
    _prep(spark)
    from odibi_spark.llm.dedup import word_shingles
    from odibi_spark.llm.kmv import kmv_overlap

    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    from odibi_spark.llm.dedup import explode_nonempty

    sh = explode_nonempty(
        word_shingles(docs, "doc_id", "text", n=3), "shingles", "sh", "id"
    )
    return kmv_overlap(
        sh.filter("id % 2 = 0"),
        sh.filter("id % 2 = 1"),
        col="sh", k=256, label_a="even_docs", label_b="odd_docs",
    )


_KMV_EST = (
    "CASE WHEN {kept} < {k} THEN CAST({kept} AS DOUBLE) "
    "ELSE (CAST({k} - 1 AS DOUBLE) * 1152921504606846976) "
    "/ CAST({kth} AS DOUBLE) END"
)

CORPUS_OVERLAP_SQL = f"""
WITH sets AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, len(string_split(trim(text), ' ')) - 1),
           i -> array_to_string(string_split(trim(text), ' ')[i:i+2], ' ')
         )) AS sh
  FROM documents
  WHERE len(string_split(trim(text), ' ')) >= 3
),
ex AS (SELECT doc_id, unnest(sh) AS s FROM sets),
h AS (
  SELECT CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT) AS h,
         MAX(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS a,
         MAX(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS b
  FROM ex GROUP BY 1
),
su AS (SELECT h, a, b FROM h ORDER BY h LIMIT 256),
sa AS (SELECT h FROM h WHERE a = 1 ORDER BY h LIMIT 256),
sb AS (SELECT h FROM h WHERE b = 1 ORDER BY h LIMIT 256),
au AS (SELECT COUNT(*) AS ku, MAX(h) AS hu, SUM(a * b) AS m FROM su),
aa AS (SELECT COUNT(*) AS ka, MAX(h) AS ha FROM sa),
ab AS (SELECT COUNT(*) AS kb, MAX(h) AS hb FROM sb)
SELECT 'even_docs' AS corpus_a, 'odd_docs' AS corpus_b,
  {_KMV_EST.format(kept='ka', kth='ha', k=256)} AS distinct_a,
  {_KMV_EST.format(kept='kb', kth='hb', k=256)} AS distinct_b,
  {_KMV_EST.format(kept='ku', kth='hu', k=256)} AS union_est,
  LEAST(LEAST({_KMV_EST.format(kept='ka', kth='ha', k=256)},
              {_KMV_EST.format(kept='kb', kth='hb', k=256)}),
        (CAST(m AS DOUBLE) / CAST(ku AS DOUBLE))
          * {_KMV_EST.format(kept='ku', kth='hu', k=256)})
    AS intersection_est,
  CAST(m AS DOUBLE) / CAST(ku AS DOUBLE) AS jaccard_est
FROM au, aa, ab
"""


def token_budget_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token budgeting: keep the largest docs per source
    while the running n_chars total stays within 5000 (first doc
    always kept). Deterministic total order (n_chars DESC, doc_id)."""
    _prep(spark)
    docs = read_table(spark, sf_dir, "documents")
    return curation.token_budget_sample(
        docs, 5000,
        group_col="source", token_col="n_chars",
        order_col="n_chars", id_col="doc_id",
    ).select("doc_id", "source", "n_chars")


TOKEN_BUDGET_SQL = """
WITH c AS (
  SELECT doc_id, source, n_chars,
         SUM(n_chars) OVER (
           PARTITION BY source ORDER BY n_chars DESC, doc_id
         ) AS cum
  FROM documents
)
SELECT doc_id, source, n_chars
FROM c WHERE cum <= 5000 OR cum - n_chars = 0
"""


def stratified_sample_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling by language: portable
    md5-folded hash of (seed, doc_id) against per-lang fractions —
    identical selection in any engine / partitioning."""
    _prep(spark)
    docs = read_table(spark, sf_dir, "documents")
    return curation.stratified_hash_sample(
        docs, {"en": 0.5, "fr": 0.25, "de": 0.25},
        strata_col="lang", key_col="doc_id", seed=42,
    ).select("doc_id", "lang")


STRATIFIED_SAMPLE_SQL = """
WITH h AS (
  SELECT doc_id, lang,
         CAST(concat('0x', substring(
           md5(concat('42:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
           / 1152921504606846976.0 AS u
  FROM documents
)
SELECT doc_id, lang FROM h
WHERE u < CASE lang WHEN 'en' THEN 0.5 WHEN 'fr' THEN 0.25
                    WHEN 'de' THEN 0.25 ELSE 0.0 END
"""


def sample_k_docs_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exact-k per-group sampling (the fixed-COUNT
    complement to the stratified fixed-fraction sampler): 20 docs per
    language, ranked by the portable hash unit with doc_id tiebreak —
    identical selection in any engine / partitioning. One hash shuffle
    on lang; see curation.sample_k_per_group scale note."""
    _prep(spark)
    docs = read_table(spark, sf_dir, "documents")
    return curation.sample_k_per_group(
        docs, 20, group_col="lang", key_col="doc_id", seed=42,
    ).select("doc_id", "lang")


SAMPLE_K_SQL = """
WITH h AS (
  SELECT doc_id, lang,
         CAST(concat('0x', substring(
           md5(concat('42:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
           AS hv
  FROM documents
),
r AS (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rn
  FROM h
)
SELECT doc_id, lang FROM r WHERE rn <= 20
"""


def pps_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-weighted PPS sampling: P(keep) = min(1, rate * n_chars) on
    the portable hash unit, so long documents are proportionally more
    likely to be sampled — the curation move for 'sample by token
    mass, not by document count'. Inclusion probability is returned
    (Horvitz-Thompson reweighting column); exactly portable because
    both engines compare the same hash unit to the same single-multiply
    probability."""
    _prep(spark)
    docs = read_table(spark, sf_dir, "documents")
    return curation.pps_sample(
        docs, 0.00025, weight_col="n_chars", key_col="doc_id", seed=42,
        prob_col="p_incl",
    ).select("doc_id", "n_chars", "p_incl")


PPS_SAMPLE_SQL = """
WITH h AS (
  SELECT doc_id, n_chars,
         CAST(concat('0x', substring(
           md5(concat('42:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
           / 1152921504606846976.0 AS u,
         least(1.0, 0.00025 * CAST(n_chars AS DOUBLE)) AS p_incl
  FROM documents
)
SELECT doc_id, n_chars, p_incl FROM h WHERE u < p_incl
"""


def split_documents_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split: disjoint assignment from
    the portable hash unit bucketed by cumulative fractions
    (0.875/0.0625/0.0625 — exact binary fractions, so the float
    boundaries reproduce bit-identically in the oracle). Membership is
    a pure function of (doc_id, seed): stable under corpus growth."""
    _prep(spark)
    docs = read_table(spark, sf_dir, "documents")
    return curation.split_dataset(
        docs,
        splits={"train": 0.875, "val": 0.0625, "test": 0.0625},
        key_col="doc_id",
        seed=42,
    ).select("doc_id", "split")


SPLIT_SETS_SQL = """
WITH h AS (
  SELECT doc_id,
         CAST(concat('0x', substring(
           md5(concat('42:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
           / 1152921504606846976.0 AS u
  FROM documents
)
SELECT doc_id,
       CASE WHEN u < 0.875 THEN 'train'
            WHEN u < 0.9375 THEN 'val'
            ELSE 'test' END AS split
FROM h
"""


def mixture_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end mixture weighting: target weights + a global token
    budget -> per-language sampling fractions (one O(strata) aggregate,
    driver math) -> deterministic stratified hash sample. Weights are
    exact binary fractions (0.5/0.25/0.125) so the driver's float
    arithmetic reproduces bit-identically in the oracle's double math;
    'zh' carries no weight -> fraction 0."""
    _prep(spark)
    docs = read_table(spark, sf_dir, "documents")
    fractions = curation.mixture_fractions(
        docs, {"en": 0.5, "de": 0.25, "fr": 0.125, "es": 0.125},
        20_000, strata_col="lang", token_col="n_chars",
    )
    return curation.stratified_hash_sample(
        docs, fractions, strata_col="lang", key_col="doc_id", seed=42
    ).select("doc_id", "lang")


MIXTURE_SAMPLE_SQL = """
WITH tot AS (
  SELECT lang, CAST(SUM(n_chars) AS DOUBLE) AS have
  FROM documents GROUP BY lang
),
fr AS (
  SELECT lang,
         LEAST(1.0, (20000.0 * CASE lang WHEN 'en' THEN 0.5
                                         WHEN 'de' THEN 0.25
                                         WHEN 'fr' THEN 0.125
                                         WHEN 'es' THEN 0.125
                                         ELSE 0.0 END) / have) AS f
  FROM tot
),
h AS (
  SELECT doc_id, lang,
         CAST(concat('0x', substring(
           md5(concat('42:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
           / 1152921504606846976.0 AS u
  FROM documents
)
SELECT h.doc_id, h.lang FROM h JOIN fr USING (lang) WHERE u < f
"""


def chunk_documents_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping word-window chunking (32-word chunks, 8-word
    overlap) — the LM-training chunker, map-side explode only."""
    _prep(spark)
    return chunking.chunk_documents(
        read_table(spark, sf_dir, "documents"),
        chunk_words=32, overlap=8,
    )


CHUNK_DOCS_SQL = """
WITH w AS (
  SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents
),
n AS (
  SELECT doc_id, ws,
         1 + CAST(ceil(greatest(len(ws) - 32, 0) / 24.0) AS INT) AS nc
  FROM w
),
c AS (
  SELECT doc_id, unnest(generate_series(0, nc - 1)) AS chunk_idx, ws FROM n
)
SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
       array_to_string(ws[chunk_idx * 24 + 1 : chunk_idx * 24 + 32], ' ')
         AS chunk_text,
       CAST(len(ws[chunk_idx * 24 + 1 : chunk_idx * 24 + 32]) AS INTEGER)
         AS chunk_n_words
FROM c
"""


def pack_sequences_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split packing of the doc stream (doc_id order) into
    2048-token context windows, n_chars as the token proxy."""
    _prep(spark)
    # project BEFORE packing: the two-pass cumsum range-shuffles and
    # checkpoints its input, so carrying the text column through it
    # would materialize the whole corpus body for a 2-long-column
    # answer (measured 13x slower at sf0.1)
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return chunking.pack_sequences(
        docs, 2048,
        token_col="n_chars", order_col="doc_id", id_col="doc_id",
    ).select("doc_id", "pack_id", "pack_offset", "n_packs_spanned")


PACK_SEQUENCES_SQL = """
WITH c AS (
  SELECT doc_id, n_chars,
         SUM(n_chars) OVER (ORDER BY doc_id, doc_id) - n_chars AS cb
  FROM documents
)
SELECT doc_id, CAST(cb // 2048 AS BIGINT) AS pack_id,
       CAST(cb % 2048 AS BIGINT) AS pack_offset,
       CAST(((cb + n_chars - 1) // 2048) - (cb // 2048) + 1 AS BIGINT)
         AS n_packs_spanned
FROM c
"""


def scrub_pii_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing rollup per source (the clean corpus yields zero
    hits — the workload pins the full replace+count chain end-to-end;
    crafted-PII unit tests pin the redaction text itself)."""
    _prep(spark)
    df = text.scrub_pii(read_table(spark, sf_dir, "documents", cpu_heavy=True))
    return df.groupBy("source").agg(
        F.sum("pii_hits").alias("total_pii_hits"),
        F.count(F.lit(1)).alias("n_docs"),
    )


SCRUB_PII_SQL = r"""
WITH s1 AS (
  SELECT source,
         len(regexp_extract_all(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS h1,
         regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
  FROM documents
),
s2 AS (
  SELECT source, h1,
         len(regexp_extract_all(t1,
           '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS h2,
         regexp_replace(t1,
           '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') AS t2
  FROM s1
),
s3 AS (
  SELECT source,
         h1 + h2 + len(regexp_extract_all(t2,
           '\+?[0-9][0-9()\-. ]{7,}[0-9]')) AS hits
  FROM s2
)
SELECT source, CAST(SUM(hits) AS BIGINT) AS total_pii_hits,
       COUNT(*) AS n_docs
FROM s3 GROUP BY source
"""


def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: connected components (iterative
    min-label propagation) over the 3-gram Jaccard near-dup pairs —
    A~B and B~C collapse into one cluster even though A~C was never
    emitted. Oracle: recursive-CTE transitive closure on the same
    pairs."""
    _prep(spark)
    df = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    pairs = dedup.ngram_jaccard_pairs(
        df, "doc_id", "text", n=3, threshold=0.2, max_df=None
    )
    return dedup.connected_components(pairs)


NEARDUP_CLUSTERS_SQL = """
WITH RECURSIVE pairs AS (
""" + NGRAM_JACCARD_SQL + """
),
und AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach AS (
  SELECT a, b FROM und
  UNION
  SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a
)
SELECT a AS id, LEAST(a, MIN(b)) AS cluster_id FROM reach GROUP BY a
"""


def dedup_incremental_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HWM-driven incremental near-dup detection, replayed over TWO
    ingestion batches (split at the corpus midpoint), against a
    ONE-SHOT oracle: the hash match proves batch-incremental execution
    equals a full-corpus pass. Batch 2 reaches the dedup through the
    stateful HWM filter (doc_id > committed mark), and its candidates
    join the append-only signature store written by batch 1 — the
    daily-run shape of a 100-TB curation pipeline, where only the
    delta ever shuffles."""
    import os
    import tempfile

    from odibi_spark.llm.incremental import SignatureStore, run_incremental_dedup
    from odibi_spark.state.hwm import JsonStateBackend

    _prep(spark)
    df = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    tmp = tempfile.mkdtemp(prefix="incr_dedup_")
    store = SignatureStore(spark, os.path.join(tmp, "sigs"))
    state = JsonStateBackend(os.path.join(tmp, "state.json"))
    mid = df.agg(F.max("doc_id")).collect()[0][0] // 2
    kw = dict(
        id_col="doc_id", text_col="text", n=3, num_perm=32, bands=8,
        threshold=0.2, hasher="portable", seed=42,
    )
    b1 = run_incremental_dedup(
        df.filter(F.col("doc_id") <= mid), store, state, batch_id="b1", **kw
    )
    b2 = run_incremental_dedup(df, store, state, batch_id="b2", **kw)
    return b1.unionByName(b2).select("doc_id", "is_dup")


def _incr_dedup_oracle_sql(
    n: int = 3, num_perm: int = 32, bands: int = 8, threshold: float = 0.2,
    seed: int = 42,
) -> str:
    """ONE-SHOT DuckDB replica of the incremental drop rule: a doc is
    a dup iff some banded candidate with a smaller doc_id agrees on
    >= threshold of the signature rows (the MinHash Jaccard
    estimator). Equality with the two-batch Spark run is the point."""
    agree = " + ".join(
        f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)"
        for i in range(num_perm)
    )
    return f"""
{_minhash_sig_ctes(n, num_perm, bands, seed)},
dups AS (
  SELECT DISTINCT id_b
  FROM cands
  JOIN sig sa ON sa.doc_id = id_a
  JOIN sig sb ON sb.doc_id = id_b
  WHERE ({agree}) / {num_perm}.0 >= {threshold}
)
SELECT d.doc_id, (dup.id_b IS NOT NULL) AS is_dup
FROM documents d LEFT JOIN dups dup ON d.doc_id = dup.id_b
"""


def percentiles_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per source (Spark `percentile` ==
    DuckDB `quantile_cont`: same linear-interpolation definition, so
    doubles hash-match). At 100 TB swap for approx_percentile with an
    accuracy budget; exact needs a per-group sort."""
    _prep(spark)
    df = read_table(spark, sf_dir, "documents")
    return df.groupBy("source").agg(
        F.expr("percentile(n_chars, 0.5)").alias("p50_chars"),
        F.expr("percentile(n_chars, 0.9)").alias("p90_chars"),
        F.expr("percentile(n_chars, 0.99)").alias("p99_chars"),
        F.count(F.lit(1)).alias("n_docs"),
    )


PERCENTILES_SQL = """
SELECT source,
       quantile_cont(n_chars, 0.5) AS p50_chars,
       quantile_cont(n_chars, 0.9) AS p90_chars,
       quantile_cont(n_chars, 0.99) AS p99_chars,
       COUNT(*) AS n_docs
FROM documents GROUP BY source
"""


def approx_percentiles_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100-TB twin of percentiles_by_source: approx_percentile
    (Greenwald-Khanna sketch, mergeable, no per-group sort) with
    accuracy=10000 — rank error <= n/accuracy. Below ~accuracy rows
    per group the sketch is lossless and returns the exact discrete
    percentile, which is what DuckDB's quantile_disc computes — so
    this workload is hash-checked; the genuinely-lossy regime's error
    bound is pinned in pytest (test_approx_bounds)."""
    _prep(spark)
    df = read_table(spark, sf_dir, "documents")
    return (
        df.groupBy("source")
        .agg(
            F.expr(
                "approx_percentile(n_chars, array(0.5, 0.9, 0.99), 10000)"
            ).alias("p"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .select(
            "source",
            F.col("p")[0].alias("ap50_chars"),
            F.col("p")[1].alias("ap90_chars"),
            F.col("p")[2].alias("ap99_chars"),
            "n_docs",
        )
    )


APPROX_PERCENTILES_SQL = """
SELECT source,
       quantile_disc(n_chars, 0.5) AS ap50_chars,
       quantile_disc(n_chars, 0.9) AS ap90_chars,
       quantile_disc(n_chars, 0.99) AS ap99_chars,
       COUNT(*) AS n_docs
FROM documents GROUP BY source
"""


def approx_distinct_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint-uniqueness profile per source via the portable KMV
    distinct sketch (llm/kmv.py, k=16 so the (k-1)*2^60/h_k estimator
    path — not just the exact-below-k path — is exercised at every SF):
    the scale answer to "how many unique documents does each source
    contribute" with a bounded exchange (HLL-thresholded prefilter
    keeps O(groups*margin*k) rows). Upgraded r10 from HyperLogLog++
    (VERDICT r9 task 2): KMV is a pure function of the value set, so
    the estimate itself is now under the cross-engine hash gate — the
    former rows-only waiver is gone."""
    _prep(spark)
    from odibi_spark.llm.kmv import kmv_distinct_by

    df = read_table(spark, sf_dir, "documents")
    counts = df.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    est = kmv_distinct_by(
        df, "source", "text", k=16, out_col="approx_unique_docs"
    )
    return est.join(counts, "source")


APPROX_DISTINCT_SQL = f"""
WITH h AS (
  SELECT DISTINCT source,
         CAST(concat('0x', substring(md5(text), 1, 15)) AS BIGINT) AS h
  FROM documents
), r AS (
  SELECT source, h,
         row_number() OVER (PARTITION BY source ORDER BY h) AS rn
  FROM h
), s AS (
  SELECT source,
         {_KMV_EST.format(kept='COUNT(*)',
                          kth='MAX(CASE WHEN rn = 16 THEN h END)',
                          k=16)} AS approx_unique_docs
  FROM r WHERE rn <= 16 GROUP BY source
)
SELECT s.source, s.approx_unique_docs, n.n_docs
FROM s JOIN (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
) n USING (source)
"""


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 terms per source by summed TF-IDF (idf = ln((1+N)/(1+df)),
    rounded before ranking so 1-ulp ln() differences cannot flip
    ranks). Two groupBys + one window; doc-frequency side is
    O(vocabulary), joined by term."""
    _prep(spark)
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents")
    n_docs = docs.count()  # O(1) driver scalar, reused as a literal
    words = docs.select(
        "doc_id", "source",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), " ")).alias("term"),
    )
    docfreq = words.groupBy("term").agg(
        F.count_distinct("doc_id").alias("df_t")
    )
    tf = words.groupBy("source", "term").agg(F.count(F.lit(1)).alias("tf"))
    scored = tf.join(docfreq, "term").select(
        "source", "term",
        F.round(
            F.col("tf") * F.log((F.lit(1.0) + n_docs) / (F.lit(1.0) + F.col("df_t"))),
            6,
        ).alias("tfidf"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter("rank <= 5")
        .select("source", "term", "tfidf", "rank")
    )


TFIDF_SQL = """
WITH words AS (
  SELECT doc_id, source,
         unnest(string_split(trim(lower(text)), ' ')) AS term
  FROM documents
),
docfreq AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df_t FROM words GROUP BY term
),
tf AS (
  SELECT source, term, COUNT(*) AS tf FROM words GROUP BY source, term
),
scored AS (
  SELECT source, term,
         round(tf * ln((1.0 + (SELECT COUNT(*) FROM documents))
                       / (1.0 + df_t)), 6) AS tfidf
  FROM tf JOIN docfreq USING (term)
),
ranked AS (
  SELECT source, term, tfidf,
         ROW_NUMBER() OVER (
           PARTITION BY source ORDER BY tfidf DESC, term ASC
         ) AS rank
  FROM scored
)
SELECT source, term, tfidf, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 5
"""


def lm_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram-LM cross-entropy per document (the perplexity
    quality-filter shape with the corpus as its own model). min_count=2
    exercises the OOV fallback path: singleton tokens drop out of the
    vocabulary and take the unseen probability 1/(N+V)."""
    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    return text.ngram_lm_scores(
        docs, id_col="doc_id", text_col="text", min_count=2
    )


LM_QUALITY_SQL = f"""
WITH toks AS (
  SELECT doc_id, tok
  FROM (SELECT doc_id,
               unnest(string_split(trim(lower(text)), ' ')) AS tok
        FROM documents)
  WHERE tok <> ''
),
vocab AS (
  SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok HAVING COUNT(*) >= 2
),
tot AS (
  SELECT CAST(SUM(c) AS DOUBLE) AS n_total,
         CAST(COUNT(*) AS DOUBLE) AS v_size
  FROM vocab
),
scored AS (
  SELECT t.doc_id,
         round(-ln((COALESCE(vb.c, 0) + 1.0)
                   / (tot.n_total + tot.v_size)), 6) AS nll
  FROM toks t LEFT JOIN vocab vb USING (tok) CROSS JOIN tot
)
SELECT doc_id, COUNT(*) AS n_tokens,
       CAST(CAST(SUM(CAST(nll AS {DEC})) AS DOUBLE) / COUNT(*) AS DOUBLE)
         AS avg_nll
FROM scored GROUP BY doc_id
"""


def kmeans_clusters_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-Lloyd-step k-means over the embeddings table (lowest-id
    seeds, DECIMAL-exact centroid means so DuckDB replays the refine
    step bit-identically). Complements ivf_ann_neighbors, whose oracle
    stops at the seed centroids (iters=0)."""
    _prep(spark)
    emb = read_table(spark, sf_dir, "embeddings", cpu_heavy=True)
    return similarity.kmeans_clusters(
        emb, "vec_id", "embedding", k=8, iters=1, exact_mean=True
    )


KMEANS_SQL = """
WITH v AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
),
seeds0 AS (
  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INTEGER) AS cell,
         vec AS cvec
  FROM (SELECT id, vec FROM v ORDER BY id LIMIT 8)
),
seeds AS (  -- spherical: unit-normalized seeds
  SELECT cell,
         CASE WHEN sqrt(list_dot_product(cvec, cvec)) > 0
              THEN list_transform(
                     cvec, x -> x / sqrt(list_dot_product(cvec, cvec)))
              ELSE cvec END AS cvec
  FROM seeds0
),
a1 AS (  -- Lloyd step: assign to seeds (argmax dot, lowest cell wins)
  SELECT id, vec, cell FROM (
    SELECT v.id, v.vec, s.cell,
           row_number() OVER (
             PARTITION BY v.id
             ORDER BY list_dot_product(v.vec, s.cvec) DESC, s.cell
           ) AS rn
    FROM v CROSS JOIN seeds s
  ) WHERE rn = 1
),
dims AS (
  SELECT cell, generate_subscripts(vec, 1) AS pos, unnest(vec) AS x
  FROM a1
),
means AS (  -- DECIMAL-exact per-dimension mean, matching exact_mean=True
  SELECT cell, pos,
         CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS m
  FROM dims GROUP BY cell, pos
),
refined0 AS (
  SELECT cell, list(m ORDER BY pos) AS cvec FROM means GROUP BY cell
),
refined AS (  -- mean-then-normalize, the spherical k-means update
  SELECT cell,
         CASE WHEN sqrt(list_dot_product(cvec, cvec)) > 0
              THEN list_transform(
                     cvec, x -> x / sqrt(list_dot_product(cvec, cvec)))
              ELSE cvec END AS cvec
  FROM refined0
),
cents AS (  -- empty cells keep their (normalized) seed centroid
  SELECT s.cell, COALESCE(r.cvec, s.cvec) AS cvec
  FROM seeds s LEFT JOIN refined r USING (cell)
)
SELECT id AS vec_id, CAST(cell AS INTEGER) AS cluster, sim FROM (
  SELECT v.id, c.cell,
         round(list_dot_product(v.vec, c.cvec)
               / sqrt(list_dot_product(v.vec, v.vec)), 6) AS sim,
         row_number() OVER (
           PARTITION BY v.id
           ORDER BY list_dot_product(v.vec, c.cvec) DESC, c.cell
         ) AS rn
  FROM v CROSS JOIN cents c
) WHERE rn = 1
"""


def semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style cluster-then-prune dedup (similarity.semantic_dedup)
    over the embeddings table. iters=0 keeps the oracle at the seed-
    centroid assignment step (the ivf_ann_neighbors pattern); threshold
    0.35 fits the synthetic near-orthogonal embeddings (max within-
    cluster cosine ~0.49 — real corpora run ~0.95) so the dup path is
    actually exercised (~75/500 dropped at sf0.01)."""
    _prep(spark)
    emb = read_table(spark, sf_dir, "embeddings", cpu_heavy=True)
    return similarity.semantic_dedup(
        emb, "vec_id", "embedding", k=8, threshold=0.35, iters=0
    ).orderBy("vec_id")


SEMANTIC_DEDUP_SQL = """
WITH v AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
),
seeds0 AS (
  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INTEGER) AS cell,
         vec AS cvec
  FROM (SELECT id, vec FROM v ORDER BY id LIMIT 8)
),
seeds AS (  -- spherical: unit-normalized seeds
  SELECT cell,
         CASE WHEN sqrt(list_dot_product(cvec, cvec)) > 0
              THEN list_transform(
                     cvec, x -> x / sqrt(list_dot_product(cvec, cvec)))
              ELSE cvec END AS cvec
  FROM seeds0
),
a AS (  -- assignment: argmax dot, lowest cell wins ties
  SELECT id, vec, cell FROM (
    SELECT v.id, v.vec, s.cell,
           row_number() OVER (
             PARTITION BY v.id
             ORDER BY list_dot_product(v.vec, s.cvec) DESC, s.cell
           ) AS rn
    FROM v CROSS JOIN seeds s
  ) WHERE rn = 1
),
dom AS (  -- dominated-by-any-smaller-id within the cluster
  SELECT x.id, MIN(y.id) AS dup_of
  FROM a x JOIN a y ON x.cell = y.cell AND y.id < x.id
  WHERE round(list_dot_product(x.vec, y.vec)
              / (sqrt(list_dot_product(x.vec, x.vec))
                 * sqrt(list_dot_product(y.vec, y.vec))), 6) >= 0.35
  GROUP BY x.id
)
SELECT a.id AS vec_id, CAST(a.cell AS INTEGER) AS cluster,
       d.dup_of, (d.dup_of IS NULL) AS keep
FROM a LEFT JOIN dom d ON d.id = a.id
ORDER BY vec_id
"""


def neardup_decontamination_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy decontamination twin of decontamination_hits: MinHash-LSH
    across corpora catches lightly-edited eval leakage that exact
    n-gram overlap misses (curation.neardup_decontaminate_hits). Docs
    with doc_id % 5 == 0 play the eval set — a wide 20% split because
    the small synthetic corpus has few cross-split near-dups (14 hits
    at sf0.01; the 2% split used by the exact twin yields 1)."""
    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    corpus = docs.filter("doc_id % 5 <> 0")
    bench = docs.filter("doc_id % 5 = 0").select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return curation.neardup_decontaminate_hits(
        corpus, bench, n=3, num_perm=32, bands=8, threshold=0.2,
        hasher="portable",
    ).orderBy("doc_id", "bench_id")


def _neardup_decon_oracle_sql(
    n: int = 3, num_perm: int = 32, bands: int = 8, threshold: float = 0.2,
    seed: int = 42,
) -> str:
    """DuckDB replica of the cross-corpus MinHash decontamination —
    signatures over ALL docs with the shared portable constants
    (per-doc, so computing them unsplit is equivalent), candidates
    restricted to corpus x bench band collisions."""
    return f"""
{_minhash_sig_ctes(n, num_perm, bands, seed)},
xcands AS (
  SELECT DISTINCT a.doc_id AS did, b.doc_id AS bench_id
  FROM bands a JOIN bands b USING (band, bh)
  WHERE a.doc_id % 5 <> 0 AND b.doc_id % 5 = 0
)
SELECT did AS doc_id, bench_id,
       len(list_intersect(sa.sh, sb.sh))
         / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
FROM xcands
JOIN sets sa ON sa.doc_id = did
JOIN sets sb ON sb.doc_id = bench_id
WHERE len(list_intersect(sa.sh, sb.sh))
        / len(list_distinct(list_concat(sa.sh, sb.sh))) >= {threshold}
ORDER BY doc_id, bench_id
"""


def dsir_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (curation.importance_resample): docs
    with doc_id % 7 == 0 play the target-distribution sample; k=100 of
    the remaining source docs are selected by Gumbel top-k over the
    unigram-LM importance weights — selection is a pure function of
    (doc_id, seed), replayed exactly by the DuckDB oracle."""
    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    source = docs.filter("doc_id % 7 <> 0")
    target = docs.filter("doc_id % 7 = 0")
    return curation.importance_resample(source, target, k=100, seed=42)


DSIR_SAMPLE_SQL = """
WITH stoks AS (
  SELECT doc_id, unnest(string_split(trim(lower(text)), ' ')) AS tok
  FROM documents WHERE doc_id % 7 <> 0
),
ttoks AS (
  SELECT unnest(string_split(trim(lower(text)), ' ')) AS tok
  FROM documents WHERE doc_id % 7 = 0
),
sv AS (SELECT tok, COUNT(*) AS c FROM stoks WHERE tok <> '' GROUP BY tok),
st AS (SELECT SUM(c) AS n, COUNT(*) AS v FROM sv),
tv AS (SELECT tok, COUNT(*) AS c FROM ttoks WHERE tok <> '' GROUP BY tok),
tt AS (SELECT SUM(c) AS n, COUNT(*) AS v FROM tv),
scored AS (
  SELECT s.doc_id,
         round(ln((COALESCE(tv.c, 0) + 1.0) / (tt.n + tt.v))
               - ln((COALESCE(sv.c, 0) + 1.0) / (st.n + st.v)), 6) AS lr
  FROM stoks s
  LEFT JOIN tv USING (tok)
  LEFT JOIN sv USING (tok)
  CROSS JOIN tt CROSS JOIN st
  WHERE s.tok <> ''
),
perdoc AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         CAST(SUM(CAST(lr AS DECIMAL(18,6))) AS DOUBLE) AS logw
  FROM scored GROUP BY doc_id
),
keyed AS (
  SELECT doc_id, n_tokens, logw,
         round(logw / 1.0, 6)
         + round(-ln(-ln((CAST(concat('0x', substring(
               md5(concat('42:', CAST(doc_id AS VARCHAR))), 1, 15))
               AS BIGINT) + 0.5) / 1152921504606846976.0)), 6) AS gumbel_key
  FROM perdoc
)
SELECT doc_id, n_tokens, logw, gumbel_key
FROM keyed ORDER BY gumbel_key DESC, doc_id LIMIT 100
"""


def quantized_embedding_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar-quantization fidelity over the embeddings table
    (similarity.quantization_fidelity): per-vector cosine between the
    original and its reconstruction + max per-dimension error. The
    codes use floor(z + 0.5) so the quantization itself — not just the
    report — replays bit-identically in DuckDB."""
    _prep(spark)
    emb = read_table(spark, sf_dir, "embeddings", cpu_heavy=True)
    return similarity.quantization_fidelity(
        emb, "vec_id", "embedding"
    ).orderBy("vec_id")


QUANT_FIDELITY_SQL = """
WITH v AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
),
dims AS (
  SELECT generate_subscripts(vec, 1) AS pos, unnest(vec) AS x FROM v
),
p AS (SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM dims GROUP BY pos),
pl AS (
  SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs FROM p
),
q AS (
  SELECT id, vec,
         list_transform(range(1, len(vec) + 1), i ->
           CASE WHEN mxs[i] = mns[i] THEN 0
                ELSE greatest(0, least(255, CAST(floor(
                  (vec[i] - mns[i]) / (mxs[i] - mns[i]) * 255.0 + 0.5
                ) AS BIGINT)))
           END) AS qv
  FROM v CROSS JOIN pl
),
d AS (
  SELECT id, vec,
         list_transform(range(1, len(vec) + 1), i ->
           mns[i] + qv[i] * (mxs[i] - mns[i]) / 255.0) AS dv
  FROM q CROSS JOIN pl
)
SELECT id AS vec_id,
       round(list_dot_product(vec, dv)
             / (sqrt(list_dot_product(vec, vec))
                * sqrt(list_dot_product(dv, dv))), 6) AS recon_cosine,
       round(list_max(list_transform(range(1, len(vec) + 1),
             i -> abs(vec[i] - dv[i]))), 6) AS max_abs_err
FROM d ORDER BY vec_id
"""


QUERIES = {
    "semantic_dedup_embeddings": semantic_dedup_embeddings,
    "neardup_decontamination_hits": neardup_decontamination_hits,
    "dsir_sample_docs": dsir_sample_docs,
    "quantized_embedding_fidelity": quantized_embedding_fidelity,
    "lm_quality_docs": lm_quality_docs,
    "kmeans_clusters_embeddings": kmeans_clusters_embeddings,
    "text_quality": text_quality,
    "token_counts_by_source": token_counts_by_source,
    "exact_dedup_docs": exact_dedup_docs,
    "fingerprint_by_source": fingerprint_by_source,
    "lang_stopword_profile": lang_stopword_profile,
    "ngram_jaccard_docs": ngram_jaccard_docs,
    "embedding_cosine_topk": embedding_cosine_topk,
    "minhash_lsh_pairs": minhash_lsh_pairs,
    "simhash_near_docs": simhash_near_docs,
    "lsh_ann_neighbors": lsh_ann_neighbors,
    "embedding_neardup_pairs": embedding_neardup_pairs,
    "language_guesses": language_guesses,
    "repetition_signals_docs": repetition_signals_docs,
    "decontamination_hits": decontamination_hits,
    "decontamination_bloom_hits": decontamination_bloom_hits,
    "corpus_overlap_halves": corpus_overlap_halves,
    "token_budget_by_source": token_budget_by_source,
    "stratified_sample_langs": stratified_sample_langs,
    "sample_k_docs_per_lang": sample_k_docs_per_lang,
    "pps_sample_docs": pps_sample_docs,
    "split_documents_sets": split_documents_sets,
    "chunk_documents_docs": chunk_documents_docs,
    "pack_sequences_docs": pack_sequences_docs,
    "scrub_pii_docs": scrub_pii_docs,
    "neardup_clusters": neardup_clusters,
    "percentiles_by_source": percentiles_by_source,
    "tfidf_top_terms": tfidf_top_terms,
    "dedup_incremental_docs": dedup_incremental_docs,
    "approx_percentiles_by_source": approx_percentiles_by_source,
    "approx_distinct_fingerprints": approx_distinct_fingerprints,
    "mixture_weighted_sample": mixture_weighted_sample,
}

ORACLES = {
    "semantic_dedup_embeddings": SEMANTIC_DEDUP_SQL,
    "neardup_decontamination_hits": _neardup_decon_oracle_sql(),
    "dsir_sample_docs": DSIR_SAMPLE_SQL,
    "quantized_embedding_fidelity": QUANT_FIDELITY_SQL,
    "lm_quality_docs": LM_QUALITY_SQL,
    "kmeans_clusters_embeddings": KMEANS_SQL,
    "text_quality": TEXT_QUALITY_SQL,
    "token_counts_by_source": TOKEN_COUNTS_SQL,
    "exact_dedup_docs": EXACT_DEDUP_SQL,
    "fingerprint_by_source": FINGERPRINT_SQL,
    "lang_stopword_profile": LANG_PROFILE_SQL,
    "ngram_jaccard_docs": NGRAM_JACCARD_SQL,
    "embedding_cosine_topk": EMB_TOPK_SQL,
    "minhash_lsh_pairs": _minhash_oracle_sql(),
    "simhash_near_docs": _simhash_oracle_sql(),
    "lsh_ann_neighbors": _lsh_ann_oracle_sql(),
    "embedding_neardup_pairs": _neardup_oracle_sql(),
    "language_guesses": LANGUAGE_GUESS_SQL,
    "repetition_signals_docs": REPETITION_SQL,
    "decontamination_hits": DECONTAMINATION_SQL,
    "decontamination_bloom_hits": DECONTAMINATION_SQL,
    "token_budget_by_source": TOKEN_BUDGET_SQL,
    "stratified_sample_langs": STRATIFIED_SAMPLE_SQL,
    "sample_k_docs_per_lang": SAMPLE_K_SQL,
    "pps_sample_docs": PPS_SAMPLE_SQL,
    "split_documents_sets": SPLIT_SETS_SQL,
    "chunk_documents_docs": CHUNK_DOCS_SQL,
    "pack_sequences_docs": PACK_SEQUENCES_SQL,
    "scrub_pii_docs": SCRUB_PII_SQL,
    "neardup_clusters": NEARDUP_CLUSTERS_SQL,
    "dedup_incremental_docs": _incr_dedup_oracle_sql(),
    # approx_percentiles: GK sketch is lossless below accuracy rows/group
    # -> exact discrete percentiles, hash-checkable vs quantile_disc.
    "approx_percentiles_by_source": APPROX_PERCENTILES_SQL,
    # r10: the two former rows-only sketch workloads are now exact
    # oracles — the portable KMV sketch is a pure function of the value
    # set (VERDICT r9 task 2), so the rows-only class is EMPTY
    "approx_distinct_fingerprints": APPROX_DISTINCT_SQL,
    "corpus_overlap_halves": CORPUS_OVERLAP_SQL,
    "mixture_weighted_sample": MIXTURE_SAMPLE_SQL,
    "percentiles_by_source": PERCENTILES_SQL,
    "tfidf_top_terms": TFIDF_SQL,
}


def heavy_hitter_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source heavy hitters via approx_top_k (space-saving sketch,
    Metwally et al. 2005): the 100-TB frequent-items path — the
    aggregation shuffle carries one mergeable sketch per source, never
    per-word partial counts. The sketch is EXACT whenever a source's
    distinct-item count fits maxItemsTracked (10k here vs a 31-word
    synthetic vocabulary), which is what makes the workload
    hash-checkable; rank ties are broken deterministically by re-
    ranking the exploded (term, count) rows on (count DESC, term)."""
    _prep(spark)
    df = read_table(spark, sf_dir, "documents")
    words = df.select(
        "source", F.explode(F.split(F.trim("text"), " ")).alias("w")
    )
    sketched = words.groupBy("source").agg(
        F.expr("approx_top_k(w, 50, 10000)").alias("tk")
    )
    from pyspark.sql import Window

    exploded = sketched.select(
        "source", F.explode("tk").alias("e")
    ).select(
        "source",
        F.col("e.item").alias("term"),
        F.col("e.count").alias("n"),
    )
    r = F.row_number().over(
        Window.partitionBy("source").orderBy(F.desc("n"), F.asc("term"))
    )
    return exploded.withColumn("rank", r).filter(F.col("rank") <= 5)


HEAVY_HITTERS_SQL = """
WITH w AS (
  SELECT source, unnest(string_split(trim(text), ' ')) AS term
  FROM documents
),
c AS (
  SELECT source, term, COUNT(*) AS n FROM w GROUP BY source, term
)
SELECT source, term, n, CAST(rank AS INTEGER) AS rank
FROM (
  SELECT source, term, n,
         row_number() OVER (PARTITION BY source
                            ORDER BY n DESC, term) AS rank
  FROM c
) WHERE rank <= 5
"""

QUERIES.update({"heavy_hitter_terms": heavy_hitter_terms})
ORACLES.update({"heavy_hitter_terms": HEAVY_HITTERS_SQL})


def gopher_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText quality-rule bundle per document (Rae et al.
    2021 A1.1: word-count bounds, mean word length, symbol ratio,
    alphabetic-word fraction, stopword minimum). Every emitted ratio is
    a single IEEE division of two exact integers — bit-identical across
    engines with NO rounding (round() near decimal midpoints is the
    engine-ambiguous trap; see resample_interp_user_events)."""
    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    out = text.gopher_quality_flags(docs, "text")
    return out.select(
        "doc_id", "g_n_words", "g_mean_word_len", "g_symbol_ratio",
        "g_alpha_word_ratio", "g_stopword_hits", "pass_word_count",
        "pass_mean_word_len", "pass_symbol_ratio", "pass_alpha_ratio",
        "pass_stopwords", "gopher_keep",
    )


GOPHER_QUALITY_SQL = """
WITH w AS (
  SELECT doc_id, string_split(trim(lower(text)), ' ') AS ws,
         CAST(len(regexp_extract_all(text, '#')) AS INTEGER)
           + CAST(len(regexp_extract_all(text, '\\.\\.\\.')) AS INTEGER)
           AS symbol_hits
  FROM documents
), f AS (
  SELECT doc_id,
         CAST(len(ws) AS INTEGER) AS g_n_words,
         CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE)
           / len(ws) AS g_mean_word_len,
         CAST(symbol_hits AS DOUBLE) / len(ws) AS g_symbol_ratio,
         CAST(len(list_filter(ws, x -> regexp_matches(x, '\\p{L}')))
              AS DOUBLE) / len(ws) AS g_alpha_word_ratio,
         CAST(len(list_filter(ws, x -> x IN ('the','be','to','of','and',
                                             'that','have','with')))
              AS INTEGER) AS g_stopword_hits
  FROM w
)
SELECT doc_id, g_n_words, g_mean_word_len, g_symbol_ratio,
       g_alpha_word_ratio, g_stopword_hits,
       (g_n_words >= 50 AND g_n_words <= 100000) AS pass_word_count,
       (g_mean_word_len >= 3.0 AND g_mean_word_len <= 10.0)
         AS pass_mean_word_len,
       (g_symbol_ratio <= 0.1) AS pass_symbol_ratio,
       (g_alpha_word_ratio >= 0.8) AS pass_alpha_ratio,
       (g_stopword_hits >= 2) AS pass_stopwords,
       ((g_n_words >= 50 AND g_n_words <= 100000)
        AND (g_mean_word_len >= 3.0 AND g_mean_word_len <= 10.0)
        AND (g_symbol_ratio <= 0.1)
        AND (g_alpha_word_ratio >= 0.8)
        AND (g_stopword_hits >= 2)) AS gopher_keep
FROM f
"""


def duplicate_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus exact-substring (8-gram span) duplication per
    document — the Lee et al. 2021 dedup signal re-expressed as
    dataflow (dedup.duplicate_span_signals): posexplode windows, count
    distinct docs per gram hash, roll up. dup_span_ratio is one exact
    int/int division (no rounding)."""
    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    out = dedup.duplicate_span_signals(
        docs, id_col="doc_id", text_col="text", ngram=8, min_docs=2
    )
    return out.select(
        "doc_id",
        F.col("total_spans").cast("long").alias("total_spans"),
        F.col("dup_spans").cast("long").alias("dup_spans"),
        "dup_span_ratio",
    )


DUP_SPANS_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
),
grams AS (
  SELECT doc_id, md5(array_to_string(w[i:i+7], ' ')) AS gram_h
  FROM toks, LATERAL (SELECT unnest(range(1, len(w)-6)) AS i) r
  WHERE len(w) >= 8
),
gd AS (
  SELECT gram_h, COUNT(DISTINCT doc_id) AS ndocs FROM grams GROUP BY gram_h
),
per_doc AS (
  SELECT g.doc_id, COUNT(*) AS total_spans,
         SUM(CASE WHEN gd.ndocs >= 2 THEN 1 ELSE 0 END) AS dup_spans
  FROM grams g JOIN gd USING (gram_h) GROUP BY g.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(p.total_spans, 0) AS BIGINT) AS total_spans,
       CAST(COALESCE(p.dup_spans, 0) AS BIGINT) AS dup_spans,
       CASE WHEN COALESCE(p.total_spans, 0) > 0
            THEN CAST(p.dup_spans AS DOUBLE) / p.total_spans
            ELSE 0.0 END AS dup_span_ratio
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


def lm_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2019): score
    every doc with the corpus-unigram LM, split the corpus into
    head/middle/tail terciles of avg_nll, and profile each bucket.
    The tercile split runs through the DISTRIBUTED two-pass global
    rank (operators/rank.py) — zero Exchange SinglePartition even
    though the ranked set is the whole corpus. Bucket stats are
    exact (counts, BIGINT token sums, min/max of bit-stable doubles)
    so the oracle hashes byte-identically."""
    _prep(spark)
    from odibi_spark.operators.rank import global_ranks

    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    scored = text.ngram_lm_scores(
        docs, id_col="doc_id", text_col="text", min_count=1
    )
    ranked = global_ranks(
        scored,
        order_by=["avg_nll", "doc_id"],
        columns={"tercile": {"function": "ntile", "buckets": 3}},
    )
    bucket = (
        F.when(F.col("tercile") == 1, F.lit("head"))
        .when(F.col("tercile") == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        ranked.withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.min("avg_nll").alias("min_nll"),
            F.max("avg_nll").alias("max_nll"),
        )
    )


LM_BUCKETS_SQL = f"""
WITH toks AS (
  SELECT doc_id, tok
  FROM (SELECT doc_id,
               unnest(string_split(trim(lower(text)), ' ')) AS tok
        FROM documents)
  WHERE tok <> ''
),
vocab AS (
  SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
),
tot AS (
  SELECT CAST(SUM(c) AS DOUBLE) AS n_total,
         CAST(COUNT(*) AS DOUBLE) AS v_size
  FROM vocab
),
scored AS (
  SELECT t.doc_id,
         round(-ln((COALESCE(vb.c, 0) + 1.0)
                   / (tot.n_total + tot.v_size)), 6) AS nll
  FROM toks t LEFT JOIN vocab vb USING (tok) CROSS JOIN tot
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         CAST(CAST(SUM(CAST(nll AS {DEC})) AS DOUBLE) / COUNT(*) AS DOUBLE)
           AS avg_nll
  FROM scored GROUP BY doc_id
),
ranked AS (
  SELECT doc_id, n_tokens, avg_nll,
         NTILE(3) OVER (ORDER BY avg_nll, doc_id) AS tercile
  FROM per_doc
)
SELECT CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
       ELSE 'tail' END AS bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       MIN(avg_nll) AS min_nll, MAX(avg_nll) AS max_nll
FROM ranked GROUP BY 1
"""


def cms_heavy_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimates vs exact truth for every
    distinct token in the corpus (llm/cms.py: width=256, depth=3,
    portable md5-fold row hashes). Because the hashes are
    engine-portable, DuckDB rebuilds the IDENTICAL d x w table and the
    oracle is an exact hash match — the one-sided guarantee
    (est >= true) is visible in the checked output rather than only in
    an error-bound pytest (contrast approx_distinct_fingerprints,
    rows-only by design)."""
    _prep(spark)
    from odibi_spark.llm import cms

    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    tokens = docs.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    sketch = cms.cms_build(tokens, "tok", width=256, depth=3, seed=7)
    truth = tokens.groupBy("tok").agg(F.count(F.lit(1)).alias("true_cnt"))
    est = cms.cms_query(
        sketch, truth.select("tok"), "tok", width=256, depth=3, seed=7
    )
    return truth.join(est, "tok").select(
        "tok", "true_cnt",
        F.col("est_cnt").cast("long").alias("est_cnt"),
        (F.col("est_cnt") - F.col("true_cnt")).cast("long").alias("overcount"),
    )


CMS_HEAVY_TERMS_SQL = """
WITH toks AS (
  SELECT tok
  FROM (SELECT unnest(string_split(trim(lower(text)), ' ')) AS tok
        FROM documents)
  WHERE tok <> ''
),
depths AS (SELECT unnest(range(3)) AS depth),
cells AS (
  SELECT d.depth,
         CAST(concat('0x', substring(md5(concat('7:', CAST(d.depth AS VARCHAR),
                                            ':', tok)), 1, 15)) AS BIGINT)
           % 256 AS bucket
  FROM toks, depths d
),
cms AS (SELECT depth, bucket, COUNT(*) AS cnt FROM cells GROUP BY 1, 2),
truth AS (SELECT tok, COUNT(*) AS true_cnt FROM toks GROUP BY tok),
probes AS (
  SELECT t.tok, d.depth,
         CAST(concat('0x', substring(md5(concat('7:', CAST(d.depth AS VARCHAR),
                                            ':', t.tok)), 1, 15)) AS BIGINT)
           % 256 AS bucket
  FROM truth t, depths d
),
est AS (
  SELECT p.tok, MIN(COALESCE(c.cnt, 0)) AS est_cnt
  FROM probes p LEFT JOIN cms c USING (depth, bucket)
  GROUP BY p.tok
)
SELECT t.tok, CAST(t.true_cnt AS BIGINT) AS true_cnt,
       CAST(e.est_cnt AS BIGINT) AS est_cnt,
       CAST(e.est_cnt - t.true_cnt AS BIGINT) AS overcount
FROM truth t JOIN est e USING (tok)
"""


QUERIES.update({
    "gopher_quality_docs": gopher_quality_docs,
    "duplicate_ngram_spans": duplicate_ngram_spans,
    "lm_perplexity_buckets": lm_perplexity_buckets,
    "cms_heavy_terms": cms_heavy_terms,
})
ORACLES.update({
    "gopher_quality_docs": GOPHER_QUALITY_SQL,
    "duplicate_ngram_spans": DUP_SPANS_SQL,
    "lm_perplexity_buckets": LM_BUCKETS_SQL,
    "cms_heavy_terms": CMS_HEAVY_TERMS_SQL,
})


def ann_recall_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the MULTI-PROBE SRP-LSH ANN index (r13: nprobe=5
    query-directed probes — Lv et al. 2007; measured 5-7x the
    single-probe recall on this corpus at ~2% probed fraction)
    against brute-force cosine truth for query vectors vec_id < 20
    (similarity.ann_recall — the index-quality evaluation loop).
    recall is one exact int/int division; the oracle replays the
    margin-ranked probe set, the bucket joins, and the re-rank."""
    _prep(spark)
    emb = read_table(spark, sf_dir, "embeddings", cpu_heavy=True)
    exact = similarity.cosine_topk(
        emb, "vec_id", "embedding", query_filter="vec_id < 20", k=5
    )
    approx = similarity.lsh_ann_topk(
        emb, "vec_id", "embedding", k=5, num_planes=8, nprobe=5
    ).filter(F.col("query_id") < 20)
    return similarity.ann_recall(exact, approx)


def _ann_recall_oracle_sql() -> str:
    lsh = _lsh_ann_oracle_sql(k=5, num_planes=8, nprobe=5)
    return f"""
WITH exact_nn AS (
  {EMB_TOPK_SQL}
),
approx_nn AS (
  {lsh}
),
truth AS (
  SELECT query_id, COUNT(*) AS truth_n FROM exact_nn GROUP BY query_id
),
hits AS (
  SELECT t.query_id, COUNT(*) AS hits
  FROM exact_nn t
  WHERE EXISTS (SELECT 1 FROM approx_nn a
                WHERE a.query_id = t.query_id AND a.nbr_id = t.nbr_id
                  AND a.query_id < 20)
  GROUP BY t.query_id
)
SELECT t.query_id, t.truth_n,
       CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       CAST(COALESCE(h.hits, 0) AS DOUBLE) / t.truth_n AS recall
FROM truth t LEFT JOIN hits h USING (query_id)
"""


QUERIES.update({"ann_recall_lsh": ann_recall_lsh})
ORACLES.update({"ann_recall_lsh": _ann_recall_oracle_sql()})


def ann_recall_lsh_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the many-tables OR-construction SRP ANN
    (similarity.srp_or_ann_topk: 320 independent 12-bit hash tables,
    hash-derived Rademacher planes, 120-bit sketch hamming <= 52
    prefilter, exact cosine re-rank) against brute-force truth for
    query vectors vec_id < 20. The operating point that makes the
    LSH leg recommendable when IVF's clustering premise fails:
    measured recall@5 0.66 at 3.2% of the corpus exactly re-ranked
    per query (sf0.1). The oracle regenerates every Rademacher plane
    from the same md5 parity rule and replays buckets, sketch words,
    hamming filter and re-rank bit-for-bit."""
    _prep(spark)
    emb = read_table(spark, sf_dir, "embeddings", cpu_heavy=True)
    exact = similarity.cosine_topk(
        emb, "vec_id", "embedding", query_filter="vec_id < 20", k=5
    )
    approx = similarity.srp_or_ann_topk(
        emb, "vec_id", "embedding", k=5, query_filter="vec_id < 20"
    )
    return similarity.ann_recall(exact, approx)


def _ann_recall_lsh_or_oracle_sql(
    k: int = 5, num_planes: int = 12, tables: int = 320,
    sig_bits: int = 120, max_hamming: int = 52, dim: int = 64,
) -> str:
    """DuckDB replica of srp_or_ann_topk: the tables x planes
    Rademacher sign matrix is REGENERATED relationally from the md5
    parity rule (no float literals), margins are the same exact
    integer sums of floor-microquantized components, bucket keys and
    the two <=60-bit sketch words assemble from the same bit weights,
    and the hamming prefilter + rounded-cosine re-rank mirror the
    Spark plan. Margins run as vectorized LIST kernels (one
    list_sum(list_transform(...)) per (vector, plane) row) instead of
    an unnest join + 500M-row hash aggregate — measured 13 s vs 11
    min at sf0.1 for identical results."""
    parity = (
        "CAST(concat('0x', substring(md5(concat('{p}:', CAST(r.range AS "
        "VARCHAR), ':', CAST(j AS VARCHAR))), 1, 15)) AS BIGINT) "
        "% 2 = 0"
    )
    ksign = parity.format(p="srp")
    ssign = parity.format(p="srpsig")
    return f"""
WITH v AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
),
qv AS (
  SELECT id,
         list_transform(vec, x -> CAST(floor(x * 1000000.0) AS BIGINT))
           AS q
  FROM v
),
ksigns AS MATERIALIZED (
  SELECT r.range AS r,
         list_transform(range({dim}), j ->
           CASE WHEN {ksign} THEN 1 ELSE -1 END) AS s
  FROM range({tables * num_planes}) r
),
mg AS (
  SELECT qv.id, ksigns.r,
         list_sum(list_transform(range(1, {dim + 1}),
                                 j -> qv.q[j] * ksigns.s[j])) AS m
  FROM qv, ksigns
),
bk AS (
  SELECT id, r // {num_planes} AS tbl,
         SUM(CASE WHEN m > 0
             THEN (CAST(1 AS BIGINT) << (r % {num_planes}))
             ELSE CAST(0 AS BIGINT) END) AS bucket
  FROM mg GROUP BY id, r // {num_planes}
),
ssigns AS MATERIALIZED (
  SELECT r.range AS r,
         list_transform(range({dim}), j ->
           CASE WHEN {ssign} THEN 1 ELSE -1 END) AS s
  FROM range({sig_bits}) r
),
sgm AS (
  SELECT qv.id, ssigns.r,
         list_sum(list_transform(range(1, {dim + 1}),
                                 j -> qv.q[j] * ssigns.s[j])) AS m
  FROM qv, ssigns
),
sig AS (
  SELECT id,
         SUM(CASE WHEN m > 0 AND r < 60
             THEN (CAST(1 AS BIGINT) << r) ELSE CAST(0 AS BIGINT) END)
           AS w0,
         SUM(CASE WHEN m > 0 AND r >= 60
             THEN (CAST(1 AS BIGINT) << (r - 60))
             ELSE CAST(0 AS BIGINT) END) AS w1
  FROM sgm GROUP BY id
),
cand AS (
  SELECT DISTINCT a.id AS query_id, b.id AS nbr_id
  FROM bk a JOIN bk b USING (tbl, bucket)
  WHERE a.id < 20 AND a.id <> b.id
),
ham AS (
  SELECT c.query_id, c.nbr_id
  FROM cand c
  JOIN sig sa ON sa.id = c.query_id
  JOIN sig sb ON sb.id = c.nbr_id
  WHERE bit_count(xor(sa.w0, sb.w0)) + bit_count(xor(sa.w1, sb.w1))
        <= {max_hamming}
),
approx_scored AS (
  SELECT h.query_id, h.nbr_id,
         round(list_dot_product(qv.vec, nv.vec)
               / (sqrt(list_dot_product(qv.vec, qv.vec))
                  * sqrt(list_dot_product(nv.vec, nv.vec))), 6) AS cosine
  FROM ham h
  JOIN v qv ON qv.id = h.query_id
  JOIN v nv ON nv.id = h.nbr_id
),
approx_nn AS (
  SELECT query_id, nbr_id
  FROM (
    SELECT query_id, nbr_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, nbr_id) AS rank
    FROM approx_scored
  ) WHERE rank <= {k}
),
exact_nn AS (
  {EMB_TOPK_SQL}
),
truth AS (
  SELECT query_id, COUNT(*) AS truth_n FROM exact_nn GROUP BY query_id
),
hits AS (
  SELECT t.query_id, COUNT(*) AS hits
  FROM exact_nn t
  WHERE EXISTS (SELECT 1 FROM approx_nn a
                WHERE a.query_id = t.query_id AND a.nbr_id = t.nbr_id)
  GROUP BY t.query_id
)
SELECT t.query_id, t.truth_n,
       CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       CAST(COALESCE(h.hits, 0) AS DOUBLE) / t.truth_n AS recall
FROM truth t LEFT JOIN hits h USING (query_id)
"""


QUERIES.update({"ann_recall_lsh_or": ann_recall_lsh_or})
ORACLES.update({"ann_recall_lsh_or": _ann_recall_lsh_or_oracle_sql()})


def kcenter_coreset_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity coreset: greedy k-center (farthest-point) selection
    of 10 maximally-spread vectors (similarity.kcenter_coreset —
    Gonzalez 1985 / Sener & Savarese 2018). Every pick is an argmax
    over rounded 1-cosine distances with id tiebreaks, so the oracle
    replays the whole greedy chain step by step."""
    _prep(spark)
    emb = read_table(spark, sf_dir, "embeddings", cpu_heavy=True)
    return similarity.kcenter_coreset(emb, "vec_id", "embedding", k=10)


def _kcenter_oracle_sql(k: int = 10) -> str:
    """DuckDB replica of the greedy k-center chain, unrolled: CTE
    c{i} is step i's argmax (ORDER BY md DESC, id LIMIT 1), d{i+1}
    carries the running min-distance forward with the same
    round-before-LEAST the Spark side pins."""

    def dist(vec_a: str, vec_b: str) -> str:
        return (
            f"round(1.0 - list_dot_product({vec_a}, {vec_b}) / "
            f"(sqrt(list_dot_product({vec_a}, {vec_a})) * "
            f"sqrt(list_dot_product({vec_b}, {vec_b}))), 6)"
        )

    parts = [f"""
WITH v AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
),
c0 AS (SELECT id, vec FROM v ORDER BY id LIMIT 1),
d1 AS (
  SELECT v.id, v.vec, {dist("v.vec", "c.vec")} AS md
  FROM v, c0 c WHERE v.id <> c.id
)"""]
    for i in range(1, k):
        parts.append(
            f""",
c{i} AS (SELECT id, vec, md FROM d{i} ORDER BY md DESC, id LIMIT 1)"""
        )
        if i < k - 1:
            parts.append(
                f""",
d{i + 1} AS (
  SELECT d.id, d.vec,
         LEAST(d.md, {dist("d.vec", "c.vec")}) AS md
  FROM d{i} d, c{i} c WHERE d.id <> c.id
)"""
            )
    selects = [
        "SELECT 1 AS center_rank, id AS vec_id, "
        "CAST(NULL AS DOUBLE) AS min_dist FROM c0"
    ] + [
        f"SELECT {i + 1} AS center_rank, id AS vec_id, md AS min_dist "
        f"FROM c{i}"
        for i in range(1, k)
    ]
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


QUERIES.update({"kcenter_coreset_embeddings": kcenter_coreset_embeddings})
ORACLES.update({"kcenter_coreset_embeddings": _kcenter_oracle_sql()})


def bpe_encode_unseen_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer DEPLOYMENT (r14): train 20 BPE merges on the
    even-doc_id half of the corpus, then ENCODE the odd half — unseen
    words included — with text.bpe_encode (per-distinct-word
    segmentation replaying the trained merges, then one join over the
    token stream). Output (doc_id, n_words, n_tokens, bpe_tokens).
    The oracle replays training AND application stage by stage."""
    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    merges = text.bpe_train(
        docs.filter(F.col("doc_id") % 2 == 0), num_merges=20
    )
    return text.bpe_encode(
        docs.filter(F.col("doc_id") % 2 == 1), "doc_id", "text",
        merges=merges,
    )


def _bpe_encode_oracle_sql(k: int = 20) -> str:
    """DuckDB replica of train-on-even + encode-odd: the v{i}/b{i}
    training chain (identical to BPE_TRAIN_SQL but filtered to even
    doc_ids) plus an a{i} APPLY chain running the same
    greedy-non-overlapping rewrite against each trained pair b{i},
    ending in the per-doc ordered reassembly."""

    def rewrite_stages(src: str, out: str, i: int) -> str:
        """One merge-application round: src -> out, merging pair
        b{i} with the odd-even non-overlap group logic shared with
        the training chain."""
        return f"""
e{out} AS (
  SELECT t.word, t.wc, CAST(g.i AS INTEGER) AS pos,
         t.syms[CAST(g.i AS INTEGER)] AS s,
         COALESCE(b.l IS NOT NULL AND g.i < len(t.syms)
                  AND t.syms[CAST(g.i AS INTEGER)] = b.l
                  AND t.syms[CAST(g.i + 1 AS INTEGER)] = b.r,
                  FALSE) AS m,
         b.l AS bl, b.r AS br
  FROM {src} t LEFT JOIN b{i} b ON TRUE,
       LATERAL (SELECT unnest(range(1, len(t.syms) + 1)) AS i) g
),
k{out} AS (
  SELECT *, CASE WHEN m THEN
       (row_number() OVER (PARTITION BY word, grp ORDER BY pos) - 1)
         % 2 = 0
     ELSE FALSE END AS taken
  FROM (SELECT *, CASE WHEN m THEN pos - row_number()
                       OVER (PARTITION BY word, m ORDER BY pos) END AS grp
        FROM e{out})
),
{out} AS MATERIALIZED (
  SELECT word, MAX(wc) AS wc,
         list(CASE WHEN taken THEN bl || br ELSE s END ORDER BY pos)
           AS syms
  FROM (SELECT *, COALESCE(lag(taken) OVER (PARTITION BY word
                                            ORDER BY pos), FALSE)
                    AS prev_taken
        FROM k{out})
  WHERE NOT prev_taken GROUP BY word
)"""

    stages = ["""
v0 AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS wc,
         list_append(list_transform(range(1, length(word) + 1),
                                    i -> word[CAST(i AS INTEGER)]),
                     '</w>') AS syms
  FROM (SELECT unnest(string_split(trim(lower(text)), ' ')) AS word
        FROM documents WHERE doc_id % 2 = 0)
  WHERE word <> '' GROUP BY word
)"""]
    for i in range(1, k + 1):
        p = i - 1
        stages.append(f"""
b{i} AS MATERIALIZED (
  SELECT l, r, CAST(SUM(wc) AS BIGINT) AS c FROM (
    SELECT t.wc, t.syms[CAST(g.i AS INTEGER)] AS l,
           t.syms[CAST(g.i + 1 AS INTEGER)] AS r
    FROM v{p} t,
         LATERAL (SELECT unnest(range(1, len(t.syms))) AS i) g
    WHERE len(t.syms) >= 2
  ) GROUP BY l, r HAVING SUM(wc) >= 2
  ORDER BY c DESC, l, r LIMIT 1
)""")
        stages.append(rewrite_stages(f"v{p}", f"v{i}", i))
    stages.append("""
a0 AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS wc,
         list_append(list_transform(range(1, length(word) + 1),
                                    i -> word[CAST(i AS INTEGER)]),
                     '</w>') AS syms
  FROM (SELECT unnest(string_split(trim(lower(text)), ' ')) AS word
        FROM documents WHERE doc_id % 2 = 1)
  WHERE word <> '' GROUP BY word
)""")
    for i in range(1, k + 1):
        stages.append(rewrite_stages(f"a{i - 1}", f"a{i}", i))
    return "WITH " + ",".join(stages) + f"""
,
ws AS (
  SELECT doc_id, string_split(trim(lower(text)), ' ') AS w
  FROM documents WHERE doc_id % 2 = 1
),
tok AS (
  SELECT doc_id, CAST(g.i AS INTEGER) AS pos,
         w[CAST(g.i AS INTEGER)] AS word
  FROM ws, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i) g
  WHERE w[CAST(g.i AS INTEGER)] <> ''
),
enc AS (
  SELECT t.doc_id, t.pos, a.syms FROM tok t JOIN a{k} a USING (word)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(len(syms)) AS BIGINT) AS n_tokens,
       array_to_string(flatten(list(syms ORDER BY pos)), ' ')
         AS bpe_tokens
FROM enc GROUP BY doc_id
"""


QUERIES.update({"bpe_encode_unseen_docs": bpe_encode_unseen_docs})
ORACLES.update({"bpe_encode_unseen_docs": _bpe_encode_oracle_sql()})


def pq_adc_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-5 (Jégou et al. 2011; the FAISS
    IVF-PQ building block): 8 subspaces x 16 L2 codewords trained
    with the repo's oracle-replayable one-Lloyd-step protocol, corpus
    compressed to 8 codes/vector, queries (vec_id < 20) scored by
    asymmetric distance — the corpus side never decompresses. The
    oracle retrains every codebook, re-encodes, and replays the ADC
    ranking."""
    _prep(spark)
    emb = read_table(spark, sf_dir, "embeddings", cpu_heavy=True)
    return similarity.pq_adc_topk(
        emb, "vec_id", "embedding", query_filter="vec_id < 20"
    )


def _pq_fragments(
    m: int, k: int, dim: int, query_pred: str = "t.id < 20",
    train_pred: str | None = None,
) -> tuple[list[str], list[str], list[str]]:
    """Shared per-subspace CTE fragments for the PQ-family oracles
    (pq_adc_topk_embeddings, ivf_pq_topk_embeddings): seed codebook
    from the k lowest-id vectors' subvector slices, one Lloyd step
    with DECIMAL-exact means (the kmeans_clusters protocol), argmin
    assignment with lowest-cell ties, encoded corpus, and per-query
    partial distances filtered by ``query_pred``. ``train_pred``
    (over ``t.id``) restricts the TRAINING set — seeds and Lloyd
    means come from matching rows only, while encoding still covers
    the full corpus: the ann_incremental_probe_embeddings contract,
    where the index trains on batch 1 and later batches are encoded
    under the pinned codebooks. Returns (stages, enc_unions,
    q_unions); the caller supplies the ``v`` CTE and the final ADC
    join/rank."""
    sub = dim // m
    stages: list[str] = []
    enc_unions: list[str] = []
    q_unions: list[str] = []
    for mm in range(m):
        a, b = mm * sub + 1, (mm + 1) * sub
        dist = (
            "list_dot_product("
            f"list_transform(range(1, {sub + 1}), j -> t.sv[CAST(j AS "
            "INTEGER)] - s.cvec[CAST(j AS INTEGER)]), "
            f"list_transform(range(1, {sub + 1}), j -> t.sv[CAST(j AS "
            "INTEGER)] - s.cvec[CAST(j AS INTEGER)]))"
        )
        tp = train_pred if train_pred is not None else "TRUE"
        stages.append(f"""
sv{mm} AS MATERIALIZED (
  SELECT id, vec[{a}:{b}] AS sv FROM v
),
seeds{mm} AS (
  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INTEGER) AS cell,
         sv AS cvec
  FROM (SELECT t.id AS id, t.sv AS sv FROM sv{mm} t WHERE {tp}
        ORDER BY id LIMIT {k})
),
asg{mm} AS (
  SELECT id, sv, cell FROM (
    SELECT t.id, t.sv, s.cell,
           row_number() OVER (
             PARTITION BY t.id
             ORDER BY {dist} ASC, s.cell
           ) AS rn
    FROM sv{mm} t CROSS JOIN seeds{mm} s
    WHERE {tp}
  ) WHERE rn = 1
),
mu{mm} AS (
  SELECT cell, generate_subscripts(sv, 1) AS pos, unnest(sv) AS x
  FROM asg{mm}
),
mean{mm} AS (
  SELECT cell, pos,
         CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mval
  FROM mu{mm} GROUP BY cell, pos
),
ref{mm} AS (
  SELECT cell, list(mval ORDER BY pos) AS cvec FROM mean{mm} GROUP BY cell
),
cb{mm} AS MATERIALIZED (
  SELECT s.cell, COALESCE(r.cvec, s.cvec) AS cvec
  FROM seeds{mm} s LEFT JOIN ref{mm} r USING (cell)
),
enc{mm} AS (
  SELECT id, cell AS code FROM (
    SELECT t.id, s.cell,
           row_number() OVER (
             PARTITION BY t.id
             ORDER BY {dist} ASC, s.cell
           ) AS rn
    FROM sv{mm} t CROSS JOIN cb{mm} s
  ) WHERE rn = 1
),
qpd{mm} AS (
  SELECT t.id AS query_id, s.cell, {dist} AS pdist
  FROM sv{mm} t CROSS JOIN cb{mm} s
  WHERE {query_pred}
)""")
        enc_unions.append(f"SELECT id, {mm} AS m, code FROM enc{mm}")
        q_unions.append(
            f"SELECT query_id, {mm} AS m, cell, pdist FROM qpd{mm}"
        )
    return stages, enc_unions, q_unions


def _pq_adc_oracle_sql(
    m: int = 8, k: int = 16, dim: int = 64, topk: int = 5,
) -> str:
    """DuckDB replica of pq_train + pq_encode + pq_adc_topk: the
    shared ``_pq_fragments`` codebook/encode/query stages; ADC sums
    the per-subspace partials in subspace order (list_dot_product
    against a ones vector — in-order like the Spark fold) before the
    6-dp round and the rank."""
    frag, enc_unions, q_unions = _pq_fragments(m, k, dim)
    stages = ["""
v AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
)"""] + frag
    ones = f"list_transform(range({m}), j -> 1.0)"
    return "WITH " + ",".join(stages) + f""",
enc AS ({' UNION ALL '.join(enc_unions)}),
qpd AS ({' UNION ALL '.join(q_unions)}),
adc AS (
  SELECT p.query_id, e.id AS nbr_id,
         round(list_dot_product(list(p.pdist ORDER BY p.m), {ones}),
               6) AS adc_dist
  FROM enc e JOIN qpd p ON p.m = e.m AND p.cell = e.code
  WHERE p.query_id <> e.id
  GROUP BY p.query_id, e.id
)
SELECT query_id, nbr_id, adc_dist, CAST(rank AS INTEGER) AS rank
FROM (
  SELECT query_id, nbr_id, adc_dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_dist ASC, nbr_id) AS rank
  FROM adc
) WHERE rank <= {topk}
"""


QUERIES.update({"pq_adc_topk_embeddings": pq_adc_topk_embeddings})
ORACLES.update({"pq_adc_topk_embeddings": _pq_adc_oracle_sql()})


def ivf_pq_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed index (Jégou et al. 2011 §V — FAISS 'IVF8,PQ16'):
    8 seed coarse centroids route each query (vec_id < 20) to its 2
    nearest cells; within the probed cells the corpus exists only as
    16 PQ codes/vector (16x compression) scored by asymmetric
    distance. Coarse quantizer uses iters=0 seed centroids (the
    ivf_ann_neighbors oracle protocol); PQ codebooks train with the
    one-Lloyd-step DECIMAL-exact protocol (the pq_adc_topk_embeddings
    oracle protocol) — the composed oracle replays both, the routing
    equi-join, and the in-order ADC fold."""
    _prep(spark)
    emb = read_table(spark, sf_dir, "embeddings", cpu_heavy=True)
    return similarity.ivf_pq_topk(
        emb, "vec_id", "embedding", nlist=8, nprobe=2, m=16, k=64,
        iters=0, query_filter="vec_id < 20",
    )


def _ivf_pq_oracle_sql(
    m: int = 16, k: int = 64, dim: int = 64, nlist: int = 8,
    nprobe: int = 2, topk: int = 5,
) -> str:
    """DuckDB replica of ivf_pq_topk: the IVF_ANN_SQL coarse
    fragments (seed centroids, max-dot assignment with lowest-cell
    ties, top-nprobe probe routing) composed with the shared
    ``_pq_fragments`` codebook/encode/query stages; candidates are
    the probe-cell equi-join, ADC sums the per-subspace partials in
    subspace order before the 6-dp round and the rank."""
    frag, enc_unions, q_unions = _pq_fragments(m, k, dim)
    stages = [f"""
v AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
),
cent AS (
  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INTEGER) AS cell,
         vec AS cvec
  FROM (SELECT id, vec FROM v ORDER BY id LIMIT {nlist})
),
csims AS (
  SELECT v.id, v.vec, c.cell, list_dot_product(v.vec, c.cvec) AS sim
  FROM v CROSS JOIN cent c
),
cranked AS (
  SELECT id, cell,
         row_number() OVER (PARTITION BY id ORDER BY sim DESC, cell) AS rn
  FROM csims
),
assign AS (SELECT id, cell FROM cranked WHERE rn = 1),
probes AS (
  SELECT id AS query_id, cell FROM cranked
  WHERE rn <= {nprobe} AND id < 20
),
cand AS (
  SELECT pr.query_id, a.id AS nbr_id
  FROM probes pr JOIN assign a USING (cell)
  WHERE a.id <> pr.query_id
)"""] + frag
    ones = f"list_transform(range({m}), j -> 1.0)"
    return "WITH " + ",".join(stages) + f""",
enc AS ({' UNION ALL '.join(enc_unions)}),
qpd AS ({' UNION ALL '.join(q_unions)}),
adc AS (
  SELECT c.query_id, c.nbr_id,
         round(list_dot_product(list(p.pdist ORDER BY p.m), {ones}),
               6) AS adc_dist
  FROM cand c
  JOIN enc e ON e.id = c.nbr_id
  JOIN qpd p ON p.query_id = c.query_id
            AND p.m = e.m AND p.cell = e.code
  GROUP BY c.query_id, c.nbr_id
)
SELECT query_id, nbr_id, adc_dist, CAST(rank AS INTEGER) AS rank
FROM (
  SELECT query_id, nbr_id, adc_dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_dist ASC, nbr_id) AS rank
  FROM adc
) WHERE rank <= {topk}
"""


QUERIES.update({"ivf_pq_topk_embeddings": ivf_pq_topk_embeddings})
ORACLES.update({"ivf_pq_topk_embeddings": _ivf_pq_oracle_sql()})


def ann_incremental_probe_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Persisted ANN index lifecycle (VERDICT r14 task 2), replayed
    over TWO ingestion batches against a ONE-SHOT oracle: the IVF-PQ
    index trains on batch 1 (vec_id <= corpus midpoint), the trained
    geometry is PINNED in ``_index_meta.json``, batch 2 reaches the
    store through the stateful HWM filter and is encoded delta-only
    under the pinned codebooks, and the final probe reads the stored
    codes (partition-pruned to the probed cells) — never a raw
    vector. The hash match proves the amortized build-once /
    probe-many lifecycle equals a full-corpus one-shot pass, the
    ``dedup_incremental_docs`` contract applied to vector indexes."""
    import os
    import tempfile

    from odibi_spark.llm.ann_store import AnnIndexStore, run_incremental_ann
    from odibi_spark.state.hwm import JsonStateBackend

    _prep(spark)
    emb = read_table(spark, sf_dir, "embeddings", cpu_heavy=True)
    mid = emb.agg(F.max("vec_id")).collect()[0][0] // 2
    tmp = tempfile.mkdtemp(prefix="ann_idx_")
    store = AnnIndexStore(
        spark, os.path.join(tmp, "index"),
        nlist=8, nprobe=2, m=8, k=16, dim=64, iters=0,
    )
    state = JsonStateBackend(os.path.join(tmp, "state.json"))
    b1 = emb.filter(F.col("vec_id") <= mid)
    store.build(b1, "vec_id", "embedding")
    kw = dict(id_col="vec_id", vec_col="embedding")
    run_incremental_ann(b1, store, state, batch_id="b1", **kw)
    run_incremental_ann(emb, store, state, batch_id="b2", **kw)
    return store.probe(
        emb.filter("vec_id < 20"), "vec_id", "embedding", topk=5
    )


def _ann_incr_oracle_sql(
    m: int = 8, k: int = 16, dim: int = 64, nlist: int = 8,
    nprobe: int = 2, topk: int = 5,
) -> str:
    """ONE-SHOT DuckDB replica of the two-batch index lifecycle:
    coarse centroids AND PQ codebooks train on batch 1 only
    (id <= max(id)//2 — the ``train_pred``), the FULL corpus is
    encoded under them, and the ADC ranking replays the probe.
    Equality with the batch-incremental Spark run is the point."""
    train = "t.id <= (SELECT MAX(id) FROM v) // 2"
    frag, enc_unions, q_unions = _pq_fragments(
        m, k, dim, train_pred=train
    )
    stages = [f"""
v AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
),
cent AS (
  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INTEGER) AS cell,
         vec AS cvec
  FROM (SELECT t.id AS id, t.vec AS vec FROM v t
        WHERE {train} ORDER BY id LIMIT {nlist})
),
csims AS (
  SELECT v.id, v.vec, c.cell, list_dot_product(v.vec, c.cvec) AS sim
  FROM v CROSS JOIN cent c
),
cranked AS (
  SELECT id, cell,
         row_number() OVER (PARTITION BY id ORDER BY sim DESC, cell) AS rn
  FROM csims
),
assign AS (SELECT id, cell FROM cranked WHERE rn = 1),
probes AS (
  SELECT id AS query_id, cell FROM cranked
  WHERE rn <= {nprobe} AND id < 20
),
cand AS (
  SELECT pr.query_id, a.id AS nbr_id
  FROM probes pr JOIN assign a USING (cell)
  WHERE a.id <> pr.query_id
)"""] + frag
    ones = f"list_transform(range({m}), j -> 1.0)"
    return "WITH " + ",".join(stages) + f""",
enc AS ({' UNION ALL '.join(enc_unions)}),
qpd AS ({' UNION ALL '.join(q_unions)}),
adc AS (
  SELECT c.query_id, c.nbr_id,
         round(list_dot_product(list(p.pdist ORDER BY p.m), {ones}),
               6) AS adc_dist
  FROM cand c
  JOIN enc e ON e.id = c.nbr_id
  JOIN qpd p ON p.query_id = c.query_id
            AND p.m = e.m AND p.cell = e.code
  GROUP BY c.query_id, c.nbr_id
)
SELECT query_id, nbr_id, adc_dist, CAST(rank AS INTEGER) AS rank
FROM (
  SELECT query_id, nbr_id, adc_dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_dist ASC, nbr_id) AS rank
  FROM adc
) WHERE rank <= {topk}
"""


QUERIES.update(
    {"ann_incremental_probe_embeddings": ann_incremental_probe_embeddings}
)
ORACLES.update(
    {"ann_incremental_probe_embeddings": _ann_incr_oracle_sql()}
)


def random_projection_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection of the embedding table
    to 8 dims (similarity.random_projection, inline-literal path).
    Projections round to 6 decimals (cosine_topk convention) so the
    oracle — the identical seeded matrix inlined as DuckDB literals —
    hashes bit-identically. Components unpacked to scalar columns
    (the driver's comparator sorts by value; list cells don't sort)."""
    _prep(spark)
    emb = read_table(spark, sf_dir, "embeddings", cpu_heavy=True)
    out = similarity.random_projection(
        emb, "vec_id", "embedding", out_dim=8, seed=42
    )
    return out.select(
        "vec_id",
        *[F.col("rp_vec")[i].alias(f"rp{i}") for i in range(8)],
    )


def _random_projection_oracle_sql(out_dim: int = 8, dim: int = 64,
                                  seed: int = 42) -> str:
    import numpy as np

    mat = np.random.default_rng(seed).standard_normal((out_dim, dim))
    mat = mat / np.sqrt(out_dim)
    comps = ",\n       ".join(
        "round(list_dot_product(vec, [{vals}]), 6) AS rp{i}".format(
            vals=", ".join(repr(float(x)) for x in mat[i]), i=i
        )
        for i in range(out_dim)
    )
    return f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
)
SELECT vec_id,
       {comps}
FROM v
"""


def bm25_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 keyword retrieval over the corpus for a fixed query
    (text.bm25_scores): per-doc matched-term count + score, docs with
    no match scoring 0.0. Per-term partials round to 6 decimals before
    the exact DECIMAL sum (lm_quality convention)."""
    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    return text.bm25_scores(
        docs, ["spark", "table", "fast"], id_col="doc_id", text_col="text"
    )


BM25_SQL = f"""
WITH w AS (
  SELECT doc_id, string_split(trim(lower(text)), ' ') AS ws FROM documents
),
dl AS (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl FROM w),
tot AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         CAST(SUM(CAST(dl AS BIGINT)) AS DOUBLE) / COUNT(*) AS avgdl
  FROM dl
),
hits AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, unnest(ws) AS tok FROM w)
  WHERE tok IN ('spark', 'table', 'fast')
  GROUP BY doc_id, tok
),
dfreq AS (
  SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df_t FROM hits GROUP BY tok
),
parts AS (
  SELECT h.doc_id,
         round(ln((tot.n_docs - d.df_t + 0.5) / (d.df_t + 0.5) + 1.0)
               * (h.tf * (1.2 + 1.0))
               / (h.tf + 1.2 * ((1.0 - 0.75)
                                + (0.75 * l.dl) / tot.avgdl)),
               6) AS part
  FROM hits h JOIN dfreq d USING (tok) JOIN dl l USING (doc_id)
  CROSS JOIN tot
),
sc AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS matched_terms,
         CAST(SUM(CAST(part AS {DEC})) AS DOUBLE) AS bm25
  FROM parts GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(s.matched_terms, 0) AS matched_terms,
       COALESCE(s.bm25, 0.0) AS bm25
FROM documents d LEFT JOIN sc s USING (doc_id)
"""


QUERIES.update({
    "random_projection_embeddings": random_projection_embeddings,
    "bm25_search_docs": bm25_search_docs,
})
ORACLES.update({
    "random_projection_embeddings": _random_projection_oracle_sql(),
    "bm25_search_docs": BM25_SQL,
})


def remove_dup_spans_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup with REWRITE (dedup.remove_duplicate_spans):
    the globally-first occurrence of each cross-corpus 8-gram keeps its
    tokens, every other occurrence is cut, text re-joined in order.
    Output hashes the full rewritten strings — the strongest possible
    check of the edit semantics."""
    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    out = dedup.remove_duplicate_spans(docs, ngram=8, min_docs=2)
    return out.select("doc_id", "text", "n_kept_tokens", "n_removed_tokens")


REMOVE_DUP_SPANS_SQL = """
WITH toks0 AS (
  SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents
),
toks AS (
  SELECT doc_id, i AS pos, w[i] AS tok
  FROM toks0, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i) r
),
spans AS (
  SELECT doc_id, i AS start, md5(array_to_string(w[i:i+7], ' ')) AS h
  FROM toks0, LATERAL (SELECT unnest(range(1, len(w) - 6)) AS i) r
  WHERE len(w) >= 8
),
stats AS (
  SELECT h, COUNT(DISTINCT doc_id) AS ndocs FROM spans GROUP BY h
),
marked AS (
  SELECT s.doc_id, s.start, st.ndocs,
         ROW_NUMBER() OVER (PARTITION BY s.h
                            ORDER BY s.doc_id, s.start) AS rn
  FROM spans s JOIN stats st USING (h)
),
removed AS (
  SELECT DISTINCT doc_id, start + j.j AS pos
  FROM marked, LATERAL (SELECT unnest(range(0, 8)) AS j) j
  WHERE ndocs >= 2 AND rn > 1
),
kept AS (
  SELECT t.doc_id, t.pos, t.tok
  FROM toks t
  WHERE NOT EXISTS (SELECT 1 FROM removed r
                    WHERE r.doc_id = t.doc_id AND r.pos = t.pos)
),
rebuilt AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS new_text,
         COUNT(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(r.new_text, '') AS text,
       CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept_tokens,
       CAST(len(string_split(trim(d.text), ' '))
            - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed_tokens
FROM documents d LEFT JOIN rebuilt r USING (doc_id)
"""


QUERIES.update({"remove_dup_spans_docs": remove_dup_spans_docs})
ORACLES.update({"remove_dup_spans_docs": REMOVE_DUP_SPANS_SQL})


def curation_funnel_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation funnel as ONE query — per source, how many
    docs survive each gate and all gates together: Gopher quality
    rules (min_words=20 for this corpus' length profile), exact-dup
    keeper election (lowest doc_id per content hash), and the
    cross-doc span-duplication cap (dup_span_ratio <= 0.8). The
    operator-composition showcase: three independent signal pipelines
    joined once on doc_id, then a single per-source rollup — at
    100 TB each signal is a linear pass and the rollup is O(sources).
    """
    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    flagged = text.gopher_quality_flags(docs, "text", min_words=20)
    from pyspark.sql.window import Window

    spans = dedup.duplicate_span_signals(
        docs, id_col="doc_id", text_col="text", ngram=8, min_docs=2
    ).select("doc_id", "dup_span_ratio")
    # unicode gate (r10): the funnel's FIRST real-world stage — doc
    # needed no mojibake/control repair. Column-expression stages only
    # (clean_unicode_expr), so the gate stays whole-stage codegen.
    uni_ok = text.clean_unicode_expr("text") == F.col("text")
    # classifier gate (r11): fastText-style hashed linear score with
    # the seeded 512-bucket weights — another zero-shuffle codegen map
    from odibi_spark.llm import curation as _cur

    _qw, _qb = _cur.quality_classifier_weights(512, seed=42)
    flagged = _cur.quality_classifier(
        flagged, "text", weights=_qw, bias=_qb
    )
    # r15 (guide §2.3, shuffle keys not payloads): every text-derived
    # flag is computed BEFORE the keeper window and text is projected
    # away, so the md5-partitioned exchange carries ~60 B of flags per
    # row instead of the full document text
    keeper = F.col("doc_id") == F.min("doc_id").over(
        Window.partitionBy("__content_h")
    )
    staged = (
        flagged.withColumn("unicode_ok", uni_ok)
        .withColumn("classifier_ok", F.col("ql_logit") > 0)
        # unhex(md5): the keeper window only needs 128-bit identity —
        # 16 raw bytes through the window exchange, not 32 hex chars
        .withColumn("__content_h", F.unhex(F.md5(F.col("text"))))
        .select(
            "doc_id", "source", "gopher_keep", "unicode_ok",
            "classifier_ok", "__content_h",
        )
        .withColumn("is_keeper", keeper)
        .join(spans, "doc_id")
        .withColumn("span_ok", F.col("dup_span_ratio") <= 0.8)
    )
    return staged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("unicode_ok"), 1).otherwise(0))
        .cast("long").alias("n_unicode_ok"),
        F.sum(F.when(F.col("gopher_keep"), 1).otherwise(0))
        .cast("long").alias("n_gopher"),
        F.sum(F.when(F.col("is_keeper"), 1).otherwise(0))
        .cast("long").alias("n_unique"),
        F.sum(F.when(F.col("span_ok"), 1).otherwise(0))
        .cast("long").alias("n_span_ok"),
        F.sum(F.when(F.col("classifier_ok"), 1).otherwise(0))
        .cast("long").alias("n_classifier_ok"),
        F.sum(
            F.when(
                F.col("unicode_ok") & F.col("gopher_keep")
                & F.col("is_keeper") & F.col("span_ok")
                & F.col("classifier_ok"),
                1,
            ).otherwise(0)
        ).cast("long").alias("n_survivors"),
    )


def _clean_unicode_sql(col: str, nfc: bool = False) -> str:
    """DuckDB twin of text.clean_unicode_expr: the IDENTICAL mojibake
    replace chain (same order) + the same control/zero-width class
    (RE2 'g' flag = Spark's replace-all); nfc=True appends DuckDB's
    utf8proc-backed nfc_normalize, mirroring the pandas-UDF stage."""
    e = col
    for bad, good in text.MOJIBAKE_REPAIRS:
        e = "replace({}, '{}', '{}')".format(e, bad, good)
    e = "regexp_replace({}, '{}', '', 'g')".format(e, text.CONTROL_ZW_CLASS)
    return f"nfc_normalize({e})" if nfc else e


CURATION_FUNNEL_SQL = """
WITH w AS (
  SELECT doc_id, source, text, string_split(trim(lower(text)), ' ') AS ws,
         CAST(len(regexp_extract_all(text, '#')) AS INTEGER)
           + CAST(len(regexp_extract_all(text, '\\.\\.\\.')) AS INTEGER)
           AS symbol_hits
  FROM documents
),
gf AS (
  SELECT doc_id, source, text,
         (CAST(len(ws) AS INTEGER) >= 20
          AND CAST(len(ws) AS INTEGER) <= 100000
          AND CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE)
              / len(ws) BETWEEN 3.0 AND 10.0
          AND CAST(symbol_hits AS DOUBLE) / len(ws) <= 0.1
          AND CAST(len(list_filter(ws, x -> regexp_matches(x, '\\p{L}')))
                   AS DOUBLE) / len(ws) >= 0.8
          AND CAST(len(list_filter(ws,
                x -> x IN ('the','be','to','of','and','that','have','with')))
                   AS INTEGER) >= 2) AS gopher_keep
  FROM w
),
uni AS (
  SELECT doc_id, (__CLEAN_EXPR__ = text) AS unicode_ok FROM documents
),
keepers AS (
  SELECT doc_id,
         doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_keeper
  FROM documents
),
toks AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
grams AS (
  SELECT doc_id, md5(array_to_string(w[i:i+7], ' ')) AS gram_h
  FROM toks, LATERAL (SELECT unnest(range(1, len(w)-6)) AS i) r
  WHERE len(w) >= 8
),
gd AS (
  SELECT gram_h, COUNT(DISTINCT doc_id) AS ndocs FROM grams GROUP BY gram_h
),
per_doc AS (
  SELECT g.doc_id, COUNT(*) AS total_spans,
         SUM(CASE WHEN gd.ndocs >= 2 THEN 1 ELSE 0 END) AS dup_spans
  FROM grams g JOIN gd USING (gram_h) GROUP BY g.doc_id
),
spans AS (
  SELECT d.doc_id,
         (CASE WHEN COALESCE(p.total_spans, 0) > 0
               THEN CAST(p.dup_spans AS DOUBLE) / p.total_spans
               ELSE 0.0 END) <= 0.8 AS span_ok
  FROM documents d LEFT JOIN per_doc p USING (doc_id)
)
SELECT gf.source,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN u.unicode_ok THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unicode_ok,
       CAST(SUM(CASE WHEN gf.gopher_keep THEN 1 ELSE 0 END) AS BIGINT)
         AS n_gopher,
       CAST(SUM(CASE WHEN k.is_keeper THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unique,
       CAST(SUM(CASE WHEN s.span_ok THEN 1 ELSE 0 END) AS BIGINT)
         AS n_span_ok,
       CAST(SUM(CASE WHEN u.unicode_ok AND gf.gopher_keep AND k.is_keeper
                AND s.span_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors
FROM gf JOIN uni u USING (doc_id) JOIN keepers k USING (doc_id)
     JOIN spans s USING (doc_id)
GROUP BY gf.source
"""


# inject the unicode-gate twin (the replace chain contains braces-free
# literals, so plain .replace beats f-string brace escaping here)
CURATION_FUNNEL_SQL = CURATION_FUNNEL_SQL.replace(
    "__CLEAN_EXPR__", _clean_unicode_sql("text")
)

QUERIES.update({"curation_funnel_docs": curation_funnel_docs})
ORACLES.update({"curation_funnel_docs": CURATION_FUNNEL_SQL})


_UNICODE_TRAP = (
    " cafÃ© itâ€™s â€œquote"
    "â€¦ étude​zwctl"
    " dÃ©jÃ vu"
)


def clean_unicode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ftfy-class Unicode repair under the FULL hash gate (r10 —
    VERDICT r9 task 6): even-doc_id rows get a deterministic mojibake
    trap appended (UTF-8-as-Latin-1 digraphs, cp1252 punctuation, an
    NFD combining sequence, a zero-width space, a BEL control), then
    text.clean_unicode repairs + strips + NFC-normalizes. The DuckDB
    twin applies the IDENTICAL replace chain and regex class plus
    utf8proc's nfc_normalize — cross-engine proof that the repair is a
    pure deterministic function, not best-effort cleanup. Repair and
    strip are codegen column exprs; NFC is the one Arrow-batched
    stage (llm/text.py clean_unicode)."""
    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    corrupted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.col("text"), F.lit(_UNICODE_TRAP)),
        ).otherwise(F.col("text")).alias("text"),
    )
    out = text.clean_unicode(
        corrupted, "text", out_col="clean_text", normalize="NFC"
    )
    return out.select("doc_id", "clean_text", "unicode_changed")


CLEAN_UNICODE_SQL = """
WITH c AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN text || '__TRAP__'
              ELSE text END AS text
  FROM documents
), cl AS (
  SELECT doc_id, text, __CLEAN_NFC__ AS clean_text FROM c
)
SELECT doc_id, clean_text, (clean_text != text) AS unicode_changed
FROM cl
""".replace("__TRAP__", _UNICODE_TRAP).replace(
    "__CLEAN_NFC__", _clean_unicode_sql("text", nfc=True)
)

QUERIES.update({"clean_unicode_docs": clean_unicode_docs})
ORACLES.update({"clean_unicode_docs": CLEAN_UNICODE_SQL})


def boilerplate_lines_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level boilerplate removal (RefinedWeb/CCNet line dedup)
    under the FULL hash gate (r10): every doc is staged with a global
    nav header and a per-source copyright footer (deterministic
    in-query construction, the clean_unicode_docs convention), then
    dedup.remove_boilerplate_lines drops lines occurring in >= 5
    distinct docs of the same source and re-joins the survivors. The
    oracle hashes the full rewritten text, the kept-line counts, and
    the boilerplate counts."""
    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    staged = docs.select(
        "doc_id", "source",
        F.concat_ws(
            "\n",
            F.lit("SITE NAV home about contact"),
            F.col("text"),
            F.concat(F.lit("COPYRIGHT "), F.col("source")),
        ).alias("text"),
    )
    out = dedup.remove_boilerplate_lines(
        staged, min_docs=5, scope_col="source", delim="\n",
        out_col="clean_text",
    )
    return out.select(
        "doc_id", "clean_text", "n_kept_lines", "n_boilerplate_lines"
    )


BOILERPLATE_LINES_SQL = """
WITH c AS (
  SELECT doc_id, source,
         'SITE NAV home about contact' || chr(10) || text ||
         chr(10) || 'COPYRIGHT ' || source AS text
  FROM documents
),
l AS (
  SELECT t.doc_id, t.source, g.i - 1 AS pos, t.ws[g.i] AS line
  FROM (SELECT doc_id, source, string_split(text, chr(10)) AS ws FROM c) t,
       LATERAL (SELECT unnest(range(1, len(t.ws) + 1)) AS i) g
),
b AS (
  SELECT source, md5(line) AS lh
  FROM l GROUP BY source, md5(line)
  HAVING COUNT(DISTINCT doc_id) >= 5
),
kept AS (
  SELECT l.doc_id, l.pos, l.line
  FROM l LEFT JOIN b ON b.source = l.source AND b.lh = md5(l.line)
  WHERE b.lh IS NULL
),
r AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
         CAST(COUNT(*) AS BIGINT) AS n_kept_lines
  FROM kept GROUP BY doc_id
)
SELECT c.doc_id,
       COALESCE(r.clean_text, '') AS clean_text,
       CAST(COALESCE(r.n_kept_lines, 0) AS BIGINT) AS n_kept_lines,
       CAST(len(string_split(c.text, chr(10))) AS BIGINT)
         - CAST(COALESCE(r.n_kept_lines, 0) AS BIGINT)
         AS n_boilerplate_lines
FROM c LEFT JOIN r USING (doc_id)
"""

QUERIES.update({"boilerplate_lines_docs": boilerplate_lines_docs})
ORACLES.update({"boilerplate_lines_docs": BOILERPLATE_LINES_SQL})


def boilerplate_paragraphs_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Paragraph-level boilerplate removal (VERDICT r10 task 8 —
    RefinedWeb runs the dedup stage at BOTH line and paragraph
    granularity): every doc is staged with a TWO-LINE nav header
    block and a two-line per-source footer block separated by blank
    lines, so the repeated unit is a multi-line paragraph that line
    granularity could only remove piecemeal.
    dedup.remove_boilerplate_lines(granularity='paragraph') drops
    blocks occurring in >= 5 distinct docs of the same source; the
    oracle replays the identical (?:\\n){2,} split in DuckDB and
    hashes the rewritten text plus both unit counts."""
    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    staged = docs.select(
        "doc_id", "source",
        F.concat_ws(
            "\n\n",
            F.lit("SITE NAV\nhome about contact"),
            F.col("text"),
            F.concat(
                F.lit("COPYRIGHT "), F.col("source"),
                F.lit("\nall rights reserved"),
            ),
        ).alias("text"),
    )
    out = dedup.remove_boilerplate_lines(
        staged, min_docs=5, scope_col="source", delim="\n",
        granularity="paragraph", out_col="clean_text",
    )
    return out.select(
        "doc_id", "clean_text",
        F.col("n_kept_lines").alias("n_kept_paragraphs"),
        F.col("n_boilerplate_lines").alias("n_boilerplate_paragraphs"),
    )


BOILERPLATE_PARAGRAPHS_SQL = r"""
WITH c AS (
  SELECT doc_id, source,
         'SITE NAV' || chr(10) || 'home about contact' ||
         chr(10) || chr(10) || text || chr(10) || chr(10) ||
         'COPYRIGHT ' || source || chr(10) || 'all rights reserved'
           AS text
  FROM documents
),
l AS (
  SELECT t.doc_id, t.source, g.i - 1 AS pos, t.ws[g.i] AS par
  FROM (SELECT doc_id, source,
               regexp_split_to_array(text, '(?:\n){2,}') AS ws
        FROM c) t,
       LATERAL (SELECT unnest(range(1, len(t.ws) + 1)) AS i) g
),
b AS (
  SELECT source, md5(par) AS ph
  FROM l GROUP BY source, md5(par)
  HAVING COUNT(DISTINCT doc_id) >= 5
),
kept AS (
  SELECT l.doc_id, l.pos, l.par
  FROM l LEFT JOIN b ON b.source = l.source AND b.ph = md5(l.par)
  WHERE b.ph IS NULL
),
r AS (
  SELECT doc_id,
         string_agg(par, chr(10) || chr(10) ORDER BY pos) AS clean_text,
         CAST(COUNT(*) AS BIGINT) AS n_kept_paragraphs
  FROM kept GROUP BY doc_id
)
SELECT c.doc_id,
       COALESCE(r.clean_text, '') AS clean_text,
       CAST(COALESCE(r.n_kept_paragraphs, 0) AS BIGINT)
         AS n_kept_paragraphs,
       CAST(len(regexp_split_to_array(c.text, '(?:\n){2,}')) AS BIGINT)
         - CAST(COALESCE(r.n_kept_paragraphs, 0) AS BIGINT)
         AS n_boilerplate_paragraphs
FROM c LEFT JOIN r USING (doc_id)
"""

QUERIES.update({"boilerplate_paragraphs_docs": boilerplate_paragraphs_docs})
ORACLES.update({"boilerplate_paragraphs_docs": BOILERPLATE_PARAGRAPHS_SQL})


def shuffle_order_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle (r10): every doc
    gets a shuffle_idx = its rank under the portable md5 fold of
    (seed=7, doc_id) — reproducible across engines/partitionings
    (unlike orderBy(rand())), computed by the distributed two-pass
    row_number (no Exchange SinglePartition)."""
    _prep(spark)
    docs = read_table(spark, sf_dir, "documents")
    return curation.global_shuffle(docs, "doc_id", seed=7).select(
        "doc_id", "shuffle_idx"
    )


SHUFFLE_ORDER_SQL = """
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (
         ORDER BY CAST(concat('0x', substring(
           md5(concat('7:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT),
           doc_id
       ) AS BIGINT) AS shuffle_idx
FROM documents
"""

QUERIES.update({"shuffle_order_docs": shuffle_order_docs})
ORACLES.update({"shuffle_order_docs": SHUFFLE_ORDER_SQL})


def temperature_mixture_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture sampling (r10, the mT5/XLM-R
    low-resource up-weighting convention): per-lang keep fraction
    min(1, (sqrt(n_i)/Σ sqrt(n_j)) * 300 / n_i), row selection by the
    portable hash unit. alpha=0.5 keeps the oracle bit-exact: sqrt is
    IEEE-correctly-rounded in both engines and the normalizer folds
    through DECIMAL(38,12) (exact, order-independent) before one
    double division."""
    _prep(spark)
    docs = read_table(spark, sf_dir, "documents")
    return curation.temperature_mixture_sample(
        docs, strata_col="lang", key_col="doc_id",
        target_rows=300, alpha=0.5, seed=42,
    ).select("doc_id", "lang")


TEMPERATURE_MIXTURE_SQL = """
WITH tot AS (
  SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
),
s AS (
  SELECT CAST(SUM(CAST(sqrt(CAST(n AS DOUBLE)) AS DECIMAL(38, 12)))
              AS DOUBLE) AS nrm
  FROM tot
),
fr AS (
  SELECT lang,
         LEAST(1.0, sqrt(CAST(n AS DOUBLE)) / nrm * 300.0 / n) AS f
  FROM tot, s
),
h AS (
  SELECT doc_id, lang,
         CAST(concat('0x', substring(
           md5(concat('42:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
           / 1152921504606846976.0 AS u
  FROM documents
)
SELECT h.doc_id, h.lang FROM h JOIN fr USING (lang) WHERE u < f
"""

QUERIES.update({"temperature_mixture_docs": temperature_mixture_docs})
ORACLES.update({"temperature_mixture_docs": TEMPERATURE_MIXTURE_SQL})


def winnow_signals_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al. 2003 / MOSS) as a
    per-doc duplication signal (r10): k=5 word-gram hashes, window=4
    minima — the deterministic-guarantee counterpart of MinHash (any
    shared run of >= 8 words shares a fingerprint). Emits the sketch
    size and how many of the doc's fingerprints are shared with at
    least one other document; short docs (< 8 words) report 0/0.
    Portable md5-fold hashes, so DuckDB rebuilds the exact sketch."""
    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    fps = dedup.winnow_fingerprints(docs, "doc_id", "text", k=5, window=4)
    freq = fps.groupBy("fp").agg(
        F.count_distinct("id").alias("nd")
    )
    per_doc = (
        fps.join(freq, "fp")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_fps"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0))
            .cast("long").alias("n_shared_fps"),
        )
    )
    return docs.join(per_doc, docs.doc_id == per_doc.id, "left").select(
        "doc_id",
        F.coalesce("n_fps", F.lit(0).cast("long")).alias("n_fps"),
        F.coalesce("n_shared_fps", F.lit(0).cast("long"))
        .alias("n_shared_fps"),
    )


WINNOW_SIGNALS_SQL = """
WITH w AS (
  SELECT doc_id, string_split(trim(text), ' ') AS ws
  FROM documents
  WHERE len(string_split(trim(text), ' ')) >= 8
),
g AS (
  SELECT doc_id,
         list_transform(range(1, len(ws) - 3), i ->
           CAST(concat('0x', substring(
             md5(array_to_string(ws[i:i+4], ' ')), 1, 15)) AS BIGINT)
         ) AS gh
  FROM w
),
f AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(range(1, len(gh) - 2),
           i -> list_min(gh[i:i+3])))) AS fp
  FROM g
),
fr AS (SELECT fp, COUNT(DISTINCT doc_id) AS nd FROM f GROUP BY fp),
pd AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fps,
         CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_shared_fps
  FROM f JOIN fr USING (fp) GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(pd.n_fps, 0) AS BIGINT) AS n_fps,
       CAST(COALESCE(pd.n_shared_fps, 0) AS BIGINT) AS n_shared_fps
FROM documents d LEFT JOIN pd USING (doc_id)
"""

QUERIES.update({"winnow_signals_docs": winnow_signals_docs})
ORACLES.update({"winnow_signals_docs": WINNOW_SIGNALS_SQL})


def lexical_diversity_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical-diversity report (r10): token/type/hapax
    counts, type-token ratio, hapax ratio — the corpus-QA numbers that
    flag template spam (collapsing TTR) and OCR/mojibake noise
    (exploding hapax ratio) before mixing."""
    _prep(spark)
    docs = read_table(spark, sf_dir, "documents")
    return text.lexical_diversity(docs, "source", "text")


LEXDIV_SQL = """
WITH toks AS (
  SELECT source, t.tok
  FROM documents,
       LATERAL unnest(string_split(trim(lower(text)), ' ')) AS t(tok)
  WHERE t.tok <> ''
),
pt AS (SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY source, tok)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS BIGINT)
         AS type_token_ratio,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS hapax_ratio
FROM pt GROUP BY source
"""

QUERIES.update({"lexical_diversity_sources": lexical_diversity_sources})
ORACLES.update({"lexical_diversity_sources": LEXDIV_SQL})


# full-text substitutions so dominant_script actually varies (the
# corpus is ASCII); real multi-script strings, built once and shared
# with the SQL twin
_SCRIPT_RU = "привет мир это простой русский текст для проверки"
_SCRIPT_ZH = "这是一个用于测试的中文句子包含很多汉字"
_SCRIPT_MIX = "αβγδε σλαμ سلام عليكم ورحمة الله plus latin tail"


def script_profile_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script triage (r10): doc_id % 4 selects all-Cyrillic /
    all-Han / Greek+Arabic-mixed substitute texts (the corpus itself
    is ASCII), then text.script_profile counts letters per script
    class and elects the dominant script. Java regex \\p{IsX} and RE2
    \\p{X} name the same Unicode Script property, so counts hash-match
    across engines."""
    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    staged = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 1, F.lit(_SCRIPT_RU))
        .when(F.col("doc_id") % 4 == 2, F.lit(_SCRIPT_ZH))
        .when(F.col("doc_id") % 4 == 3, F.lit(_SCRIPT_MIX))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = text.script_profile(staged, "text")
    return out.select(
        "doc_id", "script_latin", "script_cyrillic", "script_han",
        "script_arabic", "script_greek", "script_letters", "script_other",
        "dominant_script",
    )


def _script_profile_sql() -> str:
    cnt = {
        name: (
            f"CAST(len(regexp_extract_all(text, '{re2}')) AS BIGINT)"
        )
        for name, _java, re2 in text.SCRIPT_CLASSES
    }
    known = " + ".join(f"script_{n}" for n in cnt)
    # dominant: earlier list entries win ties (mirror the Spark fold)
    dom = "'none'"
    prev_names: list = []
    for name in cnt:  # rebuild the running strictly-greater election
        gt_prior = " AND ".join(
            [f"script_{name} > script_{p}" for p in prev_names] + [f"script_{name} > 0"]
        )
        dom = f"CASE WHEN {gt_prior} THEN '{name}' ELSE {dom} END"
        prev_names.append(name)
    return f"""
WITH c AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 1 THEN '{_SCRIPT_RU}'
              WHEN doc_id % 4 = 2 THEN '{_SCRIPT_ZH}'
              WHEN doc_id % 4 = 3 THEN '{_SCRIPT_MIX}'
              ELSE text END AS text
  FROM documents
),
s AS (
  SELECT doc_id,
         {", ".join(f"{e} AS script_{n}" for n, e in cnt.items())},
         CAST(len(regexp_extract_all(text, '\\p{{L}}')) AS BIGINT)
           AS script_letters
  FROM c
)
SELECT doc_id, script_latin, script_cyrillic, script_han, script_arabic,
       script_greek, script_letters,
       CAST(script_letters - ({known}) AS BIGINT) AS script_other,
       {dom} AS dominant_script
FROM s
"""


QUERIES.update({"script_profile_docs": script_profile_docs})
ORACLES.update({"script_profile_docs": _script_profile_sql()})


def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-iteration BPE tokenizer-training statistics (r10,
    Sennrich et al. 2016): the corpus collapses to its vocabulary,
    adjacent character pairs explode off the vocab table weighted by
    word frequency, and the top-20 merge candidates come back
    count-desc with a deterministic pair tiebreak."""
    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    return text.bpe_pair_stats(docs, "text", top_k=20)


BPE_PAIRS_SQL = """
WITH words AS (
  SELECT t.w, COUNT(*) AS wc
  FROM documents,
       LATERAL unnest(string_split(trim(lower(text)), ' ')) AS t(w)
  WHERE t.w <> '' GROUP BY t.w
),
pairs AS (
  SELECT p.pair, wc
  FROM words,
       LATERAL unnest(list_transform(range(1, length(w)),
         i -> w[i:i] || ' ' || w[i+1:i+1])) AS p(pair)
  WHERE length(w) >= 2
)
SELECT pair, CAST(SUM(wc) AS BIGINT) AS pair_count
FROM pairs GROUP BY pair
ORDER BY pair_count DESC, pair ASC
LIMIT 20
"""

QUERIES.update({"bpe_merge_candidates": bpe_merge_candidates})
ORACLES.update({"bpe_merge_candidates": BPE_PAIRS_SQL})


def corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus data card (r10) — the summary block a dataset
    release ships: doc/source/lang counts, exact token and char
    totals, exact-duplicate rate, Gopher pass rate (min_words=20 for
    this corpus), and doc-length percentiles. A composition query:
    every number reuses an already-oracled operator; the final 1-row
    aggregate is an ALLOWED SinglePartition (scalar summary)."""
    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    flagged = text.gopher_quality_flags(docs, "text", min_words=20)
    toks = docs.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    n_tokens = toks.count()  # O(1) driver scalar, injected as literal
    dup_docs = (
        docs.groupBy(F.md5("text"))
        .agg(F.count(F.lit(1)).alias("c"))
        .filter("c > 1")
        .agg(F.coalesce(F.sum(F.col("c") - 1), F.lit(0)).alias("extra"))
        .first()["extra"]
    )
    return flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count_distinct("source").cast("long").alias("n_sources"),
        F.count_distinct("lang").cast("long").alias("n_langs"),
        F.lit(int(n_tokens)).cast("long").alias("n_tokens"),
        F.sum(F.length("text")).cast("long").alias("n_chars"),
        F.lit(int(dup_docs)).cast("long").alias("n_exact_dup_docs"),
        F.sum(F.when(F.col("gopher_keep"), 1).otherwise(0))
        .cast("long").alias("n_gopher_pass"),
        # interpolated percentiles: Spark `percentile` == DuckDB
        # `quantile_cont` (the percentiles_by_source convention)
        F.expr("percentile(n_chars, 0.5)").alias("len_p50"),
        F.expr("percentile(n_chars, 0.9)").alias("len_p90"),
    )


def _datacard_sql() -> str:
    # reuse the gopher rule bundle CTEs (identical thresholds at
    # min_words=20) for the pass count
    return """
WITH w AS (
  SELECT doc_id, n_chars, string_split(trim(lower(text)), ' ') AS ws,
         length(text) AS txt_len,
         CAST(len(regexp_extract_all(text, '#')) AS INTEGER)
           + CAST(len(regexp_extract_all(text, '\\.\\.\\.')) AS INTEGER)
           AS symbol_hits
  FROM documents
),
gf AS (
  SELECT doc_id, n_chars, txt_len,
         (CAST(len(ws) AS INTEGER) >= 20
          AND CAST(len(ws) AS INTEGER) <= 100000
          AND CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE)
              / len(ws) BETWEEN 3.0 AND 10.0
          AND CAST(symbol_hits AS DOUBLE) / len(ws) <= 0.1
          AND CAST(len(list_filter(ws, x -> regexp_matches(x, '\\p{L}')))
                   AS DOUBLE) / len(ws) >= 0.8
          AND CAST(len(list_filter(ws,
                x -> x IN ('the','be','to','of','and','that','have','with')))
                   AS INTEGER) >= 2) AS gopher_keep
  FROM w
),
tok AS (
  SELECT COUNT(*) AS n_tokens
  FROM documents,
       LATERAL unnest(string_split(trim(lower(text)), ' ')) AS t(tok)
  WHERE t.tok <> ''
),
dup AS (
  SELECT CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) AS n_exact_dup_docs
  FROM (SELECT md5(text) AS h, COUNT(*) AS c FROM documents
        GROUP BY md5(text) HAVING COUNT(*) > 1)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT d.source) AS BIGINT) AS n_sources,
       CAST(COUNT(DISTINCT d.lang) AS BIGINT) AS n_langs,
       CAST((SELECT n_tokens FROM tok) AS BIGINT) AS n_tokens,
       CAST(SUM(gf.txt_len) AS BIGINT) AS n_chars,
       (SELECT n_exact_dup_docs FROM dup) AS n_exact_dup_docs,
       CAST(SUM(CASE WHEN gf.gopher_keep THEN 1 ELSE 0 END) AS BIGINT)
         AS n_gopher_pass,
       quantile_cont(d.n_chars, 0.5) AS len_p50,
       quantile_cont(d.n_chars, 0.9) AS len_p90
FROM documents d JOIN gf USING (doc_id)
"""


QUERIES.update({"corpus_datacard": corpus_datacard})
ORACLES.update({"corpus_datacard": _datacard_sql()})


def winsorize_doc_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source winsorized doc lengths (r10): n_chars clamped to the
    per-source [p05, p95] interpolated percentiles — the robustness
    pre-step before any mean/variance length normalization. ONE
    aggregate computes both bounds per source; the clamp is map-side.
    Spark percentile == DuckDB quantile_cont, so the clamped doubles
    hash-match."""
    _prep(spark)
    docs = read_table(spark, sf_dir, "documents")
    out = curation.winsorize(
        docs, "n_chars", lower=0.05, upper=0.95,
        group_col="source", out_col="n_chars_w",
    )
    return out.select("doc_id", "source", "n_chars", "n_chars_w")


WINSORIZE_SQL = """
WITH b AS (
  SELECT source,
         quantile_cont(n_chars, 0.05) AS lo,
         quantile_cont(n_chars, 0.95) AS hi
  FROM documents GROUP BY source
)
SELECT d.doc_id, d.source, d.n_chars,
       LEAST(GREATEST(CAST(d.n_chars AS DOUBLE), b.lo), b.hi) AS n_chars_w
FROM documents d JOIN b USING (source)
"""

QUERIES.update({"winsorize_doc_lengths": winsorize_doc_lengths})
ORACLES.update({"winsorize_doc_lengths": WINSORIZE_SQL})


def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diverse reranking (r10, Carbonell & Goldstein 1998) under
    the FULL hash gate: for queries vec_id < 20, greedily pick 5 of
    the top-10 cosine candidates maximizing lam*rel - (1-lam)*max-sim
    -to-picked (lam=0.5). The greedy loop runs as a cogrouped
    applyInPandas over JVM-rounded doubles; the DuckDB twin replays
    the identical greedy via a RECURSIVE CTE with a lexicographic
    struct-max argmax — selections AND scores hash-match, proving the
    Python step is a deterministic function of the rounded inputs,
    not a best-effort heuristic."""
    _prep(spark)
    emb = read_table(spark, sf_dir, "embeddings", cpu_heavy=True)
    return similarity.mmr_topk(
        emb, "vec_id", "embedding",
        k=5, n_candidates=10, lam=0.5, query_filter="vec_id < 20",
    )


MMR_SQL = """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 20),
c AS (SELECT vec_id AS nbr_id, CAST(embedding AS DOUBLE[]) AS nv
      FROM embeddings),
scored AS (
  SELECT query_id, nbr_id, qv, nv,
         round(list_dot_product(qv, nv)
               / (sqrt(list_dot_product(qv, qv))
                  * sqrt(list_dot_product(nv, nv))), 6) AS cosine
  FROM q JOIN c ON nbr_id <> query_id
),
cand AS (
  SELECT query_id, nbr_id, cosine, nv
  FROM (
    SELECT query_id, nbr_id, cosine, nv,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, nbr_id) AS rnk
    FROM scored
  ) WHERE rnk <= 10
),
sims AS (
  SELECT a.query_id, a.nbr_id AS sa, b.nbr_id AS sb,
         round(list_dot_product(a.nv, b.nv)
               / (sqrt(list_dot_product(a.nv, a.nv))
                  * sqrt(list_dot_product(b.nv, b.nv))), 6) AS sim
  FROM cand a JOIN cand b
    ON a.query_id = b.query_id AND a.nbr_id <> b.nbr_id
),
g AS (
  WITH RECURSIVE gr AS (
    SELECT query_id, 1 AS mmr_rank,
           -((max(struct_pack(sc := cosine, nid := -nbr_id))).nid)
             AS nbr_id,
           (max(struct_pack(sc := cosine, nid := -nbr_id))).sc
             AS mmr_score,
           [-((max(struct_pack(sc := cosine, nid := -nbr_id))).nid)]
             AS sel
    FROM cand GROUP BY query_id
    UNION ALL
    SELECT query_id, mmr_rank + 1,
           -((max(struct_pack(sc := mmr, nid := -nbr_id))).nid),
           (max(struct_pack(sc := mmr, nid := -nbr_id))).sc,
           list_append(sel,
             -((max(struct_pack(sc := mmr, nid := -nbr_id))).nid))
    FROM (
      SELECT gr.query_id, gr.mmr_rank, gr.sel, cd.nbr_id,
             0.5 * cd.cosine - 0.5 * (
               SELECT MAX(s.sim) FROM sims s
               WHERE s.query_id = cd.query_id AND s.sa = cd.nbr_id
                 AND list_contains(gr.sel, s.sb)
             ) AS mmr
      FROM gr JOIN cand cd
        ON cd.query_id = gr.query_id
       AND NOT list_contains(gr.sel, cd.nbr_id)
      WHERE gr.mmr_rank < 5
    ) GROUP BY query_id, mmr_rank, sel
  )
  SELECT query_id, nbr_id, mmr_rank, mmr_score FROM gr
)
SELECT CAST(query_id AS BIGINT) AS query_id,
       CAST(nbr_id AS BIGINT) AS nbr_id,
       CAST(mmr_rank AS INTEGER) AS mmr_rank,
       CAST(mmr_score AS DOUBLE) AS mmr_score
FROM g
"""

QUERIES.update({"mmr_diverse_topk": mmr_diverse_topk})
ORACLES.update({"mmr_diverse_topk": MMR_SQL})


def cms_incremental_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-batch incremental CMS replay under the correctness gate:
    fold the even-doc_id batch then the odd-doc_id batch into a
    cms_incremental parquet state, then point-query every distinct
    token. Because CMS folding is exact cell arithmetic, the oracle is
    simply the ONE-SHOT sketch built over the whole corpus in DuckDB —
    the replay-equals-one-shot property as a driver-checked hash match
    (the frequency analog of dedup_incremental_docs)."""
    import shutil
    import tempfile

    _prep(spark)
    from odibi_spark.llm import cms
    from odibi_spark.patterns.aggregation import cms_incremental

    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    tokens = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    tmp = tempfile.mkdtemp(prefix="cms_incr_wl_")
    try:
        for parity in (0, 1):
            state = cms_incremental(
                spark, tokens.filter(F.col("doc_id") % 2 == parity),
                target_path=f"{tmp}/state", key_col="tok",
                width=128, depth=3, seed=21,
            )
        truth = tokens.groupBy("tok").agg(
            F.count(F.lit(1)).alias("true_cnt")
        )
        est = cms.cms_query(
            state, truth.select("tok"), "tok", width=128, depth=3, seed=21
        )
        out = truth.join(est, "tok").select(
            "tok", "true_cnt", F.col("est_cnt").cast("long").alias("est_cnt")
        )
        out = out.localCheckpoint(eager=True)  # state dir is deleted below
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


CMS_INCR_SQL = """
WITH toks AS (
  SELECT tok
  FROM (SELECT unnest(string_split(trim(lower(text)), ' ')) AS tok
        FROM documents)
  WHERE tok <> ''
),
depths AS (SELECT unnest(range(3)) AS depth),
cells AS (
  SELECT d.depth,
         CAST(concat('0x', substring(md5(concat('21:', CAST(d.depth AS VARCHAR),
                                            ':', tok)), 1, 15)) AS BIGINT)
           % 128 AS bucket
  FROM toks, depths d
),
cms AS (SELECT depth, bucket, COUNT(*) AS cnt FROM cells GROUP BY 1, 2),
truth AS (SELECT tok, COUNT(*) AS true_cnt FROM toks GROUP BY tok),
probes AS (
  SELECT t.tok, d.depth,
         CAST(concat('0x', substring(md5(concat('21:', CAST(d.depth AS VARCHAR),
                                            ':', t.tok)), 1, 15)) AS BIGINT)
           % 128 AS bucket
  FROM truth t, depths d
),
est AS (
  SELECT p.tok, MIN(COALESCE(c.cnt, 0)) AS est_cnt
  FROM probes p LEFT JOIN cms c USING (depth, bucket)
  GROUP BY p.tok
)
SELECT t.tok, CAST(t.true_cnt AS BIGINT) AS true_cnt,
       CAST(e.est_cnt AS BIGINT) AS est_cnt
FROM truth t JOIN est e USING (tok)
"""


def rp_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL projection quality as a driver-checked number: recall@5 of
    brute-force cosine top-k computed in the 16-dim PROJECTED space
    against top-k in the original 64-dim space (queries vec_id < 20).
    The measurement loop for 'can downstream ANN run on the 4x
    narrower vectors' — composed from random_projection + cosine_topk
    + ann_recall, every stage already oracled."""
    _prep(spark)
    emb = read_table(spark, sf_dir, "embeddings", cpu_heavy=True)
    proj = similarity.random_projection(
        emb, "vec_id", "embedding", out_dim=16, seed=11
    )
    exact = similarity.cosine_topk(
        emb, "vec_id", "embedding", query_filter="vec_id < 20", k=5
    )
    approx = similarity.cosine_topk(
        proj, "vec_id", "rp_vec", query_filter="vec_id < 20", k=5
    )
    return similarity.ann_recall(exact, approx)


def _rp_ann_recall_oracle_sql(out_dim: int = 16, dim: int = 64,
                              seed: int = 11, k: int = 5) -> str:
    import numpy as np

    mat = np.random.default_rng(seed).standard_normal((out_dim, dim))
    mat = mat / np.sqrt(out_dim)
    comps = ",\n    ".join(
        "round(list_dot_product(vec, [{vals}]), 6)".format(
            vals=", ".join(repr(float(x)) for x in mat[i])
        )
        for i in range(out_dim)
    )
    return f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
),
p AS (
  SELECT vec_id, [{comps}] AS vec FROM v
),
exact_nn AS (
  SELECT query_id, nbr_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_dot_product(q.vec, c.vec)
                 / (sqrt(list_dot_product(q.vec, q.vec))
                    * sqrt(list_dot_product(c.vec, c.vec))), 6) DESC,
               c.vec_id) AS rank
    FROM v q JOIN v c ON q.vec_id < 20 AND c.vec_id <> q.vec_id
  ) WHERE rank <= {k}
),
approx_nn AS (
  SELECT query_id, nbr_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_dot_product(q.vec, c.vec)
                 / (sqrt(list_dot_product(q.vec, q.vec))
                    * sqrt(list_dot_product(c.vec, c.vec))), 6) DESC,
               c.vec_id) AS rank
    FROM p q JOIN p c ON q.vec_id < 20 AND c.vec_id <> q.vec_id
  ) WHERE rank <= {k}
),
truth AS (
  SELECT query_id, COUNT(*) AS truth_n FROM exact_nn GROUP BY query_id
),
hits AS (
  SELECT t.query_id, COUNT(*) AS hits
  FROM exact_nn t
  WHERE EXISTS (SELECT 1 FROM approx_nn a
                WHERE a.query_id = t.query_id AND a.nbr_id = t.nbr_id)
  GROUP BY t.query_id
)
SELECT t.query_id, t.truth_n,
       CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
       CAST(COALESCE(h.hits, 0) AS DOUBLE) / t.truth_n AS recall
FROM truth t LEFT JOIN hits h USING (query_id)
"""


QUERIES.update({
    "cms_incremental_terms": cms_incremental_terms,
    "rp_ann_recall": rp_ann_recall,
})
ORACLES.update({
    "cms_incremental_terms": CMS_INCR_SQL,
    "rp_ann_recall": _rp_ann_recall_oracle_sql(),
})


def streaming_cms_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy-hitter state (§2.14 x sketches): the documents
    token stream is driven through foreachBatch in MULTIPLE micro-
    batches (maxFilesPerTrigger=1 over a multi-file source), each
    folding its count-min sketch into the parquet running state via
    cms_incremental; the final point-queries hash-equal the ONE-SHOT
    DuckDB sketch because CMS folding is exact cell arithmetic — a
    streaming pipeline under the full hash gate, no rows-only waiver.
    """
    import shutil
    import tempfile

    _prep(spark)
    from odibi_spark.llm import cms
    from odibi_spark.patterns.aggregation import cms_incremental

    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    tmp = tempfile.mkdtemp(prefix="cms_stream_wl_")
    try:
        src = f"{tmp}/src"
        # >=3 files -> >=3 micro-batches at maxFilesPerTrigger=1
        docs.select("doc_id", "text").repartition(3).write.mode(
            "overwrite"
        ).parquet(src)
        stream = spark.readStream.schema("doc_id bigint, text string") \
            .option("maxFilesPerTrigger", "1").parquet(src)
        state_path = f"{tmp}/state"

        def fold(bdf, bid):
            toks = bdf.select(
                F.explode(
                    F.split(F.trim(F.lower(F.col("text"))), " ")
                ).alias("tok")
            ).filter(F.col("tok") != "")
            cms_incremental(
                bdf.sparkSession, toks,
                target_path=state_path, key_col="tok",
                width=64, depth=3, seed=33, batch_id=bid,
            )

        q = (
            stream.writeStream.foreachBatch(fold)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        from odibi_spark.patterns.aggregation import cms_state_read

        state = cms_state_read(spark, state_path)
        tokens = docs.select(
            F.explode(F.split(F.trim(F.lower(F.col("text"))), " ")).alias("tok")
        ).filter(F.col("tok") != "")
        truth = tokens.groupBy("tok").agg(F.count(F.lit(1)).alias("true_cnt"))
        est = cms.cms_query(
            state, truth.select("tok"), "tok", width=64, depth=3, seed=33
        )
        out = truth.join(est, "tok").select(
            "tok", "true_cnt", F.col("est_cnt").cast("long").alias("est_cnt")
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


STREAMING_CMS_SQL = """
WITH toks AS (
  SELECT tok
  FROM (SELECT unnest(string_split(trim(lower(text)), ' ')) AS tok
        FROM documents)
  WHERE tok <> ''
),
depths AS (SELECT unnest(range(3)) AS depth),
cells AS (
  SELECT d.depth,
         CAST(concat('0x', substring(md5(concat('33:', CAST(d.depth AS VARCHAR),
                                            ':', tok)), 1, 15)) AS BIGINT)
           % 64 AS bucket
  FROM toks, depths d
),
cms AS (SELECT depth, bucket, COUNT(*) AS cnt FROM cells GROUP BY 1, 2),
truth AS (SELECT tok, COUNT(*) AS true_cnt FROM toks GROUP BY tok),
probes AS (
  SELECT t.tok, d.depth,
         CAST(concat('0x', substring(md5(concat('33:', CAST(d.depth AS VARCHAR),
                                            ':', t.tok)), 1, 15)) AS BIGINT)
           % 64 AS bucket
  FROM truth t, depths d
),
est AS (
  SELECT p.tok, MIN(COALESCE(c.cnt, 0)) AS est_cnt
  FROM probes p LEFT JOIN cms c USING (depth, bucket)
  GROUP BY p.tok
)
SELECT t.tok, CAST(t.true_cnt AS BIGINT) AS true_cnt,
       CAST(e.est_cnt AS BIGINT) AS est_cnt
FROM truth t JOIN est e USING (tok)
"""


QUERIES.update({"streaming_cms_terms": streaming_cms_terms})
ORACLES.update({"streaming_cms_terms": STREAMING_CMS_SQL})


def streaming_incremental_dedup_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming near-dup ingest (r12, VERDICT r11 task 6): the corpus
    arrives as TWO sequential availableNow runs against one checkpoint
    (the streaming_ewma convention — deterministic batch composition:
    epoch 1 = doc_id <= mid, epoch 2 = the rest), each micro-batch
    flowing through foreachBatch -> HWM filter -> banded-store probe ->
    exactly-once partitioned output -> signature append -> HWM/epoch
    commit. The flagged output hash-equals the SAME one-shot DuckDB
    oracle as the batch-mode dedup_incremental_docs — streaming
    ingestion is provably just a replay schedule of the batch rule."""
    import os
    import shutil
    import tempfile

    from odibi_spark.llm.incremental import (
        SignatureStore,
        streaming_hwm_incremental_dedup,
    )
    from odibi_spark.state.hwm import JsonStateBackend

    _prep(spark)
    df = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    mid = df.agg(F.max("doc_id")).collect()[0][0] // 2
    tmp = tempfile.mkdtemp(prefix="incr_stream_wl_")
    try:
        src = f"{tmp}/src"
        out_path = f"{tmp}/flagged"
        store = SignatureStore(spark, os.path.join(tmp, "sigs"))
        state = JsonStateBackend(os.path.join(tmp, "state.json"))
        kw = dict(
            id_col="doc_id", text_col="text", n=3, num_perm=32, bands=8,
            threshold=0.2, hasher="portable", seed=42,
        )
        slices = [
            df.filter(F.col("doc_id") <= mid),
            df.filter(F.col("doc_id") > mid),
        ]
        for i, part in enumerate(slices):
            part.select("doc_id", "text").coalesce(1).write.mode(
                "append"
            ).parquet(src)
            stream = spark.readStream.schema(
                "doc_id bigint, text string"
            ).parquet(src)
            q = streaming_hwm_incremental_dedup(
                stream, store, state,
                output_path=out_path, checkpoint=f"{tmp}/ckpt",
                trigger={"availableNow": True}, **kw,
            )
            q.awaitTermination()
        out = (
            spark.read.parquet(out_path)
            .select("doc_id", "is_dup")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


QUERIES.update(
    {"streaming_incremental_dedup_docs": streaming_incremental_dedup_docs}
)
ORACLES.update(
    {"streaming_incremental_dedup_docs": _incr_dedup_oracle_sql()}
)


def epoch_mixture_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained epoch mixing (curation.epoch_repeat_sample):
    en repeats 2.5 epochs, fr 1.5, de 0.25, es 1.0, everything else
    defaults to 1 — fractional epochs keep the deterministic hash-unit
    subset (pure function of (doc_id, epoch, seed)). Factors use exact
    binary fractions so frac() is bit-identical across engines.
    Rolled up to (lang, epoch) counts."""
    _prep(spark)
    docs = read_table(spark, sf_dir, "documents")
    out = curation.epoch_repeat_sample(
        docs,
        factors={"en": 2.5, "fr": 1.5, "de": 0.25, "es": 1.0},
        strata_col="lang", key_col="doc_id", seed=42,
    )
    return out.groupBy("lang", "epoch").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count_distinct("doc_id").cast("long").alias("n_docs"),
    )


EPOCH_MIXTURE_SQL = """
WITH f AS (
  SELECT * FROM (VALUES ('en', 2.5), ('fr', 1.5), ('de', 0.25),
                        ('es', 1.0)) t(lang_f, factor)
),
d AS (
  SELECT doc_id, lang, COALESCE(f.factor, 1.0) AS factor
  FROM documents LEFT JOIN f ON lang = lang_f
),
e AS (
  SELECT doc_id, lang,
         CAST(floor(factor) AS INTEGER) AS whole,
         factor - floor(factor) AS frac,
         CAST(unnest(range(CAST(ceil(factor) AS BIGINT))) AS INTEGER)
           AS epoch
  FROM d WHERE factor > 0
),
kept AS (
  SELECT lang, epoch, doc_id FROM e
  WHERE epoch < whole
     OR CAST(concat('0x', substring(md5(concat('42:',
          CAST(doc_id AS VARCHAR), '#', CAST(epoch AS VARCHAR))), 1, 15))
          AS BIGINT) / 1152921504606846976.0 < frac
)
SELECT lang, epoch,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM kept GROUP BY lang, epoch
"""


QUERIES.update({"epoch_mixture_docs": epoch_mixture_docs})
ORACLES.update({"epoch_mixture_docs": EPOCH_MIXTURE_SQL})


def hybrid_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (similarity.rrf_fuse,
    k=60) of the BM25 lexical top-20 for a fixed term query with the
    embedding-cosine top-20 for the vec_id=0 query vector (vec ids
    align with doc ids in the synthetic corpus). The BM25 ranks come
    from the DISTRIBUTED two-pass global rank over the
    TakeOrderedAndProject'd top-20 — no SinglePartition window. With
    two rankers the per-doc double sum is order-invariant (pairwise
    IEEE addition commutes), so the fused scores hash identically."""
    _prep(spark)
    from odibi_spark.operators.rank import global_ranks

    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    emb = read_table(spark, sf_dir, "embeddings", cpu_heavy=True)

    scored = text.bm25_scores(docs, ["spark", "table", "fast"])
    top_lex = (
        scored.filter(F.col("bm25") > 0)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(20)
        .withColumn("neg_bm25", -F.col("bm25"))
    )
    lex_ranked = global_ranks(
        top_lex,
        order_by=["neg_bm25", "doc_id"],
        columns={"rank": {"function": "row_number"}},
    ).select("doc_id", "rank")

    sem_ranked = similarity.cosine_topk(
        emb, "vec_id", "embedding", query_ids=[0], k=20
    ).select(F.col("nbr_id").alias("doc_id"), "rank")

    return similarity.rrf_fuse(
        [lex_ranked, sem_ranked], id_col="doc_id", k=60
    )


HYBRID_SEARCH_SQL = f"""
WITH w AS (
  SELECT doc_id, string_split(trim(lower(text)), ' ') AS ws FROM documents
),
dl AS (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl FROM w),
tot AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         CAST(SUM(CAST(dl AS BIGINT)) AS DOUBLE) / COUNT(*) AS avgdl
  FROM dl
),
hits AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
  FROM (SELECT doc_id, unnest(ws) AS tok FROM w)
  WHERE tok IN ('spark', 'table', 'fast')
  GROUP BY doc_id, tok
),
dfreq AS (
  SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df_t FROM hits GROUP BY tok
),
parts AS (
  SELECT h.doc_id,
         round(ln((tot.n_docs - d.df_t + 0.5) / (d.df_t + 0.5) + 1.0)
               * (h.tf * (1.2 + 1.0))
               / (h.tf + 1.2 * ((1.0 - 0.75)
                                + (0.75 * l.dl) / tot.avgdl)),
               6) AS part
  FROM hits h JOIN dfreq d USING (tok) JOIN dl l USING (doc_id)
  CROSS JOIN tot
),
bm AS (
  SELECT doc_id, CAST(SUM(CAST(part AS {DEC})) AS DOUBLE) AS bm25
  FROM parts GROUP BY doc_id
),
lex AS (
  SELECT doc_id, rank FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
    FROM bm WHERE bm25 > 0
  ) WHERE rank <= 20
),
v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
),
sem AS (
  SELECT doc_id, rank FROM (
    SELECT c.vec_id AS doc_id,
           row_number() OVER (
             ORDER BY round(list_dot_product(q.vec, c.vec)
                 / (sqrt(list_dot_product(q.vec, q.vec))
                    * sqrt(list_dot_product(c.vec, c.vec))), 6) DESC,
               c.vec_id) AS rank
    FROM v q JOIN v c ON q.vec_id = 0 AND c.vec_id <> 0
  ) WHERE rank <= 20
),
u AS (
  SELECT doc_id, rank FROM lex UNION ALL SELECT doc_id, rank FROM sem
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_rankers,
       SUM(1.0 / (60.0 + rank)) AS rrf_score
FROM u GROUP BY doc_id
"""


QUERIES.update({"hybrid_search_docs": hybrid_search_docs})
ORACLES.update({"hybrid_search_docs": HYBRID_SEARCH_SQL})


def source_kl_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram KL divergence from the corpus distribution
    (text.source_divergence) — the domain-drift signal for mixture
    tuning: gibberish or off-distribution sources score high."""
    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    return text.source_divergence(docs, strata_col="source")


SOURCE_KL_SQL = """
WITH toks AS (
  SELECT source AS s, tok
  FROM (SELECT source,
               unnest(string_split(trim(lower(text)), ' ')) AS tok
        FROM documents)
  WHERE tok <> ''
),
sc AS (SELECT s, tok, COUNT(*) AS c_s FROM toks GROUP BY s, tok),
cc AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
stot AS (SELECT s, SUM(c_s) AS n_s FROM sc GROUP BY s),
ctot AS (SELECT SUM(c) AS n FROM cc),
terms AS (
  SELECT sc.s,
         round((CAST(sc.c_s AS DOUBLE) / stot.n_s)
               * ln((CAST(sc.c_s AS DOUBLE) / stot.n_s)
                    / (CAST(cc.c AS DOUBLE) / ctot.n)), 8) AS term,
         stot.n_s AS n_s
  FROM sc JOIN cc USING (tok) JOIN stot USING (s) CROSS JOIN ctot
)
SELECT s AS source,
       CAST(MAX(n_s) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens,
       CAST(SUM(CAST(term AS DECIMAL(28,8))) AS DOUBLE) AS kl_to_corpus
FROM terms GROUP BY s
"""


QUERIES.update({"source_kl_docs": source_kl_docs})
ORACLES.update({"source_kl_docs": SOURCE_KL_SQL})


# ---------------------------------------------------------------------------
# URL curation family (VERDICT r10 task 2): a deterministic URL column
# is synthesized in-query from (doc_id, source, lang) — the multimodal-
# payload convention — then normalized / domain-extracted / blocklist-
# gated / URL-deduped, with a DuckDB twin replaying the identical
# RE2-compatible rules.

def _synth_url_spark(key):
    """Deterministic messy URL: mixed-case scheme+host, five suffix
    families, default and non-default ports, tracking params, and
    fragments — every branch selected by ``key`` so the DuckDB twin
    rebuilds the same string."""
    from odibi_spark.llm import url as urlmod  # noqa: F401 (parity anchor)

    src, lang = F.col("source"), F.col("lang")
    host = (
        F.when(key % 5 == 0, F.concat(F.lit("WWW."), src, F.lit(".COM")))
        .when(key % 5 == 1, F.concat(F.lit("news."), src, F.lit(".co.uk")))
        .when(key % 5 == 2, F.concat(F.upper(src), F.lit(".ORG")))
        .when(key % 5 == 3, F.concat(F.lit("a.b."), src, F.lit(".com.au")))
        .otherwise(F.concat(F.lit("CDN."), src, F.lit(".io")))
    )
    scheme = F.when(key % 3 == 0, F.lit("HTTPS")).otherwise(F.lit("http"))
    port = (
        F.when(key % 4 == 0, F.lit(":443"))
        .when(key % 4 == 1, F.lit(":80"))
        .when(key % 4 == 2, F.lit(":8080"))
        .otherwise(F.lit(""))
    )
    path = F.when(key % 7 == 0, F.lit("")).otherwise(
        F.concat(F.lit("/Articles/"), (key % 50).cast("string"))
    )
    query = (
        F.when(key % 11 == 0, F.lit(""))
        .when(
            key % 2 == 0,
            F.concat(
                F.lit("?id="), key.cast("string"),
                F.lit("&utm_source=feed&ref=tw&q="), lang,
            ),
        )
        .otherwise(F.lit("?utm_campaign=Spring&fbclid=abc"))
    )
    frag = F.when(key % 3 == 1, F.lit("#Section-2")).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), host, port, path, query, frag)


def _synth_url_sql(key: str) -> str:
    """DuckDB twin of :func:`_synth_url_spark` (same key expression)."""
    return f"""
        (CASE WHEN ({key}) % 3 = 0 THEN 'HTTPS' ELSE 'http' END) || '://' ||
        (CASE WHEN ({key}) % 5 = 0 THEN 'WWW.' || source || '.COM'
              WHEN ({key}) % 5 = 1 THEN 'news.' || source || '.co.uk'
              WHEN ({key}) % 5 = 2 THEN upper(source) || '.ORG'
              WHEN ({key}) % 5 = 3 THEN 'a.b.' || source || '.com.au'
              ELSE 'CDN.' || source || '.io' END) ||
        (CASE WHEN ({key}) % 4 = 0 THEN ':443'
              WHEN ({key}) % 4 = 1 THEN ':80'
              WHEN ({key}) % 4 = 2 THEN ':8080' ELSE '' END) ||
        (CASE WHEN ({key}) % 7 = 0 THEN ''
              ELSE '/Articles/' || CAST(({key}) % 50 AS VARCHAR) END) ||
        (CASE WHEN ({key}) % 11 = 0 THEN ''
              WHEN ({key}) % 2 = 0 THEN
                   '?id=' || CAST(({key}) AS VARCHAR) ||
                   '&utm_source=feed&ref=tw&q=' || lang
              ELSE '?utm_campaign=Spring&fbclid=abc' END) ||
        (CASE WHEN ({key}) % 3 = 1 THEN '#Section-2' ELSE '' END)
    """


def _url_norm_ctes(synth_sql: str) -> str:
    """DuckDB CTE chain replaying url.url_normalize +
    url.registered_domain rule-for-rule (same anchored regexes, same
    tracking list, same suffix alternation — both generated from the
    llm/url constants)."""
    from odibi_spark.llm import url as urlmod

    trk = ", ".join(f"'{p}'" for p in urlmod.TRACKING_PARAMS)
    reg_case = urlmod.registered_domain_sql("host")
    return f"""
u0 AS (SELECT doc_id, trim({synth_sql}) AS u FROM src),
d1 AS (
  SELECT doc_id, u,
    lower(COALESCE(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1), '')) AS scheme,
    regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.\\-]*://', '') AS after
  FROM u0
),
d2 AS (
  SELECT doc_id, u, scheme,
    COALESCE(regexp_extract(after, '^([^/?#]*)', 1), '') AS auth,
    regexp_replace(after, '^[^/?#]*', '') AS tail
  FROM d1
),
d3 AS (
  SELECT *, regexp_replace(tail, '#.*$', '') AS nofrag,
    COALESCE(regexp_extract(auth, '^([^@]*)@', 1), '') AS userinfo,
    regexp_replace(auth, '^[^@]*@', '') AS hostport
  FROM d2
),
d4 AS (
  SELECT *, lower(COALESCE(regexp_extract(hostport, '^(\\[[^\\]]*\\]|[^:]*)', 1), '')) AS host0,
    COALESCE(regexp_extract(hostport, '^(?:\\[[^\\]]*\\]|[^:]*):([0-9]+)$', 1), '') AS port0,
    COALESCE(regexp_extract(nofrag, '^([^?]*)', 1), '') AS path0,
    COALESCE(regexp_extract(nofrag, '\\?(.*)$', 1), '') AS query0
  FROM d3
),
d5 AS (
  SELECT *,
    CASE WHEN (scheme = 'http' AND port0 = '80')
           OR (scheme = 'https' AND port0 = '443')
         THEN '' ELSE port0 END AS port1,
    COALESCE(array_to_string(list_filter(string_split(query0, '&'),
      p -> p <> ''
           AND NOT lower(split_part(p, '=', 1)) IN ({trk})
           AND NOT starts_with(lower(split_part(p, '=', 1)), 'utm_')
    ), '&'), '') AS query1,
    CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path1
  FROM d4
),
norm AS (
  SELECT doc_id,
    CASE WHEN scheme = '' THEN u
         ELSE scheme || '://' ||
              (CASE WHEN userinfo = '' THEN '' ELSE userinfo || '@' END) ||
              host0 ||
              (CASE WHEN port1 = '' THEN '' ELSE ':' || port1 END) ||
              path1 ||
              (CASE WHEN query1 = '' THEN '' ELSE '?' || query1 END)
    END AS url,
    CASE WHEN scheme = '' THEN NULL ELSE host0 END AS host
  FROM d5
),
reg AS (
  SELECT doc_id, url, host,
    {reg_case} AS registered_domain
  FROM norm
)"""


def url_normalize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + registered-domain extraction (the CCNet/
    RefinedWeb stage-1 key cleaning) under the full hash gate: a messy
    deterministic URL per document (mixed case, default/odd ports,
    tracking params, fragments, five public-suffix families), then
    url.url_normalize + url.registered_domain — all whole-stage-
    codegen regexp/HOF exprs, zero shuffle."""
    from odibi_spark.llm import url as urlmod

    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    staged = docs.select(
        "doc_id", "source", "lang",
        _synth_url_spark(F.col("doc_id")).alias("url"),
    )
    out = urlmod.registered_domain(
        urlmod.url_normalize(staged, "url", host_col="host"), "host"
    )
    return out.select("doc_id", "url", "host", "registered_domain")


URL_NORMALIZE_SQL = f"""
WITH src AS (SELECT doc_id, source, lang FROM documents),
{_url_norm_ctes(_synth_url_sql("doc_id"))}
SELECT doc_id, url, host, registered_domain FROM reg
"""

QUERIES.update({"url_normalize_docs": url_normalize_docs})
ORACLES.update({"url_normalize_docs": URL_NORMALIZE_SQL})


_URL_BLOCKLIST = ("src1.co.uk", "src2.org", "src4.com.au", "src5.io",
                  "src0.com", "src13.co.uk")


def domain_filter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full URL funnel: normalize -> registered domain ->
    blocklist anti-gate -> URL-key exact dedup. The synthesis keys
    every URL by doc_id % 200 so tracking/case variants of the same
    page genuinely collide across documents; the lowest doc_id per
    normalized URL survives. Blocklist holds NORMALIZED registered
    domains across three suffix families (literal NOT-IN path —
    pushed down, zero plan nodes)."""
    from odibi_spark.llm import url as urlmod

    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    staged = docs.select(
        "doc_id", "source", "lang",
        _synth_url_spark(F.col("doc_id") % 200).alias("url"),
    )
    out = urlmod.registered_domain(
        urlmod.url_normalize(staged, "url", host_col="host"), "host"
    )
    out = urlmod.filter_blocked_domains(out, list(_URL_BLOCKLIST))
    out = urlmod.dedup_by_url(out, "doc_id", "url")
    return out.select("doc_id", "url", "registered_domain")


DOMAIN_FILTER_SQL = f"""
WITH src AS (SELECT doc_id, source, lang FROM documents),
{_url_norm_ctes(_synth_url_sql("doc_id % 200"))}
SELECT doc_id, url, registered_domain
FROM reg
WHERE (registered_domain IS NULL
       OR registered_domain NOT IN ({", ".join(f"'{d}'" for d in _URL_BLOCKLIST)}))
QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY md5(url))
"""

QUERIES.update({"domain_filter_docs": domain_filter_docs})
ORACLES.update({"domain_filter_docs": DOMAIN_FILTER_SQL})


def bpe_trained_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE tokenizer training, the REAL Sennrich et al. 2016
    loop (VERDICT r10 task 3): 20 merge rounds over the documents
    corpus. Each round is one bounded groupBy over the VOCABULARY
    table (never the corpus — that is read once); the driver holds the
    O(20) merge list. The DuckDB oracle replays the identical 20
    iterations as generated CTE stages, with the greedy left-to-right
    merge expressed as a gaps-and-islands parity rule (provably equal
    to the Spark fold for a single-pair merge: a match is taken iff
    its offset inside a run of consecutive matches is even)."""
    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    return text.bpe_train(docs, "text", num_merges=20)


def _bpe_oracle_sql(k: int) -> str:
    stages = ["""
v0 AS MATERIALIZED (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS wc,
         list_append(list_transform(range(1, length(word) + 1),
                                    i -> word[CAST(i AS INTEGER)]),
                     '</w>') AS syms
  FROM (SELECT unnest(string_split(trim(lower(text)), ' ')) AS word
        FROM documents)
  WHERE word <> '' GROUP BY word
)"""]
    for i in range(1, k + 1):
        p = i - 1
        stages.append(f"""
b{i} AS MATERIALIZED (
  SELECT l, r, CAST(SUM(wc) AS BIGINT) AS c FROM (
    SELECT t.wc, t.syms[CAST(g.i AS INTEGER)] AS l,
           t.syms[CAST(g.i + 1 AS INTEGER)] AS r
    FROM v{p} t,
         LATERAL (SELECT unnest(range(1, len(t.syms))) AS i) g
    WHERE len(t.syms) >= 2
  ) GROUP BY l, r HAVING SUM(wc) >= 2
  ORDER BY c DESC, l, r LIMIT 1
),
e{i} AS (
  SELECT t.word, t.wc, CAST(g.i AS INTEGER) AS pos,
         t.syms[CAST(g.i AS INTEGER)] AS s,
         COALESCE(b.l IS NOT NULL AND g.i < len(t.syms)
                  AND t.syms[CAST(g.i AS INTEGER)] = b.l
                  AND t.syms[CAST(g.i + 1 AS INTEGER)] = b.r,
                  FALSE) AS m,
         b.l AS bl, b.r AS br
  FROM v{p} t LEFT JOIN b{i} b ON TRUE,
       LATERAL (SELECT unnest(range(1, len(t.syms) + 1)) AS i) g
),
k{i} AS (
  SELECT *, CASE WHEN m THEN
       (row_number() OVER (PARTITION BY word, grp ORDER BY pos) - 1)
         % 2 = 0
     ELSE FALSE END AS taken
  FROM (SELECT *, CASE WHEN m THEN pos - row_number()
                       OVER (PARTITION BY word, m ORDER BY pos) END AS grp
        FROM e{i})
),
v{i} AS MATERIALIZED (
  SELECT word, MAX(wc) AS wc,
         list(CASE WHEN taken THEN bl || br ELSE s END ORDER BY pos)
           AS syms
  FROM (SELECT *, COALESCE(lag(taken) OVER (PARTITION BY word
                                            ORDER BY pos), FALSE)
                    AS prev_taken
        FROM k{i})
  WHERE NOT prev_taken GROUP BY word
)""")
        # a row consumed by the merge before it (prev_taken) is
        # dropped; the taken row emits the merged symbol
    unions = "\nUNION ALL ".join(
        f"SELECT CAST({i} AS INTEGER) AS merge_rank, l AS \"left\","
        f" r AS \"right\", c AS pair_count FROM b{i}"
        for i in range(1, k + 1)
    )
    return "WITH " + ",".join(stages) + "\n" + unions


def _bpe_vocab_oracle_sql(k: int, final_select: str) -> str:
    """Same generated k-iteration CTE chain, but ending in a caller
    query over the FINAL segmented vocabulary ``v{k}`` instead of the
    merge-table union."""
    full = _bpe_oracle_sql(k)
    cut = full.rindex("\nSELECT CAST(1 AS INTEGER)")
    return full[:cut] + "\n" + final_select.replace("__VK__", f"v{k}")


BPE_TRAIN_SQL = _bpe_oracle_sql(20)

QUERIES.update({"bpe_trained_merges": bpe_trained_merges})
ORACLES.update({"bpe_trained_merges": BPE_TRAIN_SQL})


def quality_classifier_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed linear quality classifier inference
    (VERDICT r10 task 4, Joulin et al. 2016) with fixed seeded
    weights: 512 buckets, unigram+bigram features over the portable
    md5 hash, DECIMAL-folded weight mean + bias, sigmoid rounded to
    6 dp. Literal-path plan: one zero-shuffle codegen map. The oracle
    rebuilds every bucket id, the exact DECIMAL sum, and the
    threshold flag."""
    from odibi_spark.llm import curation

    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    w, b = curation.quality_classifier_weights(512, seed=42)
    out = curation.quality_classifier(docs, "text", weights=w, bias=b)
    return out.select(
        "doc_id", "ql_n_features", "ql_logit", "ql_prob",
        (F.col("ql_logit") > 0).alias("is_quality"),
    )


def _ql_weights_cte(buckets: int = 512, seed: int = 42) -> tuple[str, float]:
    """(weights CTE SQL, bias) from the SAME seeded generator the
    Spark side uses — the two engines share one weight vector by
    construction."""
    from odibi_spark.llm import curation

    w, b = curation.quality_classifier_weights(buckets, seed=seed)
    lits = ", ".join(f"{x:.6f}" for x in w)
    cte = (
        f"qlw AS (SELECT unnest(range(0, {buckets})) AS b, "
        f"unnest([{lits}]) AS wt)"
    )
    return cte, b


_QL_CTE, _QL_BIAS = _ql_weights_cte()

QUALITY_CLASSIFIER_SQL = f"""
WITH {_QL_CTE},
toks AS (
  SELECT doc_id,
         list_filter(string_split(trim(lower(text)), ' '), t -> t <> '')
           AS tk
  FROM documents
),
feats AS (
  SELECT doc_id, unnest(list_concat(
    list_transform(tk, t ->
      CAST(concat('0x', substring(md5(t), 1, 15)) AS BIGINT) % 512),
    list_transform(range(1, len(tk)), i ->
      CAST(concat('0x', substring(md5(tk[CAST(i AS INTEGER)] || ' ' ||
                                       tk[CAST(i + 1 AS INTEGER)]),
                                  1, 15)) AS BIGINT) % 512)
  )) AS b
  FROM toks
),
s AS (
  SELECT f.doc_id, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(qlw.wt AS DECIMAL(38,6))) AS ws
  FROM feats f JOIN qlw USING (b) GROUP BY f.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(s.n, 0) AS BIGINT) AS ql_n_features,
       CASE WHEN COALESCE(s.n, 0) > 0
            THEN {_QL_BIAS!r} + CAST(s.ws AS DOUBLE) / s.n
            ELSE {_QL_BIAS!r} END AS ql_logit,
       round(1.0 / (1.0 + exp(-(CASE WHEN COALESCE(s.n, 0) > 0
            THEN {_QL_BIAS!r} + CAST(s.ws AS DOUBLE) / s.n
            ELSE {_QL_BIAS!r} END))), 6) AS ql_prob,
       (CASE WHEN COALESCE(s.n, 0) > 0
            THEN {_QL_BIAS!r} + CAST(s.ws AS DOUBLE) / s.n
            ELSE {_QL_BIAS!r} END) > 0 AS is_quality
FROM documents d LEFT JOIN s USING (doc_id)
"""

QUERIES.update({"quality_classifier_docs": quality_classifier_docs})
ORACLES.update({"quality_classifier_docs": QUALITY_CLASSIFIER_SQL})


_QLT_BUCKETS, _QLT_EPOCHS, _QLT_LR = 128, 3, (1, 4)


def quality_classifier_train_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic-regression TRAINING for the hashed quality
    classifier (VERDICT r11 task 4): 3 full-batch gradient epochs over
    the documents corpus, label = (lang = 'en'), 128 hashed buckets.
    Each epoch is one zero-shuffle margin map (weights inlined as a
    literal micro-unit array) + ONE map-side-combined groupBy(bucket)
    gradient aggregate; driver state is O(buckets), like bpe_train.
    Output is the learned micro-unit weight vector; the oracle replays
    all 3 epochs as generated CTE stages — the integer/Elliott-sigmoid
    protocol makes every epoch bit-exact cross-engine, so hash
    equality here proves the whole compounding training loop."""
    from odibi_spark.llm import curation

    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    staged = docs.withColumn(
        "label", (F.col("lang") == "en").cast("int")
    )
    w, _b = curation.quality_classifier_train(
        staged, "text", "label",
        buckets=_QLT_BUCKETS, epochs=_QLT_EPOCHS, lr=_QLT_LR,
    )
    rows = [(i, int(round(x * 1e6))) for i, x in enumerate(w)]
    return spark.createDataFrame(rows, "b bigint, w_mu bigint")


def _ql_train_sql(
    buckets: int = _QLT_BUCKETS,
    epochs: int = _QLT_EPOCHS,
    lr: tuple[int, int] = _QLT_LR,
) -> str:
    """Generated multi-epoch replay: stage t joins the feature table
    to the previous weight CTE, quantizes each doc's residual with
    the pinned IEEE order (Elliott sigmoid — no exp()), and applies
    the truncating integer update (DuckDB BIGINT // == Spark DIV ==
    the driver's _trunc_div). MATERIALIZED CTEs: feats/docs_n/w_t are
    each referenced by every later stage (the r11 2^k-inline lesson).
    """
    lr_num, lr_den = lr
    sig = (
        "(0.5 + (CAST(s.sw AS DOUBLE) / (1000000.0 * d.n)) / "
        "(2.0 * (1.0 + abs(CAST(s.sw AS DOUBLE) / (1000000.0 * d.n)))))"
    )
    parts = [f"""
toks AS MATERIALIZED (
  SELECT doc_id, (CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS y,
         list_filter(string_split(trim(lower(text)), ' '), t -> t <> '')
           AS tk
  FROM documents
),
feats AS MATERIALIZED (
  SELECT doc_id, unnest(list_concat(
    list_transform(tk, t ->
      CAST(concat('0x', substring(md5(t), 1, 15)) AS BIGINT) % {buckets}),
    list_transform(range(1, len(tk)), i ->
      CAST(concat('0x', substring(md5(tk[CAST(i AS INTEGER)] || ' ' ||
                                       tk[CAST(i + 1 AS INTEGER)]),
                                  1, 15)) AS BIGINT) % {buckets})
  )) AS b
  FROM toks
),
docs_n AS MATERIALIZED (
  SELECT t.doc_id, t.y, CAST(COUNT(*) AS BIGINT) AS n
  FROM toks t JOIN feats f USING (doc_id)
  GROUP BY t.doc_id, t.y
),
nn AS MATERIALIZED (SELECT COUNT(*) AS n_docs FROM docs_n),
w0 AS MATERIALIZED (
  SELECT unnest(range(0, {buckets})) AS b, CAST(0 AS BIGINT) AS wmu
)"""]
    for t in range(1, epochs + 1):
        parts.append(f""",
s{t} AS MATERIALIZED (
  SELECT f.doc_id, SUM(w.wmu) AS sw
  FROM feats f JOIN w{t - 1} w USING (b) GROUP BY f.doc_id
),
q{t} AS MATERIALIZED (
  SELECT d.doc_id,
         CAST(floor(((({sig}) - CAST(d.y AS DOUBLE)) * 1000000.0)
                    / d.n) AS BIGINT) AS q
  FROM docs_n d JOIN s{t} s USING (doc_id)
),
g{t} AS MATERIALIZED (
  SELECT f.b, CAST(SUM(q.q) AS BIGINT) AS g
  FROM feats f JOIN q{t} q USING (doc_id) GROUP BY f.b
),
w{t} AS MATERIALIZED (
  SELECT w.b,
         w.wmu - COALESCE(
           ({lr_num} * g.g) // ({lr_den} * (SELECT n_docs FROM nn)),
           0) AS wmu
  FROM w{t - 1} w LEFT JOIN g{t} g USING (b)
)""")
    return (
        "WITH " + "".join(parts)
        + f"\nSELECT b, wmu AS w_mu FROM w{epochs}"
    )


QUERIES.update(
    {"quality_classifier_train_docs": quality_classifier_train_docs}
)
ORACLES.update({"quality_classifier_train_docs": _ql_train_sql()})


# r11: splice the classifier gate into the curation-funnel oracle (the
# weight CTE is defined just above, so this rewrite happens here, after
# both sides share the generated vector)
CURATION_FUNNEL_SQL = (
    CURATION_FUNNEL_SQL
    .replace(
        "\nSELECT gf.source,",
        f""",
{_QL_CTE},
qltoks AS (
  SELECT doc_id,
         list_filter(string_split(trim(lower(text)), ' '), t -> t <> '')
           AS tk
  FROM documents
),
qlfeats AS (
  SELECT doc_id, unnest(list_concat(
    list_transform(tk, t ->
      CAST(concat('0x', substring(md5(t), 1, 15)) AS BIGINT) % 512),
    list_transform(range(1, len(tk)), i ->
      CAST(concat('0x', substring(md5(tk[CAST(i AS INTEGER)] || ' ' ||
                                       tk[CAST(i + 1 AS INTEGER)]),
                                  1, 15)) AS BIGINT) % 512)
  )) AS b
  FROM qltoks
),
qls AS (
  SELECT f.doc_id, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(qlw.wt AS DECIMAL(38,6))) AS ws
  FROM qlfeats f JOIN qlw USING (b) GROUP BY f.doc_id
),
clf AS (
  SELECT d.doc_id,
         (CASE WHEN COALESCE(s.n, 0) > 0
               THEN {_QL_BIAS!r} + CAST(s.ws AS DOUBLE) / s.n
               ELSE {_QL_BIAS!r} END) > 0 AS classifier_ok
  FROM documents d LEFT JOIN qls s USING (doc_id)
)
SELECT gf.source,""",
    )
    .replace(
        "AS n_span_ok,",
        "AS n_span_ok,\n"
        "       CAST(SUM(CASE WHEN c.classifier_ok THEN 1 ELSE 0 END)"
        " AS BIGINT)\n         AS n_classifier_ok,",
    )
    .replace(
        "AND s.span_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors",
        "AND s.span_ok AND c.classifier_ok THEN 1 ELSE 0 END) AS BIGINT)"
        " AS n_survivors",
    )
    .replace(
        "JOIN spans s USING (doc_id)",
        "JOIN spans s USING (doc_id) JOIN clf c USING (doc_id)",
    )
)
ORACLES.update({"curation_funnel_docs": CURATION_FUNNEL_SQL})


def pii_card_scrub_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn-validated payment-card redaction (r11): every doc gains a
    deterministic payment line — valid Visa/MC/Amex/Discover test
    numbers in spaced/dashed/bare formats, one Luhn-INVALID number
    (must survive), and a no-card case — then text.scrub_cards
    redacts exactly the checksum-valid candidates. The oracle replays
    candidate extraction, the Luhn fold, and the replace fold."""
    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    card = (
        F.when(F.col("doc_id") % 6 == 0, F.lit("4111 1111 1111 1111"))
        .when(F.col("doc_id") % 6 == 1, F.lit("5500-0000-0000-0004"))
        .when(F.col("doc_id") % 6 == 2, F.lit("340000000000009"))
        .when(F.col("doc_id") % 6 == 3, F.lit("4111111111111112"))
        .when(F.col("doc_id") % 6 == 4, F.lit("6011000000000004"))
        .otherwise(F.lit("none on file"))
    )
    staged = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit("\nPayment: "), card,
            F.lit(" ref "), F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    out = text.scrub_cards(staged, "text", out_col="clean_text")
    return out.select("doc_id", "clean_text", "card_hits")


_LUHN_DUCK = """
length(regexp_replace(cd, '[ -]', '', 'g')) BETWEEN 13 AND 19
AND list_sum(list_transform(
      range(1, length(regexp_replace(cd, '[ -]', '', 'g')) + 1),
      i -> CASE WHEN (length(regexp_replace(cd, '[ -]', '', 'g')) - i)
                     % 2 = 1
           THEN 2 * CAST(regexp_replace(cd, '[ -]', '', 'g')
                         [CAST(i AS INTEGER)] AS INTEGER)
                - CASE WHEN CAST(regexp_replace(cd, '[ -]', '', 'g')
                            [CAST(i AS INTEGER)] AS INTEGER) > 4
                       THEN 9 ELSE 0 END
           ELSE CAST(regexp_replace(cd, '[ -]', '', 'g')
                     [CAST(i AS INTEGER)] AS INTEGER) END)) % 10 = 0
"""

PII_CARD_SCRUB_SQL = rf"""
WITH c AS (
  SELECT doc_id,
         text || chr(10) || 'Payment: ' ||
         (CASE WHEN doc_id % 6 = 0 THEN '4111 1111 1111 1111'
               WHEN doc_id % 6 = 1 THEN '5500-0000-0000-0004'
               WHEN doc_id % 6 = 2 THEN '340000000000009'
               WHEN doc_id % 6 = 3 THEN '4111111111111112'
               WHEN doc_id % 6 = 4 THEN '6011000000000004'
               ELSE 'none on file' END) ||
         ' ref ' || CAST(doc_id AS VARCHAR) AS text
  FROM documents
),
s AS (
  SELECT doc_id, text,
         list_filter(
           regexp_extract_all(text, '\b(?:\d[ -]?){{12,18}}\d\b'),
           cd -> ({_LUHN_DUCK})
         ) AS valid
  FROM c
)
SELECT doc_id,
       list_reduce(list_prepend(text, valid),
                   (acc, x) -> regexp_replace(
                     acc, '\b' || x || '\b', '<CARD>', 'g'
                   )) AS clean_text,
       CAST(len(valid) AS BIGINT) AS card_hits
FROM s
"""

QUERIES.update({"pii_card_scrub_docs": pii_card_scrub_docs})
ORACLES.update({"pii_card_scrub_docs": PII_CARD_SCRUB_SQL})


def domain_reputation_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level reputation rollup (r11, the RefinedWeb feedback
    loop: row-level quality -> per-registered-domain stats -> the
    next crawl's blocklist): synth URLs -> normalize -> registered
    domain -> fastText-style quality score -> url.domain_rollup
    (doc count, total chars, DECIMAL-exact mean quality, min_docs
    observation floor)."""
    from odibi_spark.llm import curation, url as urlmod

    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    staged = docs.select(
        "doc_id", "source", "lang", "n_chars", "text",
        _synth_url_spark(F.col("doc_id")).alias("url"),
    )
    staged = urlmod.registered_domain(
        urlmod.url_normalize(staged, "url", host_col="host"), "host"
    )
    w, b = curation.quality_classifier_weights(512, seed=42)
    staged = curation.quality_classifier(staged, "text", weights=w, bias=b)
    return urlmod.domain_rollup(
        staged, size_col="n_chars", quality_col="ql_prob", min_docs=2
    )


DOMAIN_REPUTATION_SQL = f"""
WITH src AS (SELECT doc_id, source, lang FROM documents),
{_url_norm_ctes(_synth_url_sql("doc_id"))},
{_QL_CTE},
qltoks AS (
  SELECT doc_id,
         list_filter(string_split(trim(lower(text)), ' '), t -> t <> '')
           AS tk
  FROM documents
),
qlfeats AS (
  SELECT doc_id, unnest(list_concat(
    list_transform(tk, t ->
      CAST(concat('0x', substring(md5(t), 1, 15)) AS BIGINT) % 512),
    list_transform(range(1, len(tk)), i ->
      CAST(concat('0x', substring(md5(tk[CAST(i AS INTEGER)] || ' ' ||
                                       tk[CAST(i + 1 AS INTEGER)]),
                                  1, 15)) AS BIGINT) % 512)
  )) AS b
  FROM qltoks
),
qls AS (
  SELECT f.doc_id, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(qlw.wt AS DECIMAL(38,6))) AS ws
  FROM qlfeats f JOIN qlw USING (b) GROUP BY f.doc_id
),
scored AS (
  SELECT d.doc_id,
         round(1.0 / (1.0 + exp(-(CASE WHEN COALESCE(s.n, 0) > 0
               THEN {_QL_BIAS!r} + CAST(s.ws AS DOUBLE) / s.n
               ELSE {_QL_BIAS!r} END))), 6) AS ql_prob,
         d.n_chars
  FROM documents d LEFT JOIN qls s USING (doc_id)
)
SELECT r.registered_domain,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(sc.n_chars) AS BIGINT) AS total_size,
       CAST(SUM(CAST(sc.ql_prob AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
         AS mean_quality
FROM reg r JOIN scored sc USING (doc_id)
GROUP BY r.registered_domain
HAVING COUNT(*) >= 2
"""

QUERIES.update({"domain_reputation_docs": domain_reputation_docs})
ORACLES.update({"domain_reputation_docs": DOMAIN_REPUTATION_SQL})


# One host per PSL rule class (VERDICT r11 task 3): private-section
# platform suffixes, wildcard *.kawasaki.jp / *.ck, the !city / !www
# exceptions, a bare listed suffix (-> NULL), unknown-TLD * rule,
# single-label (-> NULL), IPv4 and bracketed-IPv6 literals.
_PSL_HOSTS = (
    "alice.github.io", "deep.alice.github.io", "github.io",
    "city.kawasaki.jp", "a.city.kawasaki.jp", "x.sub.kawasaki.jp",
    "sub.kawasaki.jp", "www.ck", "shop.acme.ck", "acme.ck",
    "a.b.example.co.uk", "co.uk", "www.example.com", "x.y.site.zz",
    "localhost", "10.0.0.1", "[2001:db8::1]", "blog.wordpress.com",
    "b.s3.amazonaws.com", "news.example.org",
)


def psl_domains_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full public-suffix-list semantics under the hash gate (r12):
    every document keyed to one of 20 hosts spanning every PSL rule
    class — exact ICANN suffixes, PRIVATE-section platform suffixes
    (alice.github.io must NOT conflate into github.io), wildcard
    rules, ``!`` exception carve-outs, bare suffixes (NULL), the
    ``*`` default rule, single-label hosts (NULL), and IP literals —
    through url.registered_domain. The oracle replays the identical
    branch chain via url.registered_domain_sql (one generator, two
    engines). Pure codegen regexp branches, zero shuffle."""
    from odibi_spark.llm import url as urlmod

    _prep(spark)
    docs = read_table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id",
        F.element_at(
            F.array(*[F.lit(h) for h in _PSL_HOSTS]),
            (F.col("doc_id") % len(_PSL_HOSTS) + 1).cast("int"),
        ).alias("host"),
    )
    return urlmod.registered_domain(staged, "host")


def _psl_domains_sql() -> str:
    from odibi_spark.llm import url as urlmod

    hosts = ", ".join(f"'{h}'" for h in _PSL_HOSTS)
    case = urlmod.registered_domain_sql("host")
    return f"""
WITH staged AS (
  SELECT doc_id,
         ([{hosts}])[CAST(doc_id % {len(_PSL_HOSTS)} + 1 AS INTEGER)]
           AS host
  FROM documents
)
SELECT doc_id, host, {case} AS registered_domain FROM staged
"""


QUERIES.update({"psl_domains_docs": psl_domains_docs})
ORACLES.update({"psl_domains_docs": _psl_domains_sql()})


def bpe_subword_stats_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained tokenizer APPLIED (r11): after the same 20 BPE
    merges as bpe_trained_merges, the corpus' subword inventory —
    top-30 subwords by frequency-weighted occurrence. Segmentation is
    computed once per DISTINCT word on the vocabulary table (never
    per token), so applying a tokenizer at 100 TB is one vocab join;
    the rollup here is one bounded groupBy + TakeOrderedAndProject.
    Oracle: the same generated 20-stage CTE chain, final query over
    the segmented vocabulary v20."""
    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    vocab = text.bpe_segmented_vocab(docs, "text", num_merges=20)
    return (
        vocab.select(F.explode("syms").alias("subword"), "wc")
        .groupBy("subword")
        .agg(
            F.sum("wc").cast("long").alias("occurrences"),
            F.count(F.lit(1)).cast("long").alias("n_words"),
        )
        .orderBy(F.desc("occurrences"), F.asc("subword"))
        .limit(30)
    )


BPE_SUBWORD_STATS_SQL = _bpe_vocab_oracle_sql(20, """
SELECT sym AS subword,
       CAST(SUM(wc) AS BIGINT) AS occurrences,
       CAST(COUNT(*) AS BIGINT) AS n_words
FROM (SELECT unnest(syms) AS sym, wc FROM __VK__)
GROUP BY sym
ORDER BY occurrences DESC, subword
LIMIT 30
""")

QUERIES.update({"bpe_subword_stats_docs": bpe_subword_stats_docs})
ORACLES.update({"bpe_subword_stats_docs": BPE_SUBWORD_STATS_SQL})


def line_corrections_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb line-wise corrections (r11, rule-based — the cheap
    pass that runs BEFORE frequency boilerplate removal): every doc
    is staged with injected junk (social counters, punctuation bars,
    numeric runs, a too-short line) plus a legitimate sentence, then
    text.remove_junk_lines drops exactly the rule-matching lines. The
    oracle replays every ratio and regex verbatim."""
    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    junk = (
        F.when(F.col("doc_id") % 4 == 0, F.lit("17 likes"))
        .when(F.col("doc_id") % 4 == 1, F.lit("#### ----"))
        .when(F.col("doc_id") % 4 == 2, F.lit("2024 12 31"))
        .otherwise(F.lit("Short but this line is fine to keep."))
    )
    staged = docs.select(
        "doc_id",
        F.concat_ws(
            "\n", F.col("text"), junk, F.lit("ab"),
            F.lit("A solid closing line."),
        ).alias("text"),
    )
    out = text.remove_junk_lines(staged, "doc_id", "text",
                                 out_col="clean_text")
    return out.select(
        "doc_id", "clean_text", "n_kept_lines", "n_junk_lines"
    )


LINE_CORRECTIONS_SQL = r"""
WITH c AS (
  SELECT doc_id,
         text || chr(10) ||
         (CASE WHEN doc_id % 4 = 0 THEN '17 likes'
               WHEN doc_id % 4 = 1 THEN '#### ----'
               WHEN doc_id % 4 = 2 THEN '2024 12 31'
               ELSE 'Short but this line is fine to keep.' END) ||
         chr(10) || 'ab' || chr(10) || 'A solid closing line.' AS text
  FROM documents
),
l AS (
  SELECT t.doc_id, g.i - 1 AS pos, t.ws[g.i] AS line
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ws FROM c) t,
       LATERAL (SELECT unnest(range(1, len(t.ws) + 1)) AS i) g
),
f AS (
  SELECT doc_id, pos, line,
         len(regexp_extract_all(line, '\S')) AS ns,
         len(regexp_extract_all(line, '[0-9]')) AS dg,
         len(regexp_extract_all(line, '[^\p{L}0-9\s]')) AS pc
  FROM l
),
kept AS (
  SELECT doc_id, pos, line FROM f
  WHERE NOT (length(trim(line)) < 3
             OR (ns > 0 AND dg / ns > 0.5)
             OR (ns > 0 AND pc / ns > 0.5)
             OR regexp_matches(lower(trim(line)),
  '^[0-9]+ (likes?|comments?|shares?|views?|upvotes?|retweets?)$'))
),
r AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
         CAST(COUNT(*) AS BIGINT) AS n_kept_lines
  FROM kept GROUP BY doc_id
)
SELECT c.doc_id,
       COALESCE(r.clean_text, '') AS clean_text,
       CAST(COALESCE(r.n_kept_lines, 0) AS BIGINT) AS n_kept_lines,
       CAST(len(string_split(c.text, chr(10))) AS BIGINT)
         - CAST(COALESCE(r.n_kept_lines, 0) AS BIGINT) AS n_junk_lines
FROM c LEFT JOIN r USING (doc_id)
"""

QUERIES.update({"line_corrections_docs": line_corrections_docs})
ORACLES.update({"line_corrections_docs": LINE_CORRECTIONS_SQL})


def html_strip_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex-level HTML removal (r11): docs staged inside
    deterministic markup (tags, comments, script/style blocks with
    decoy tags in their bodies, escaped entities, a no-markup case);
    text.strip_html removes structure, decodes entities in the
    standard order (&amp; last), and squeezes whitespace. The oracle
    replays the identical RE2 chain with the 'g'+inline-flag forms."""
    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    wrapped = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit('<html><body><h1>T '),
                F.col("doc_id").cast("string"),
                F.lit('</h1><p class="a">'), F.col("text"),
                F.lit('</p><!-- nav\nbar --><script type="text/js">'
                      'var x="<div>";</script></body></html>'),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.lit('<div id="m">'), F.col("text"),
                F.lit(' &amp;lt; more &lt;raw&gt;&nbsp;tail</div>'
                      '<style media="all">.x{color:red}</style>'),
            ),
        )
        .otherwise(F.col("text"))
    )
    staged = docs.select("doc_id", wrapped.alias("text"))
    out = text.strip_html(staged, "text", out_col="clean_text")
    return out.select("doc_id", "clean_text", "html_tag_count")


HTML_STRIP_SQL = r"""
WITH c AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0 THEN
      '<html><body><h1>T ' || CAST(doc_id AS VARCHAR) ||
      '</h1><p class="a">' || text ||
      '</p><!-- nav' || chr(10) ||
      'bar --><script type="text/js">var x="<div>";</script></body></html>'
    WHEN doc_id % 3 = 1 THEN
      '<div id="m">' || text ||
      ' &amp;lt; more &lt;raw&gt;&nbsp;tail</div>' ||
      '<style media="all">.x{color:red}</style>'
    ELSE text END AS text
  FROM documents
),
s AS (
  SELECT doc_id,
    CAST(len(regexp_extract_all(text, '<[^>]+>')) AS BIGINT)
      AS html_tag_count,
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(text, '(?s)<!--.*?-->', ' ', 'g'),
          '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
      '<[^>]+>', ' ', 'g') AS e
  FROM c
)
SELECT doc_id,
  trim(regexp_replace(
    replace(replace(replace(replace(replace(replace(
      e, '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
      '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&'),
    '\s+', ' ', 'g')) AS clean_text,
  html_tag_count
FROM s
"""

QUERIES.update({"html_strip_docs": html_strip_docs})
ORACLES.update({"html_strip_docs": HTML_STRIP_SQL})


# shared classifier-scoring CTE block (qlw..scored) for composition
# oracles — the SAME seeded 512-bucket vector as quality_classifier_docs
_QL_SCORED_CTES = f"""
{_QL_CTE},
qltoks AS (
  SELECT doc_id,
         list_filter(string_split(trim(lower(text)), ' '), t -> t <> '')
           AS tk
  FROM documents
),
qlfeats AS (
  SELECT doc_id, unnest(list_concat(
    list_transform(tk, t ->
      CAST(concat('0x', substring(md5(t), 1, 15)) AS BIGINT) % 512),
    list_transform(range(1, len(tk)), i ->
      CAST(concat('0x', substring(md5(tk[CAST(i AS INTEGER)] || ' ' ||
                                       tk[CAST(i + 1 AS INTEGER)]),
                                  1, 15)) AS BIGINT) % 512)
  )) AS b
  FROM qltoks
),
qls AS (
  SELECT f.doc_id, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(qlw.wt AS DECIMAL(38,6))) AS ws
  FROM qlfeats f JOIN qlw USING (b) GROUP BY f.doc_id
),
scored AS (
  SELECT d.doc_id,
         round(1.0 / (1.0 + exp(-(CASE WHEN COALESCE(s.n, 0) > 0
               THEN {_QL_BIAS!r} + CAST(s.ws AS DOUBLE) / s.n
               ELSE {_QL_BIAS!r} END))), 6) AS ql_prob
  FROM documents d LEFT JOIN qls s USING (doc_id)
)"""


def cluster_best_keeper_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup keeper election (r11): connected
    components over the 3-gram Jaccard pairs, then per cluster keep
    the HIGHEST-classifier-score doc (ties -> lowest doc_id) —
    production pipelines keep the clean original, not whichever
    syndication was crawled first. Composition of three oracled
    operators; the oracle replays closure + scoring + argmax."""
    from odibi_spark.llm import curation

    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    pairs = dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=0.2, max_df=None
    )
    w, b = curation.quality_classifier_weights(512, seed=42)
    scored = curation.quality_classifier(docs, "text", weights=w, bias=b)
    out = dedup.dedup_clusters_by_quality(
        scored.select("doc_id", "text", "ql_prob"),
        pairs.select("id_a", "id_b"),
        quality_col="ql_prob",
    )
    return out.select("doc_id", "cluster_id", "ql_prob")


CLUSTER_BEST_KEEPER_SQL = (
    "WITH comp AS (" + NEARDUP_CLUSTERS_SQL + "),\n"
    + _QL_SCORED_CTES.strip()
    + """
SELECT s.doc_id,
       COALESCE(c.cluster_id, s.doc_id) AS cluster_id,
       s.ql_prob
FROM scored s LEFT JOIN comp c ON c.id = s.doc_id
QUALIFY row_number() OVER (
  PARTITION BY COALESCE(c.cluster_id, s.doc_id)
  ORDER BY s.ql_prob DESC, s.doc_id) = 1
"""
)

QUERIES.update({"cluster_best_keeper_docs": cluster_best_keeper_docs})
ORACLES.update({"cluster_best_keeper_docs": CLUSTER_BEST_KEEPER_SQL})


def kn_perplexity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM perplexity per document (r12)
    — the REAL backoff-LM quality filter (CCNet scores docs with a
    KenLM model; Chen & Goodman 1999): absolute discounting D=0.75,
    continuation counts, interpolation weights, trained on the corpus
    itself. The oracle replays tokenization, the three count tables,
    and the pinned-parenthesization probability chain; per-bigram
    -ln p rounds to 6 decimals before the exact DECIMAL fold."""
    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    return text.kn_bigram_scores(docs, id_col="doc_id", text_col="text")


KN_PERPLEXITY_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(trim(lower(text)), ' '),
                     x -> x <> '') AS toks
  FROM documents
),
bg AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
  FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i) r
),
bgc AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2
),
lctx AS (
  SELECT w1, SUM(c12) AS c1, COUNT(*) AS n_post FROM bgc GROUP BY w1
),
rcont AS (
  SELECT w2, COUNT(*) AS n_pre FROM bgc GROUP BY w2
),
nt AS (
  SELECT COUNT(*) AS n_types FROM bgc
),
scored AS (
  SELECT b.doc_id,
         round(-ln(
           (greatest(CAST(c.c12 AS DOUBLE) - 0.75, 0.0)
              / CAST(l.c1 AS DOUBLE))
           + ((0.75 * CAST(l.n_post AS DOUBLE)) / CAST(l.c1 AS DOUBLE))
             * (CAST(rc.n_pre AS DOUBLE) / CAST(nt.n_types AS DOUBLE))
         ), 6) AS nll
  FROM bg b
  JOIN bgc c USING (w1, w2)
  JOIN lctx l USING (w1)
  JOIN rcont rc USING (w2)
  CROSS JOIN nt
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_bigrams,
         CAST(CAST(SUM(CAST(nll AS {DEC})) AS DOUBLE) / COUNT(*) AS DOUBLE)
           AS avg_nll
  FROM scored GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_bigrams, 0) AS n_bigrams,
       p.avg_nll,
       round(exp(p.avg_nll), 4) AS ppl
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN per_doc p USING (doc_id)
"""

QUERIES.update({"kn_perplexity_docs": kn_perplexity_docs})
ORACLES.update({"kn_perplexity_docs": KN_PERPLEXITY_SQL})


def dsir_hashed_select_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature DSIR selection (r12, Xie et al. 2023's actual
    feature space — n-grams hashed into a FIXED bucket count, so the
    importance model is O(buckets) where the token-level
    dsir_sample_docs twin grows O(vocabulary)): docs with
    doc_id % 7 == 0 play the target distribution; k=100 of the rest
    are drawn by Gumbel top-k over per-doc sums of 512-bucket hashed
    unigram+bigram log ratios. Selection is a pure function of
    (data, seed); the oracle replays buckets, ratios, folds, noise."""
    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    raw = docs.filter("doc_id % 7 <> 0")
    target = docs.filter("doc_id % 7 = 0")
    scored = curation.dsir_importance(
        raw, target, "text", id_col="doc_id", buckets=512, bigrams=True,
    )
    return curation.dsir_gumbel_topk(
        scored, 100, id_col="doc_id", weight_col="dsir_logw", seed=43,
    ).select("doc_id", "dsir_logw_n", "dsir_logw", "dsir_key")


_DSIR_H_FEATS = """
  SELECT doc_id, unnest(list_concat(
    list_transform(tk, t ->
      CAST(concat('0x', substring(md5(t), 1, 15)) AS BIGINT) % 512),
    list_transform(range(1, len(tk)), i ->
      CAST(concat('0x', substring(md5(tk[CAST(i AS INTEGER)] || ' ' ||
                                       tk[CAST(i + 1 AS INTEGER)]),
                                  1, 15)) AS BIGINT) % 512)
  )) AS b
  FROM (SELECT doc_id,
               list_filter(string_split(trim(lower(text)), ' '),
                           t -> t <> '') AS tk
        FROM documents WHERE doc_id % 7 {op} 0)
"""

DSIR_HASHED_SQL = f"""
WITH rfeat AS ({_DSIR_H_FEATS.format(op='<>')}),
tfeat AS ({_DSIR_H_FEATS.format(op='=')}),
rc AS (SELECT b, COUNT(*) AS c FROM rfeat GROUP BY b),
tc AS (SELECT b, COUNT(*) AS ct FROM tfeat GROUP BY b),
rt AS (SELECT SUM(c) AS nr FROM rc),
tt AS (SELECT SUM(ct) AS nt FROM tc),
ratio AS (
  SELECT rc.b,
         CAST(round(ln(
           ((COALESCE(tc.ct, 0) + 1.0) / (COALESCE(tt.nt, 0) + 512.0))
           / ((rc.c + 1.0) / (rt.nr + 512.0))
         ), 6) AS DECIMAL(18,6)) AS lr
  FROM rc LEFT JOIN tc USING (b) CROSS JOIN rt CROSS JOIN tt
),
perdoc AS (
  SELECT f.doc_id, CAST(COUNT(*) AS BIGINT) AS dsir_logw_n,
         CAST(SUM(CAST(r.lr AS DECIMAL(38,6))) AS DOUBLE) AS dsir_logw
  FROM rfeat f JOIN ratio r USING (b) GROUP BY f.doc_id
),
keyed AS (
  SELECT doc_id, dsir_logw_n, dsir_logw,
         dsir_logw
         + round(-ln(-ln((CAST(concat('0x', substring(
               md5(concat('43:', CAST(doc_id AS VARCHAR))), 1, 15))
               AS BIGINT) + 0.5) / 1152921504606846976.0)), 6) AS dsir_key
  FROM perdoc
)
SELECT doc_id, dsir_logw_n, dsir_logw, dsir_key
FROM keyed ORDER BY dsir_key DESC, doc_id LIMIT 100
"""

QUERIES.update({"dsir_hashed_select_docs": dsir_hashed_select_docs})
ORACLES.update({"dsir_hashed_select_docs": DSIR_HASHED_SQL})


def kn_trigram_perplexity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney TRIGRAM perplexity per document (r12)
    — the full three-order backoff chain (trigram -> continuation
    bigram -> continuation unigram), the order where a perplexity
    filter starts to see phrase structure. The oracle replays the
    count cascade and the pinned probability chain in SQL."""
    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    return text.kn_trigram_scores(docs, id_col="doc_id", text_col="text")


KN_TRIGRAM_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(trim(lower(text)), ' '),
                     x -> x <> '') AS toks
  FROM documents
),
tg AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
  FROM t, LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i) r
),
tc AS (
  SELECT w1, w2, w3, COUNT(*) AS c123 FROM tg GROUP BY w1, w2, w3
),
ctx12 AS (
  SELECT w1, w2, SUM(c123) AS c12, COUNT(*) AS n_post12
  FROM tc GROUP BY w1, w2
),
cont23 AS (
  SELECT w2, w3, COUNT(*) AS n_pre23 FROM tc GROUP BY w2, w3
),
mid2 AS (
  SELECT w2, SUM(n_pre23) AS n_mid2, COUNT(*) AS n_post2
  FROM cont23 GROUP BY w2
),
cont3 AS (
  SELECT w3, COUNT(*) AS n_pre3 FROM cont23 GROUP BY w3
),
n2 AS (
  SELECT COUNT(*) AS n_types2 FROM cont23
),
scored AS (
  SELECT g.doc_id,
         round(-ln(
           (greatest(CAST(c.c123 AS DOUBLE) - 0.75, 0.0)
              / CAST(x.c12 AS DOUBLE))
           + ((0.75 * CAST(x.n_post12 AS DOUBLE)) / CAST(x.c12 AS DOUBLE))
             * (
               (greatest(CAST(b.n_pre23 AS DOUBLE) - 0.75, 0.0)
                  / CAST(m.n_mid2 AS DOUBLE))
               + ((0.75 * CAST(m.n_post2 AS DOUBLE))
                    / CAST(m.n_mid2 AS DOUBLE))
                 * (CAST(u.n_pre3 AS DOUBLE) / CAST(n2.n_types2 AS DOUBLE))
             )
         ), 6) AS nll
  FROM tg g
  JOIN tc c USING (w1, w2, w3)
  JOIN ctx12 x USING (w1, w2)
  JOIN cont23 b USING (w2, w3)
  JOIN mid2 m USING (w2)
  JOIN cont3 u USING (w3)
  CROSS JOIN n2
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_trigrams,
         CAST(CAST(SUM(CAST(nll AS {DEC})) AS DOUBLE) / COUNT(*) AS DOUBLE)
           AS avg_nll
  FROM scored GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_trigrams, 0) AS n_trigrams,
       p.avg_nll,
       round(exp(p.avg_nll), 4) AS ppl
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN per_doc p USING (doc_id)
"""

QUERIES.update({"kn_trigram_perplexity_docs": kn_trigram_perplexity_docs})
ORACLES.update({"kn_trigram_perplexity_docs": KN_TRIGRAM_SQL})


def ccnet_pipeline_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet end-to-end (r12, Wenzek et al. 2019 — the published
    pipeline this engine's pieces were built for, composed in its
    published order): paragraph-hash dedup -> language ID -> LM
    perplexity terciles PER LANGUAGE. Staging plants the nav/footer
    paragraph blocks (the boilerplate_paragraphs fixture); the LM is
    the interpolated Kneser-Ney bigram model trained on the CLEANED
    corpus; terciles are a lang-partitioned ntile (no global window).
    Output: per (lang_guess, bucket) doc counts, exact bigram totals,
    min/max perplexity. Every stage is an already-oracled operator —
    this workload hash-gates their COMPOSITION."""
    from pyspark.sql.window import Window

    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    staged = docs.select(
        "doc_id", "source",
        F.concat_ws(
            "\n\n",
            F.lit("SITE NAV\nhome about contact"),
            F.col("text"),
            F.concat(
                F.lit("COPYRIGHT "), F.col("source"),
                F.lit("\nall rights reserved"),
            ),
        ).alias("text"),
    )
    # cleaned feeds language ID, the KN model AND the KN probe side:
    # checkpoint it once so the boilerplate-removal subtree (itself
    # several shuffles) isn't replicated per consumer in the plan
    # (r15: the composed plan carried 100+ Exchange references and
    # driver analysis/codegen dominated; guide §3.3)
    cleaned = dedup.remove_boilerplate_lines(
        staged, min_docs=5, scope_col="source", delim="\n",
        granularity="paragraph", out_col="clean_text",
    ).select(
        "doc_id", F.col("clean_text").alias("text")
    ).localCheckpoint(eager=True)
    langed = text.with_language_guess(cleaned).select(
        "doc_id", "lang_guess"
    )
    scored = text.kn_bigram_scores(cleaned).filter("n_bigrams > 0")
    w = Window.partitionBy("lang_guess").orderBy("avg_nll", "doc_id")
    ranked = (
        scored.join(langed, "doc_id")
        .withColumn("__t", F.ntile(3).over(w))
        .withColumn(
            "bucket",
            F.when(F.col("__t") == 1, F.lit("head"))
            .when(F.col("__t") == 2, F.lit("middle"))
            .otherwise(F.lit("tail")),
        )
    )
    return ranked.groupBy("lang_guess", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bigrams").cast("long").alias("total_bigrams"),
        F.min("ppl").alias("min_ppl"),
        F.max("ppl").alias("max_ppl"),
    )


_CCNET_LANG_TEMPLATE = """
h AS (
  SELECT doc_id,
    len(list_filter(string_split(trim(lower(text)), ' '),
        x -> x IN ({en}))) AS h_en,
    len(list_filter(string_split(trim(lower(text)), ' '),
        x -> x IN ({fr}))) AS h_fr,
    len(list_filter(string_split(trim(lower(text)), ' '),
        x -> x IN ({es}))) AS h_es,
    len(list_filter(string_split(trim(lower(text)), ' '),
        x -> x IN ({de}))) AS h_de
  FROM cleaned
),
g AS (
  SELECT doc_id,
         CASE WHEN {g0} = 0 THEN 'und'
              WHEN h_en = {g0} THEN 'en'
              WHEN h_fr = {g0} THEN 'fr'
              WHEN h_es = {g0} THEN 'es'
              ELSE 'de' END AS lang_guess
  FROM h
),"""

# KN-perplexity + tercile tail shared by ccnet v1 (stopword lang
# guess) and ccnet v2 (trained classifier): references `cleaned`
# and a `g` CTE exposing (doc_id, lang_guess).
_CCNET_KN_TAIL = """
t AS (
  SELECT doc_id,
         list_filter(string_split(trim(lower(text)), ' '),
                     x -> x <> '') AS toks
  FROM cleaned
),
bg AS (
  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
  FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i) r
),
bgc AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2
),
lctx AS (
  SELECT w1, SUM(c12) AS c1, COUNT(*) AS n_post FROM bgc GROUP BY w1
),
rcont AS (
  SELECT w2, COUNT(*) AS n_pre FROM bgc GROUP BY w2
),
nt AS (
  SELECT COUNT(*) AS n_types FROM bgc
),
scored AS (
  SELECT b.doc_id,
         round(-ln(
           (greatest(CAST(cc.c12 AS DOUBLE) - 0.75, 0.0)
              / CAST(lx.c1 AS DOUBLE))
           + ((0.75 * CAST(lx.n_post AS DOUBLE)) / CAST(lx.c1 AS DOUBLE))
             * (CAST(rc.n_pre AS DOUBLE) / CAST(nt.n_types AS DOUBLE))
         ), 6) AS nll
  FROM bg b
  JOIN bgc cc USING (w1, w2)
  JOIN lctx lx USING (w1)
  JOIN rcont rc USING (w2)
  CROSS JOIN nt
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_bigrams,
         CAST(CAST(SUM(CAST(nll AS {dec})) AS DOUBLE) / COUNT(*) AS DOUBLE)
           AS avg_nll
  FROM scored GROUP BY doc_id
),
ranked AS (
  SELECT g.lang_guess, p.doc_id, p.n_bigrams, p.avg_nll,
         round(exp(p.avg_nll), 4) AS ppl,
         NTILE(3) OVER (PARTITION BY g.lang_guess
                        ORDER BY p.avg_nll, p.doc_id) AS t3
  FROM per_doc p JOIN g USING (doc_id)
)
SELECT lang_guess,
       CASE t3 WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
               ELSE 'tail' END AS bucket,
       COUNT(*) AS n_docs,
       CAST(SUM(n_bigrams) AS BIGINT) AS total_bigrams,
       MIN(ppl) AS min_ppl, MAX(ppl) AS max_ppl
FROM ranked GROUP BY 1, 2
"""

_CCNET_TAIL_TEMPLATE = _CCNET_LANG_TEMPLATE + _CCNET_KN_TAIL


_CCNET_TAIL = _CCNET_TAIL_TEMPLATE.format(
    en=_STOP_LISTS["en"], fr=_STOP_LISTS["fr"], es=_STOP_LISTS["es"],
    de=_STOP_LISTS["de"], g0="greatest(h_en, h_fr, h_es, h_de)", dec=DEC,
)

_CCNET_CLEAN_HEAD = r"""
WITH c AS (
  SELECT doc_id, source,
         'SITE NAV' || chr(10) || 'home about contact' ||
         chr(10) || chr(10) || text || chr(10) || chr(10) ||
         'COPYRIGHT ' || source || chr(10) || 'all rights reserved'
           AS text
  FROM documents
),
l AS (
  SELECT t.doc_id, t.source, g.i - 1 AS pos, t.ws[g.i] AS par
  FROM (SELECT doc_id, source,
               regexp_split_to_array(text, '(?:\n){2,}') AS ws
        FROM c) t,
       LATERAL (SELECT unnest(range(1, len(t.ws) + 1)) AS i) g
),
bl AS (
  SELECT source, md5(par) AS ph
  FROM l GROUP BY source, md5(par)
  HAVING COUNT(DISTINCT doc_id) >= 5
),
kept AS (
  SELECT l.doc_id, l.pos, l.par
  FROM l LEFT JOIN bl ON bl.source = l.source AND bl.ph = md5(l.par)
  WHERE bl.ph IS NULL
),
cleaned AS (
  SELECT c.doc_id,
         COALESCE(r.clean_text, '') AS text
  FROM c LEFT JOIN (
    SELECT doc_id,
           string_agg(par, chr(10) || chr(10) ORDER BY pos) AS clean_text
    FROM kept GROUP BY doc_id
  ) r USING (doc_id)
),
"""

CCNET_PIPELINE_SQL = _CCNET_CLEAN_HEAD + _CCNET_TAIL
QUERIES.update({"ccnet_pipeline_docs": ccnet_pipeline_docs})
ORACLES.update({"ccnet_pipeline_docs": CCNET_PIPELINE_SQL})


# ---------------------------------------------------------------------------
# r13: trainable fastText-style language-ID classifier (llm/langid.py)
# ---------------------------------------------------------------------------

_LID_CLASSES = ["de", "en", "es", "fr", "zh"]
_LID_BUCKETS, _LID_EPOCHS, _LID_LR = 512, 2, (1, 1)
_LID_MAXC = 120


def _lid_h60(x: str, buckets: int) -> str:
    """DuckDB twin of the portable 60-bit md5 fold mod buckets."""
    return (
        f"CAST(concat('0x', substring(md5({x}), 1, 15)) AS BIGINT)"
        f" % {buckets}"
    )


def _lid_train_ctes(
    src: str,
    label_expr: str,
    *,
    classes: list[str] = _LID_CLASSES,
    buckets: int = _LID_BUCKETS,
    epochs: int = _LID_EPOCHS,
    lr: tuple[int, int] = _LID_LR,
    max_chars: int = _LID_MAXC,
) -> str:
    """Generated DuckDB replay of ``langid.lang_classifier_train``:
    CTE fragments (for a WITH context) ending in the trained wide
    weight table ``lw{epochs}`` (b, w_0..w_{K-1} micro-units) plus
    ``lid_feats``/``lid_docs`` for downstream inference. ``src`` is
    the corpus relation (must expose doc_id + text), ``label_expr``
    the label SQL over it. The integer/Elliott/coupled-softmax
    protocol is pinned to the Spark side expression-for-expression —
    every epoch, and therefore every argmax prediction, is bit-exact.
    """
    kk = len(classes)
    lr_num, lr_den = lr
    wzeros = ", ".join(f"CAST(0 AS BIGINT) AS w_{k}" for k in range(kk))
    parts = [f"""
lid_base AS MATERIALIZED (
  SELECT doc_id, {label_expr} AS y_lang,
         substring(lower(trim(text)), 1, {max_chars}) AS t
  FROM {src}
),
lid_feats AS MATERIALIZED (
  SELECT doc_id, unnest(list_concat(
    list_transform(range(1, length(t)),
      i -> {_lid_h60("substring(t, CAST(i AS INTEGER), 2)", buckets)}),
    list_transform(range(1, length(t) - 1),
      i -> {_lid_h60("substring(t, CAST(i AS INTEGER), 3)", buckets)})
  )) AS b
  FROM lid_base
),
lid_docs AS MATERIALIZED (
  SELECT d.doc_id, d.y_lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM lid_base d JOIN lid_feats f USING (doc_id)
  GROUP BY d.doc_id, d.y_lang
),
lid_nn AS MATERIALIZED (SELECT COUNT(*) AS n_docs FROM lid_docs),
lw0 AS MATERIALIZED (
  SELECT unnest(range(0, {buckets})) AS b, {wzeros}
)"""]
    sigs = [
        f"(0.5 + ((CAST(s.ws_{k} AS DOUBLE) / (1000000.0 * d.n))) / "
        f"(2.0 * (1.0 + abs((CAST(s.ws_{k} AS DOUBLE) / "
        f"(1000000.0 * d.n))))))"
        for k in range(kk)
    ]
    ssum = "(" + " + ".join(sigs) + ")"
    for t in range(1, epochs + 1):
        wsums = ", ".join(
            f"CAST(SUM(w.w_{k}) AS BIGINT) AS ws_{k}" for k in range(kk)
        )
        qcols = ", ".join(
            f"CAST(floor(((({sigs[k]} / {ssum}) - (CASE WHEN d.y_lang = "
            f"'{c}' THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END)) "
            f"* 1000000.0) / d.n) AS BIGINT) AS q_{k}"
            for k, c in enumerate(classes)
        )
        gcols = ", ".join(
            f"CAST(SUM(q.q_{k}) AS BIGINT) AS g_{k}" for k in range(kk)
        )
        wcols = ", ".join(
            f"w.w_{k} - COALESCE(({lr_num} * g.g_{k}) // "
            f"({lr_den} * (SELECT n_docs FROM lid_nn)), 0) AS w_{k}"
            for k in range(kk)
        )
        parts.append(f""",
ls{t} AS MATERIALIZED (
  SELECT f.doc_id, {wsums}
  FROM lid_feats f JOIN lw{t - 1} w USING (b) GROUP BY f.doc_id
),
lq{t} AS MATERIALIZED (
  SELECT d.doc_id, {qcols}
  FROM lid_docs d JOIN ls{t} s USING (doc_id)
),
lg{t} AS MATERIALIZED (
  SELECT f.b, {gcols}
  FROM lid_feats f JOIN lq{t} q USING (doc_id) GROUP BY f.b
),
lw{t} AS MATERIALIZED (
  SELECT w.b, {wcols}
  FROM lw{t - 1} w LEFT JOIN lg{t} g USING (b)
)""")
    return "".join(parts)


def _lid_classify_ctes(
    *,
    classes: list[str] = _LID_CLASSES,
    epochs: int = _LID_EPOCHS,
    guess_cte: str = "lid_pred",
) -> str:
    """CTE fragments (appended after :func:`_lid_train_ctes`) scoring
    every featurized doc with the trained ``lw{epochs}`` weights and
    arg-maxing: ``{guess_cte}`` exposes (doc_id, lang_pred). Logit =
    (double of the exact micro-unit sum / 1e6) / n — the same two
    correctly-rounded IEEE steps the Spark side takes — and the tie
    break is the same first-match CASE chain over sorted classes."""
    kk = len(classes)
    wsums = ", ".join(
        f"CAST(SUM(w.w_{k}) AS BIGINT) AS ws_{k}" for k in range(kk)
    )
    lcols = ", ".join(
        f"((CAST(s.ws_{k} AS DOUBLE) / 1000000.0) / d.n) AS l_{k}"
        for k in range(kk)
    )
    best = "greatest(" + ", ".join(f"l_{k}" for k in range(kk)) + ")"
    chain = " ".join(
        f"WHEN l_{k} = {best} THEN '{c}'" for k, c in enumerate(classes)
    )
    return f""",
lid_cs AS MATERIALIZED (
  SELECT f.doc_id, {wsums}
  FROM lid_feats f JOIN lw{epochs} w USING (b) GROUP BY f.doc_id
),
lid_ll AS (
  SELECT d.doc_id, d.n, {lcols}
  FROM lid_docs d JOIN lid_cs s USING (doc_id)
),
{guess_cte} AS (
  SELECT doc_id, n, CASE {chain} END AS lang_pred
  FROM lid_ll
)"""


def lang_classifier_train_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distributed multiclass language-ID TRAINING (VERDICT r12 task
    4): 2 coupled-softmax gradient epochs over the documents corpus,
    5 language classes, 512 hashed char-2/3-gram buckets. Each epoch
    is one broadcast weight join + groupBy(doc) exact integer sums,
    one docs-sized residual projection, one map-side-combined
    groupBy(bucket) K-gradient aggregate; driver state O(K x
    buckets). Output is the learned micro-unit weight matrix in long
    form; the oracle replays both epochs as generated CTE stages —
    hash equality proves the whole compounding multiclass loop.
    (The corpus's lang labels are synthetic/unlearnable — accuracy on
    REAL language-distinct text is pinned in tests/test_langid.py.)"""
    from odibi_spark.llm import langid

    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    w = langid.lang_classifier_train(
        docs, "text", "lang", classes=_LID_CLASSES,
        buckets=_LID_BUCKETS, epochs=_LID_EPOCHS, lr=_LID_LR,
        max_chars=_LID_MAXC,
    )
    rows = [
        (c, b, int(round(x * 1e6)))
        for c in _LID_CLASSES
        for b, x in enumerate(w[c])
    ]
    return spark.createDataFrame(rows, "class string, b bigint, w_mu bigint")


LANG_TRAIN_SQL = (
    "WITH "
    + _lid_train_ctes("documents", "lang")
    + "\n"
    + "\nUNION ALL ".join(
        f"SELECT '{c}' AS class, b, w_{k} AS w_mu FROM lw{_LID_EPOCHS}"
        for k, c in enumerate(_LID_CLASSES)
    )
)


def lang_classify_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-classify chain: the 2-epoch trained weights score
    every document and argmax to a predicted language (ties to the
    lexicographically smallest class; featureless docs -> 'und').
    Per-doc output hash-gates training AND inference bit-exactness
    in one workload."""
    from odibi_spark.llm import langid

    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    w = langid.lang_classifier_train(
        docs, "text", "lang", classes=_LID_CLASSES,
        buckets=_LID_BUCKETS, epochs=_LID_EPOCHS, lr=_LID_LR,
        max_chars=_LID_MAXC,
    )
    out = langid.lang_classify(
        docs, "text", weights=w, max_chars=_LID_MAXC
    )
    return out.select("doc_id", "lang", "lang_pred", "lid_n_features")


LANG_CLASSIFY_SQL = (
    "WITH "
    + _lid_train_ctes("documents", "lang")
    + _lid_classify_ctes()
    + """
SELECT d.doc_id, d.lang,
       COALESCE(p.lang_pred, 'und') AS lang_pred,
       CAST(COALESCE(p.n, 0) AS BIGINT) AS lid_n_features
FROM documents d LEFT JOIN lid_pred p USING (doc_id)
"""
)

QUERIES.update({
    "lang_classifier_train_docs": lang_classifier_train_docs,
    "lang_classify_docs": lang_classify_docs,
})
ORACLES.update({
    "lang_classifier_train_docs": LANG_TRAIN_SQL,
    "lang_classify_docs": LANG_CLASSIFY_SQL,
})


def ccnet_lid_pipeline_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet v2 (VERDICT r12 task 4): the published pipeline with the
    language gate swapped from the stopword heuristic onto the
    TRAINED fastText-style classifier — Wenzek et al. 2019 gate on a
    fastText lang-id model, and this is that composition end-to-end:
    paragraph-hash boilerplate removal -> 2-epoch coupled-softmax
    lang-id training ON THE CLEANED CORPUS (labels joined from the
    source table) -> argmax language prediction -> KN-bigram
    perplexity terciles PER PREDICTED LANGUAGE. The oracle replays
    boilerplate removal, both training epochs, the argmax, and the
    KN chain in one generated query — hash equality gates the whole
    trained-model composition."""
    from pyspark.sql.window import Window

    from odibi_spark.llm import langid

    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    staged = docs.select(
        "doc_id", "source",
        F.concat_ws(
            "\n\n",
            F.lit("SITE NAV\nhome about contact"),
            F.col("text"),
            F.concat(
                F.lit("COPYRIGHT "), F.col("source"),
                F.lit("\nall rights reserved"),
            ),
        ).alias("text"),
    )
    # checkpoint once: cleaned feeds lang-id training, inference AND
    # the KN scorer (model + probe) — see ccnet_pipeline_docs
    cleaned = dedup.remove_boilerplate_lines(
        staged, min_docs=5, scope_col="source", delim="\n",
        granularity="paragraph", out_col="clean_text",
    ).select(
        "doc_id", F.col("clean_text").alias("text")
    ).localCheckpoint(eager=True)
    lidsrc = cleaned.join(docs.select("doc_id", "lang"), "doc_id")
    w = langid.lang_classifier_train(
        lidsrc, "text", "lang", classes=_LID_CLASSES,
        buckets=_LID_BUCKETS, epochs=_LID_EPOCHS, lr=_LID_LR,
        max_chars=_LID_MAXC,
    )
    langed = langid.lang_classify(
        cleaned, "text", weights=w, max_chars=_LID_MAXC
    ).select("doc_id", F.col("lang_pred").alias("lang_guess"))
    scored = text.kn_bigram_scores(cleaned).filter("n_bigrams > 0")
    win = Window.partitionBy("lang_guess").orderBy("avg_nll", "doc_id")
    ranked = (
        scored.join(langed, "doc_id")
        .withColumn("__t", F.ntile(3).over(win))
        .withColumn(
            "bucket",
            F.when(F.col("__t") == 1, F.lit("head"))
            .when(F.col("__t") == 2, F.lit("middle"))
            .otherwise(F.lit("tail")),
        )
    )
    return ranked.groupBy("lang_guess", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bigrams").cast("long").alias("total_bigrams"),
        F.min("ppl").alias("min_ppl"),
        F.max("ppl").alias("max_ppl"),
    )


CCNET_LID_SQL = (
    _CCNET_CLEAN_HEAD
    + """
lidsrc AS (
  SELECT c2.doc_id, c2.text, d2.lang
  FROM cleaned c2 JOIN documents d2 USING (doc_id)
),"""
    + _lid_train_ctes("lidsrc", "lang")
    + _lid_classify_ctes()
    + """,
g AS (
  SELECT doc_id, lang_pred AS lang_guess FROM lid_pred
),"""
    + _CCNET_KN_TAIL.format(dec=DEC)
)

QUERIES.update({"ccnet_lid_pipeline_docs": ccnet_lid_pipeline_docs})
ORACLES.update({"ccnet_lid_pipeline_docs": CCNET_LID_SQL})


# ---------------------------------------------------------------------------
# r13: data mixing + contrastive pair mining (llm/mixing.py)
# ---------------------------------------------------------------------------

_MWU_ROUNDS, _MWU_ETA = 3, (1, 2)


def _mixture_scored(docs: DataFrame) -> DataFrame:
    """Token-level unigram-LM scored frame (source, tok, nll 6dp) —
    shared by the mixture workloads."""
    tokens = docs.select(
        "source",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    # r15 (guide §3.3/§5): vocab feeds both the totals scalar and the
    # token join — checkpoint the O(V) table so the corpus explode +
    # aggregate runs once, not once per consumer
    vocab = (
        tokens.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    totals = vocab.agg(
        F.sum("c").alias("n_total"), F.count(F.lit(1)).alias("v_size")
    )
    return (
        tokens.join(vocab, "tok", "left")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "nll",
            F.round(
                -F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1.0))
                    / (F.col("n_total") + F.col("v_size"))
                ),
                6,
            ),
        )
    )


def domain_mixture_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain mixture reweighting (r13, Xie et al. 2023;
    multiplicative-weights form — no exp()): per-source mean TOKEN
    cross-entropy under the corpus unigram LM (6dp-rounded token nll,
    exact DECIMAL sums), then 3 MWU rounds upweighting hard domains,
    with the deterministic largest-remainder renormalization to
    exactly 1e6 micro-units. The oracle replays the LM, the losses,
    and every compounding round."""
    from odibi_spark.llm.mixing import domain_mixture_weights

    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    scored = _mixture_scored(docs)
    return domain_mixture_weights(
        scored, "source", "nll", rounds=_MWU_ROUNDS, eta=_MWU_ETA,
    )


def _mwu_cte_chain(
    rounds: int = _MWU_ROUNDS, eta: tuple[int, int] = _MWU_ETA
) -> str:
    """Generated replay of the mixture machinery: unigram-LM token
    losses -> per-domain exact means -> T largest-remainder MWU
    rounds (integer micro-units; remainder window ordered
    (rem DESC, domain) = the Python tie-break). Ends at w{rounds}."""
    e = eta[0] / eta[1]
    parts = [f"""
toks AS MATERIALIZED (
  SELECT source, tok
  FROM (SELECT source,
               unnest(string_split(trim(lower(text)), ' ')) AS tok
        FROM documents)
  WHERE tok <> ''
),
vocab AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
tot AS (
  SELECT CAST(SUM(c) AS DOUBLE) AS n_total,
         CAST(COUNT(*) AS DOUBLE) AS v_size
  FROM vocab
),
dl AS MATERIALIZED (
  SELECT t.source AS domain, CAST(COUNT(*) AS BIGINT) AS n_items,
         CAST(CAST(SUM(CAST(round(-ln((vb.c + 1.0)
                    / (tot.n_total + tot.v_size)), 6) AS {DEC})
               ) AS DOUBLE) / COUNT(*) AS DOUBLE) AS loss
  FROM toks t JOIN vocab vb USING (tok) CROSS JOIN tot
  GROUP BY t.source
),
mm AS (SELECT MIN(loss) AS lo, MAX(loss) AS hi FROM dl),
sc0 AS (SELECT domain, CAST(1 AS BIGINT) AS sw FROM dl)"""]
    for t in range(rounds + 1):
        # stage t renormalizes sc{t}; stages 1..rounds then scale
        parts.append(f""",
f{t} AS (
  SELECT domain,
         (sw * 1000000) // (SELECT SUM(sw) FROM sc{t}) AS fl,
         (sw * 1000000) % (SELECT SUM(sw) FROM sc{t}) AS rem
  FROM sc{t}
),
w{t} AS MATERIALIZED (
  SELECT domain,
         fl + (CASE WHEN rn <= 1000000 - (SELECT SUM(fl) FROM f{t})
               THEN 1 ELSE 0 END) AS wmu
  FROM (SELECT *, row_number() OVER (ORDER BY rem DESC, domain) AS rn
        FROM f{t})
)""")
        if t < rounds:
            parts.append(f""",
sc{t + 1} AS (
  SELECT w.domain,
         CAST(floor(CAST(w.wmu AS DOUBLE) * (1.0 + {e!r} *
              (CASE WHEN mm.hi = mm.lo THEN 0.0
                    ELSE (d.loss - mm.lo) / (mm.hi - mm.lo) END)))
              AS BIGINT) AS sw
  FROM w{t} w JOIN dl d USING (domain) CROSS JOIN mm
)""")
    return "WITH " + "".join(parts)


def _mwu_oracle_sql_ctes(
    rounds: int = _MWU_ROUNDS, eta: tuple[int, int] = _MWU_ETA
) -> str:
    """The MWU CTE chain alone (ends at w{rounds}) — shared by the
    mixture-weights and mixture-sampling oracles."""
    return _mwu_cte_chain(rounds, eta)


def _mwu_oracle_sql(
    rounds: int = _MWU_ROUNDS, eta: tuple[int, int] = _MWU_ETA
) -> str:
    return _mwu_cte_chain(rounds, eta) + f"""
SELECT d.domain, d.n_items, d.loss, CAST(w.wmu AS BIGINT) AS weight
FROM dl d JOIN w{rounds} w USING (domain)
"""


def hard_negatives_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-hard negative mining for contrastive training (r13,
    FaceNet terminology): for anchors vec_id < 30, the 3 hardest
    negatives with cosine in [0.1, 0.35), excluding each anchor's
    exact top-1 neighbour (the likely positive) symmetrically. The
    oracle replays the brute-force band, the exclusion anti-join,
    and the ranked cut."""
    from odibi_spark.llm import similarity
    from odibi_spark.llm.mixing import hard_negative_pairs

    _prep(spark)
    emb = read_table(spark, sf_dir, "embeddings", cpu_heavy=True)
    top1 = similarity.cosine_topk(
        emb, "vec_id", "embedding", query_filter="vec_id < 30", k=1
    ).select("query_id", "nbr_id")
    return hard_negative_pairs(
        emb, "vec_id", "embedding",
        k=3, lo=0.1, hi=0.35,
        anchor_filter="vec_id < 30", exclude=top1,
    )


HARD_NEGATIVES_SQL = """
WITH v AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
),
pairs AS (
  SELECT a.id AS anchor_id, b.id AS neg_id,
         round(list_dot_product(a.vec, b.vec)
               / (sqrt(list_dot_product(a.vec, a.vec))
                  * sqrt(list_dot_product(b.vec, b.vec))), 6) AS cosine
  FROM v a JOIN v b ON a.id <> b.id
  WHERE a.id < 30
),
top1 AS (
  SELECT anchor_id AS qa, neg_id AS qb
  FROM (SELECT anchor_id, neg_id,
               row_number() OVER (PARTITION BY anchor_id
                                  ORDER BY cosine DESC, neg_id) AS rk
        FROM pairs)
  WHERE rk = 1
),
sym AS (
  SELECT qa, qb FROM top1
  UNION
  SELECT qb AS qa, qa AS qb FROM top1
),
banded AS (
  SELECT p.anchor_id, p.neg_id, p.cosine
  FROM pairs p
  WHERE p.cosine >= 0.1 AND p.cosine < 0.35
    AND NOT EXISTS (SELECT 1 FROM sym s
                    WHERE s.qa = p.anchor_id AND s.qb = p.neg_id)
)
SELECT anchor_id, neg_id, cosine, CAST(rank AS INTEGER) AS rank
FROM (
  SELECT anchor_id, neg_id, cosine,
         row_number() OVER (PARTITION BY anchor_id
                            ORDER BY cosine DESC, neg_id) AS rank
  FROM banded
) WHERE rank <= 3
"""

QUERIES.update({
    "domain_mixture_docs": domain_mixture_docs,
    "hard_negatives_embeddings": hard_negatives_embeddings,
})
ORACLES.update({
    "domain_mixture_docs": _mwu_oracle_sql(),
    "hard_negatives_embeddings": HARD_NEGATIVES_SQL,
})


def mixture_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end mixture sampling (r13 composition capstone): DoReMi-
    style MWU domain weights -> integer largest-remainder apportionment
    of a 200-doc budget across domains -> deterministic exact-k
    selection per domain on the portable hash (the sample_k_per_group
    rank). Chains three independently-oracled machines; the oracle
    replays the LM, every MWU round, the apportionment window, and
    the per-domain hash rank in one query. Domains whose budget
    exceeds their size pass through whole (rank filter semantics)."""
    from pyspark.sql.window import Window

    from odibi_spark.llm.dedup import portable_hash60
    from odibi_spark.llm.mixing import (
        _largest_remainder, domain_mixture_weights,
    )

    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    scored = _mixture_scored(docs)
    wdf = domain_mixture_weights(
        scored, "source", "nll", rounds=_MWU_ROUNDS, eta=_MWU_ETA,
    )
    weights = {r["domain"]: int(r["weight"]) for r in wdf.collect()}
    budgets = _largest_remainder(sorted(weights.items()), total=200)
    bdf = spark.createDataFrame(
        sorted(budgets.items()), "source string, __k bigint"
    )
    h = portable_hash60(
        F.concat_ws(":", F.lit("42"), F.col("doc_id").cast("string"))
    )
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("__rn", F.row_number().over(w))
        .join(F.broadcast(bdf), "source")
        .filter(F.col("__rn") <= F.col("__k"))
        .select("doc_id", "source")
    )


MIXTURE_SAMPLE_SQL = (
    _mwu_oracle_sql_ctes()
    + f""",
bf AS (
  SELECT domain,
         (wmu * 200) // (SELECT SUM(wmu) FROM w{_MWU_ROUNDS}) AS fl,
         (wmu * 200) % (SELECT SUM(wmu) FROM w{_MWU_ROUNDS}) AS rem
  FROM w{_MWU_ROUNDS}
),
bud AS (
  SELECT domain,
         fl + (CASE WHEN rn <= 200 - (SELECT SUM(fl) FROM bf)
               THEN 1 ELSE 0 END) AS k
  FROM (SELECT *, row_number() OVER (ORDER BY rem DESC, domain) AS rn
        FROM bf)
),
hh AS (
  SELECT doc_id, source,
         CAST(concat('0x', substring(
           md5(concat('42:', CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
           AS hv
  FROM documents
),
rr AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv, doc_id) AS rn
  FROM hh
)
SELECT r.doc_id, r.source
FROM rr r JOIN bud b ON b.domain = r.source
WHERE r.rn <= b.k
"""
)

QUERIES.update({"mixture_sample_docs": mixture_sample_docs})
ORACLES.update({"mixture_sample_docs": MIXTURE_SAMPLE_SQL})


def streaming_lang_classify_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Trained-model inference on the STREAMING ingest path (r13):
    train the multiclass lang-id classifier offline (the 2-epoch
    lang_classifier_train fit), then classify the corpus arriving as
    a file stream (availableNow, maxFilesPerTrigger=1 over >= 3 part
    files -> >= 3 micro-batches) via foreachBatch lang_classify with
    the exported weights. The written predictions hash-equal the
    batch classify — the SAME oracle as lang_classify_docs — proving
    streaming inference is just a replay schedule of the batch rule
    (the streaming_incremental_dedup convention applied to a trained
    model)."""
    import shutil
    import tempfile

    from odibi_spark.llm import langid

    _prep(spark)
    docs = read_table(spark, sf_dir, "documents", cpu_heavy=True)
    w = langid.lang_classifier_train(
        docs, "text", "lang", classes=_LID_CLASSES,
        buckets=_LID_BUCKETS, epochs=_LID_EPOCHS, lr=_LID_LR,
        max_chars=_LID_MAXC,
    )
    tmp = tempfile.mkdtemp(prefix="lid_stream_wl_")
    try:
        src = f"{tmp}/src"
        outp = f"{tmp}/pred"
        docs.select("doc_id", "lang", "text").repartition(3).write.mode(
            "overwrite"
        ).parquet(src)
        stream = (
            spark.readStream
            .schema("doc_id bigint, lang string, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

        def classify(bdf, bid):
            langid.lang_classify(
                bdf, "text", weights=w, max_chars=_LID_MAXC
            ).select(
                "doc_id", "lang", "lang_pred", "lid_n_features"
            ).write.mode("append").parquet(outp)

        q = (
            stream.writeStream.foreachBatch(classify)
            .option("checkpointLocation", f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out = (
            spark.read.parquet(outp)
            .select("doc_id", "lang", "lang_pred", "lid_n_features")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


QUERIES.update(
    {"streaming_lang_classify_docs": streaming_lang_classify_docs}
)
ORACLES.update({"streaming_lang_classify_docs": LANG_CLASSIFY_SQL})
