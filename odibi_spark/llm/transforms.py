"""Named-transform wrappers for the LLM-data operators, so a YAML
pipeline drives deduplication / text analysis / similarity with the
same ``function:`` steps as the relational operators (reference
registry idiom: odibi/transformers/__init__.py:24-152).

A training-data pipeline then reads as configuration::

    transform:
      - function: text_stats
      - function: language_guess
      - function: filter_rows
        params: {condition: "quality_ok AND lang_guess = 'en'"}
      - function: dedup_exact
        params: {id_col: doc_id}

Imported for its side effects by ``odibi_spark.llm`` (and therefore by
``import odibi_spark.operators`` consumers via the llm package).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from odibi_spark.context import EngineContext
from odibi_spark.llm import dedup, similarity, text
from odibi_spark.registry import transform


@transform("text_stats")
def text_stats(ctx: EngineContext, *, text_col: str = "text") -> EngineContext:
    """Length/punct/stopword quality stats columns."""
    return ctx.with_df(text.with_text_stats(ctx.df, text_col))


@transform("token_counts")
def token_counts(ctx: EngineContext, *, text_col: str = "text") -> EngineContext:
    return ctx.with_df(text.with_token_counts(ctx.df, text_col))


@transform("language_guess")
def language_guess(ctx: EngineContext, *, text_col: str = "text") -> EngineContext:
    return ctx.with_df(text.with_language_guess(ctx.df, text_col))


@transform("fingerprint")
def fingerprint(ctx: EngineContext, *, text_col: str = "text") -> EngineContext:
    return ctx.with_df(text.with_fingerprint(ctx.df, text_col))


@transform("dedup_exact")
def dedup_exact(
    ctx: EngineContext, *, id_col: str, text_col: str = "text"
) -> EngineContext:
    """Keep one row per exact text fingerprint (lowest id wins —
    deterministic). One hash-partitioned window pass, no join."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("_fp").orderBy(id_col)
    out = (
        ctx.df.withColumn("_fp", F.md5(F.col(text_col)))
        .withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .drop("_fp", "_rn")
    )
    return ctx.with_df(out)


@transform("dedup_minhash")
def dedup_minhash(
    ctx: EngineContext,
    *,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.7,
    num_perm: int = 32,
    bands: int = 8,
) -> EngineContext:
    """Drop near-duplicates: for every verified pair, the higher id is
    removed (transitive chains collapse toward the lowest id present).

    The input is materialized once (``localCheckpoint``), so the
    shingling and the final ``left_anti`` join both read it instead of
    each re-running the upstream chain."""
    df = ctx.df.localCheckpoint(eager=True)
    pairs = dedup.minhash_dedup_pairs(
        df, id_col, text_col, num_perm=num_perm, bands=bands, threshold=threshold
    )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return ctx.with_df(df.join(losers, id_col, "left_anti"))


@transform("cosine_topk")
def cosine_topk_t(
    ctx: EngineContext,
    *,
    id_col: str,
    vec_col: str,
    k: int = 5,
    query_filter: str | None = None,
) -> EngineContext:
    return ctx.with_df(
        similarity.cosine_topk(ctx.df, id_col, vec_col, k=k, query_filter=query_filter)
    )


@transform("ann_topk")
def ann_topk(
    ctx: EngineContext,
    *,
    id_col: str,
    vec_col: str,
    k: int = 5,
    method: str = "ivf",
    nlist: int = 16,
    nprobe: int = 4,
    num_planes: int = 8,
    lsh_nprobe: int = 1,
) -> EngineContext:
    """Approximate NN: 'ivf' (coarse quantizer, nlist cells with
    nprobe probed) or 'lsh' (hyperplane; lsh_nprobe > 1 turns on
    query-directed multi-probe)."""
    if method == "ivf":
        out = similarity.ivf_topk(
            ctx.df, id_col, vec_col, k=k, nlist=nlist, nprobe=nprobe
        )
    elif method == "lsh":
        out = similarity.lsh_ann_topk(
            ctx.df, id_col, vec_col, k=k, num_planes=num_planes,
            nprobe=lsh_nprobe,
        )
    else:
        raise ValueError(f"unknown ann method '{method}' (ivf | lsh)")
    return ctx.with_df(out)


@transform("repetition_signals")
def repetition_signals(
    ctx: EngineContext,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 2,
    line_delim: str = "\n",
) -> EngineContext:
    """Gopher-style within-doc repetition quality signals."""
    return ctx.with_df(
        text.repetition_signals(ctx.df, id_col, text_col, ngram, line_delim)
    )


@transform("decontaminate")
def decontaminate_transform(
    ctx: EngineContext,
    *,
    benchmark_view: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    bench_text_col: str = "text",
    n: int = 8,
    min_hits: int = 1,
) -> EngineContext:
    """Drop docs overlapping a benchmark table (registered temp view)."""
    from odibi_spark.llm import curation

    bench = ctx.spark.table(benchmark_view)
    return ctx.with_df(
        curation.decontaminate(
            ctx.df, bench,
            id_col=id_col, text_col=text_col,
            bench_id_col=bench_id_col, bench_text_col=bench_text_col,
            n=n, min_hits=min_hits,
        )
    )


@transform("hash_sample")
def hash_sample_transform(
    ctx: EngineContext, *, fraction: float, key_col: str, seed: int = 42
) -> EngineContext:
    """Deterministic hash-based Bernoulli sample."""
    from odibi_spark.llm import curation

    return ctx.with_df(
        curation.hash_sample(ctx.df, fraction, key_col=key_col, seed=seed)
    )


@transform("pps_sample")
def pps_sample_transform(
    ctx: EngineContext,
    *,
    rate: float,
    weight_col: str,
    key_col: str,
    seed: int = 42,
    prob_col: str | None = None,
) -> EngineContext:
    """Deterministic probability-proportional-to-size sample."""
    from odibi_spark.llm import curation

    return ctx.with_df(
        curation.pps_sample(
            ctx.df, rate, weight_col=weight_col, key_col=key_col,
            seed=seed, prob_col=prob_col,
        )
    )


@transform("split_dataset")
def split_dataset_transform(
    ctx: EngineContext,
    *,
    splits: dict,
    key_col: str,
    seed: int = 42,
    split_col: str = "split",
) -> EngineContext:
    """Deterministic disjoint train/val/test assignment by hashed key."""
    from odibi_spark.llm import curation

    return ctx.with_df(
        curation.split_dataset(
            ctx.df, splits=splits, key_col=key_col, seed=seed,
            split_col=split_col,
        )
    )


@transform("stratified_hash_sample")
def stratified_hash_sample_transform(
    ctx: EngineContext,
    *,
    fractions: dict,
    strata_col: str,
    key_col: str,
    seed: int = 42,
    default_fraction: float = 0.0,
) -> EngineContext:
    from odibi_spark.llm import curation

    return ctx.with_df(
        curation.stratified_hash_sample(
            ctx.df, fractions, strata_col=strata_col, key_col=key_col,
            seed=seed, default_fraction=default_fraction,
        )
    )


@transform("sample_k_per_group")
def sample_k_per_group_transform(
    ctx: EngineContext,
    *,
    k: int,
    group_col: str,
    key_col: str,
    seed: int = 42,
) -> EngineContext:
    from odibi_spark.llm import curation

    return ctx.with_df(
        curation.sample_k_per_group(
            ctx.df, k, group_col=group_col, key_col=key_col, seed=seed,
        )
    )


@transform("token_budget_sample")
def token_budget_sample_transform(
    ctx: EngineContext,
    *,
    budget: int,
    group_col: str,
    token_col: str,
    order_col: str,
    id_col: str,
    descending: bool = True,
) -> EngineContext:
    from odibi_spark.llm import curation

    return ctx.with_df(
        curation.token_budget_sample(
            ctx.df, budget, group_col=group_col, token_col=token_col,
            order_col=order_col, id_col=id_col, descending=descending,
        )
    )


@transform("chunk_documents")
def chunk_documents_transform(
    ctx: EngineContext,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 256,
    overlap: int = 0,
) -> EngineContext:
    """Split docs into overlapping word-window chunks."""
    from odibi_spark.llm import chunking

    return ctx.with_df(
        chunking.chunk_documents(
            ctx.df, id_col=id_col, text_col=text_col,
            chunk_words=chunk_words, overlap=overlap,
        )
    )


@transform("pack_sequences")
def pack_sequences_transform(
    ctx: EngineContext,
    *,
    context_len: int,
    token_col: str,
    order_col: str,
    id_col: str,
    group_col: str | None = None,
) -> EngineContext:
    """Concat-and-split packing into fixed context windows."""
    from odibi_spark.llm import chunking

    return ctx.with_df(
        chunking.pack_sequences(
            ctx.df, context_len, token_col=token_col,
            order_col=order_col, id_col=id_col, group_col=group_col,
        )
    )


@transform("scrub_pii")
def scrub_pii_transform(
    ctx: EngineContext, *, text_col: str = "text", out_col: str | None = None
) -> EngineContext:
    """Redact emails / IPs / phone-shaped runs with typed placeholders."""
    return ctx.with_df(text.scrub_pii(ctx.df, text_col, out_col))


@transform("dedup_clusters")
def dedup_clusters_transform(
    ctx: EngineContext,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 1000,
) -> EngineContext:
    """Near-dup removal at CLUSTER granularity: Jaccard pairs ->
    connected components -> keep the min-id doc per component."""
    pairs = dedup.ngram_jaccard_pairs(
        ctx.df, id_col, text_col, n=n, threshold=threshold, max_df=max_df
    )
    return ctx.with_df(dedup.dedup_clusters(ctx.df, pairs, id_col))


@transform("dedup_incremental")
def dedup_incremental_transform(
    ctx: EngineContext,
    *,
    store_path: str,
    state_path: str,
    batch_id: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    state_key: str = "dedup_hwm",
    n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    drop: bool = True,
) -> EngineContext:
    """HWM-driven incremental near-dup check against an append-only
    MinHash signature store (llm/incremental.py): only rows past the
    committed high-water mark are processed, candidates join the store
    by LSH band keys, and the batch's signatures append (idempotently)
    afterwards. ``drop=True`` removes flagged duplicates; False keeps
    the ``is_dup`` column for downstream routing.

    YAML shape::

        - function: dedup_incremental
          params: {store_path: sigs/, state_path: state.json,
                   batch_id: "2026-08-13", id_col: doc_id}
    """
    from odibi_spark.llm.incremental import SignatureStore, run_incremental_dedup
    from odibi_spark.state.hwm import JsonStateBackend

    store = SignatureStore(ctx.df.sparkSession, store_path)
    flagged = run_incremental_dedup(
        ctx.df, store, JsonStateBackend(state_path),
        state_key=state_key, batch_id=str(batch_id), id_col=id_col,
        text_col=text_col, n=n, num_perm=num_perm, bands=bands,
        threshold=threshold,
    )
    return ctx.with_df(
        flagged.filter(~F.col("is_dup")).drop("is_dup") if drop else flagged
    )


@transform("corpus_overlap")
def corpus_overlap_transform(
    ctx: EngineContext,
    *,
    other_view: str,
    column: str,
    label_a: str = "current",
    label_b: str = "other",
) -> EngineContext:
    """Theta-sketch overlap profile between the current frame and a
    registered view (see curation.corpus_overlap)."""
    from odibi_spark.llm import curation

    other = ctx.df.sparkSession.table(other_view)
    return ctx.with_df(
        curation.corpus_overlap(
            ctx.df, other, col=column, label_a=label_a, label_b=label_b,
        )
    )


@transform("lm_score")
def lm_score_transform(
    ctx: EngineContext,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 1,
) -> EngineContext:
    """Corpus-trained unigram-LM cross-entropy per doc (the perplexity
    quality-filter shape; see text.ngram_lm_scores)."""
    return ctx.with_df(
        text.ngram_lm_scores(
            ctx.df, id_col=id_col, text_col=text_col, min_count=min_count
        )
    )


@transform("cluster_embeddings")
def cluster_embeddings_transform(
    ctx: EngineContext,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 1,
) -> EngineContext:
    """Lloyd's k-means over an embedding column for topic bucketing /
    cluster-balanced sampling (see similarity.kmeans_clusters)."""
    return ctx.with_df(
        similarity.kmeans_clusters(
            ctx.df, id_col, vec_col, k=k, iters=iters
        )
    )


@transform("semantic_dedup")
def semantic_dedup_transform(
    ctx: EngineContext,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    threshold: float = 0.95,
    iters: int = 1,
    keep_only: bool = True,
) -> EngineContext:
    """SemDeDup cluster-then-prune over an embedding column
    (similarity.semantic_dedup). ``keep_only=True`` filters the frame
    to the keepers and preserves the input columns; ``False`` returns
    the full (id, cluster, dup_of, keep) decision table."""
    decisions = similarity.semantic_dedup(
        ctx.df, id_col, vec_col, k=k, threshold=threshold, iters=iters
    )
    if not keep_only:
        return ctx.with_df(decisions)
    keep_ids = decisions.filter("keep").select(id_col)
    return ctx.with_df(ctx.df.join(keep_ids, id_col, "left_semi"))


@transform("neardup_decontaminate")
def neardup_decontaminate_transform(
    ctx: EngineContext,
    *,
    benchmark_view: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "bench_id",
    bench_text_col: str = "text",
    n: int = 3,
    num_perm: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    seed: int = 42,
) -> EngineContext:
    """Drop docs that are NEAR-duplicates of a benchmark table
    (registered temp view) — the fuzzy twin of ``decontaminate``
    (curation.neardup_decontaminate_hits)."""
    from odibi_spark.llm import curation

    bench = ctx.spark.table(benchmark_view)
    hits = curation.neardup_decontaminate_hits(
        ctx.df, bench,
        id_col=id_col, text_col=text_col,
        bench_id_col=bench_id_col, bench_text_col=bench_text_col,
        n=n, num_perm=num_perm, bands=bands, threshold=threshold, seed=seed,
    ).select(id_col).distinct()
    return ctx.with_df(ctx.df.join(hits, id_col, "left_anti"))


@transform("importance_resample")
def importance_resample_transform(
    ctx: EngineContext,
    *,
    target_view: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    target_text_col: str | None = None,
    k: int = 100,
    temperature: float = 1.0,
    seed: int = 42,
) -> EngineContext:
    """DSIR data selection toward a target table (registered temp
    view): keep the k source rows drawn by Gumbel top-k over the
    unigram-LM importance weights (curation.importance_resample),
    preserving the input columns."""
    from odibi_spark.llm import curation

    target = ctx.spark.table(target_view)
    picked = curation.importance_resample(
        ctx.df, target,
        id_col=id_col, text_col=text_col, target_text_col=target_text_col,
        k=k, temperature=temperature, seed=seed,
    ).select(id_col)
    return ctx.with_df(ctx.df.join(picked, id_col, "left_semi"))


@transform("quantize_embeddings")
def quantize_embeddings_transform(
    ctx: EngineContext,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "qvec",
    drop_original: bool = False,
) -> EngineContext:
    """Append int8 codes for an embedding column (corpus-trained
    per-dimension codebook; similarity.quantize_embeddings).
    ``drop_original=True`` keeps only the 4x-smaller codes."""
    out = similarity.quantize_embeddings(ctx.df, id_col, vec_col, out_col=out_col)
    if drop_original:
        out = out.drop(vec_col)
    return ctx.with_df(out)


@transform("mmr_rerank")
def mmr_rerank_transform(
    ctx: EngineContext,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_candidates: int = 10,
    lam: float = 0.5,
    query_filter: str | None = None,
) -> EngineContext:
    """MMR diverse top-k (similarity.mmr_topk): greedy
    relevance-vs-redundancy reranking of the cosine candidates."""
    return ctx.with_df(
        similarity.mmr_topk(
            ctx.df, id_col, vec_col,
            k=k, n_candidates=n_candidates, lam=lam,
            query_filter=query_filter,
        )
    )


@transform("bpe_encode")
def bpe_encode_transform(
    ctx: EngineContext,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_merges: int = 20,
    lowercase: bool = True,
) -> EngineContext:
    """Tokenize documents with a corpus-trained BPE merge table
    (text.bpe_train + text.bpe_encode): per-distinct-word
    segmentation, then one join over the token stream."""
    merges = text.bpe_train(
        ctx.df, text_col, num_merges=num_merges, lowercase=lowercase
    )
    return ctx.with_df(
        text.bpe_encode(
            ctx.df, id_col, text_col, merges=merges, lowercase=lowercase
        )
    )


@transform("pq_encode")
def pq_encode_transform(
    ctx: EngineContext,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    dim: int = 64,
) -> EngineContext:
    """Product-quantization compression (similarity.pq_train +
    pq_encode): train m x k L2 codebooks and replace each vector with
    its m codeword indices — the 32x memory cut billion-vector
    indexes need."""
    cb = similarity.pq_train(
        ctx.df, id_col, vec_col, m=m, k=k, dim=dim
    )
    return ctx.with_df(
        similarity.pq_encode(ctx.df, id_col, vec_col, cb)
    )


@transform("kcenter_coreset")
def kcenter_coreset_transform(
    ctx: EngineContext,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> EngineContext:
    """Diversity coreset (similarity.kcenter_coreset): greedy
    farthest-point selection of k maximally-spread vectors — the
    corpus-level diverse-subset pick for data-efficient fine-tuning
    mixes."""
    return ctx.with_df(
        similarity.kcenter_coreset(ctx.df, id_col, vec_col, k=k)
    )


@transform("winsorize")
def winsorize_transform(
    ctx: EngineContext,
    *,
    column: str,
    lower: float = 0.01,
    upper: float = 0.99,
    group_col: str | None = None,
    out_col: str | None = None,
) -> EngineContext:
    """Percentile-clamp outliers (curation.winsorize): one bounds
    aggregate + a map-side least/greatest clamp."""
    from odibi_spark.llm import curation

    return ctx.with_df(
        curation.winsorize(
            ctx.df, column,
            lower=lower, upper=upper, group_col=group_col, out_col=out_col,
        )
    )


@transform("bpe_pairs")
def bpe_pairs_transform(
    ctx: EngineContext,
    *,
    text_col: str = "text",
    top_k: int = 20,
    lowercase: bool = True,
) -> EngineContext:
    """First-iteration BPE merge statistics (text.bpe_pair_stats):
    top-k adjacent character pairs weighted by word frequency."""
    return ctx.with_df(
        text.bpe_pair_stats(ctx.df, text_col, top_k=top_k, lowercase=lowercase)
    )


@transform("winnow_fingerprints")
def winnow_fingerprints_transform(
    ctx: EngineContext,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 4,
) -> EngineContext:
    """MOSS winnowing fingerprints (dedup.winnow_fingerprints):
    (id, fp) rows — any shared run of >= window+k-1 words shares a
    fingerprint (deterministic guarantee, unlike MinHash bands)."""
    return ctx.with_df(
        dedup.winnow_fingerprints(
            ctx.df, id_col, text_col, k=k, window=window
        )
    )


@transform("lexical_diversity")
def lexical_diversity_transform(
    ctx: EngineContext,
    *,
    group_col: str = "source",
    text_col: str = "text",
) -> EngineContext:
    """Per-group token/type/hapax profile (text.lexical_diversity) —
    the TTR/hapax corpus-QA report."""
    return ctx.with_df(text.lexical_diversity(ctx.df, group_col, text_col))


@transform("script_profile")
def script_profile_transform(
    ctx: EngineContext,
    *,
    text_col: str = "text",
) -> EngineContext:
    """Unicode-script letter counts + dominant script per row
    (text.script_profile) — the cheapest wrong-script junk filter."""
    return ctx.with_df(text.script_profile(ctx.df, text_col))


@transform("remove_boilerplate")
def remove_boilerplate_transform(
    ctx: EngineContext,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    scope_col: str | None = None,
    delim: str = "\n",
    granularity: str = "line",
    out_col: str | None = None,
) -> EngineContext:
    """Line- or paragraph-level boilerplate removal
    (dedup.remove_boilerplate_lines): units repeating across >=
    min_docs docs (per scope_col, e.g. the source/domain) are dropped
    and the text re-joined. granularity='paragraph' makes the
    blank-line-separated block the frequency unit (RefinedWeb runs
    both passes)."""
    return ctx.with_df(
        dedup.remove_boilerplate_lines(
            ctx.df, id_col, text_col,
            min_docs=min_docs, scope_col=scope_col, delim=delim,
            granularity=granularity, out_col=out_col,
        )
    )


@transform("global_shuffle")
def global_shuffle_transform(
    ctx: EngineContext,
    *,
    key_col: str = "doc_id",
    seed: int = 42,
    out_col: str = "shuffle_idx",
) -> EngineContext:
    """Deterministic global training-order permutation
    (curation.global_shuffle): rank by the portable hash of
    (seed, key) via the two-pass distributed row_number."""
    from odibi_spark.llm import curation

    return ctx.with_df(
        curation.global_shuffle(ctx.df, key_col, seed=seed, out_col=out_col)
    )


@transform("temperature_mixture")
def temperature_mixture_transform(
    ctx: EngineContext,
    *,
    strata_col: str,
    key_col: str,
    target_rows: int,
    alpha: float = 0.5,
    seed: int = 42,
) -> EngineContext:
    """Temperature-based mixture sampling
    (curation.temperature_mixture_sample): stratum mass ∝ n^alpha,
    selection by the portable hash unit."""
    from odibi_spark.llm import curation

    return ctx.with_df(
        curation.temperature_mixture_sample(
            ctx.df, strata_col=strata_col, key_col=key_col,
            target_rows=target_rows, alpha=alpha, seed=seed,
        )
    )


@transform("clean_unicode")
def clean_unicode_transform(
    ctx: EngineContext,
    *,
    text_col: str = "text",
    out_col: str | None = None,
    normalize: str | None = "NFC",
    repair_mojibake: bool = True,
    strip_controls: bool = True,
    filter_to_clean: bool = False,
) -> EngineContext:
    """ftfy-class Unicode repair (text.clean_unicode): mojibake
    digraph repair + control/zero-width strip + NFC/NFKC — run it as
    the FIRST curation stage; ``filter_to_clean=True`` keeps only docs
    that needed no repair (a provenance-quality gate)."""
    out = text.clean_unicode(
        ctx.df, text_col,
        out_col=out_col, normalize=normalize,
        repair_mojibake=repair_mojibake, strip_controls=strip_controls,
    )
    if filter_to_clean:
        out = out.filter(~F.col("unicode_changed"))
    return ctx.with_df(out)


@transform("gopher_quality")
def gopher_quality_transform(
    ctx: EngineContext,
    *,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_ratio: float = 0.8,
    min_stopword_hits: int = 2,
    filter_to_keep: bool = False,
) -> EngineContext:
    """Gopher/MassiveText quality-rule flags (text.gopher_quality_flags);
    ``filter_to_keep=True`` drops failing docs in the same step."""
    out = text.gopher_quality_flags(
        ctx.df, text_col,
        min_words=min_words, max_words=max_words,
        min_mean_word_len=min_mean_word_len,
        max_mean_word_len=max_mean_word_len,
        max_symbol_ratio=max_symbol_ratio,
        min_alpha_word_ratio=min_alpha_word_ratio,
        min_stopword_hits=min_stopword_hits,
    )
    if filter_to_keep:
        out = out.filter(F.col("gopher_keep"))
    return ctx.with_df(out)


@transform("duplicate_spans")
def duplicate_spans_transform(
    ctx: EngineContext,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 8,
    min_docs: int = 2,
    max_dup_ratio: float | None = None,
) -> EngineContext:
    """Cross-corpus exact-substring duplication signals
    (dedup.duplicate_span_signals) joined back onto the rows; a
    ``max_dup_ratio`` drops docs whose duplicated-span share exceeds
    it (the Lee-et-al-style dedup filter)."""
    sig = dedup.duplicate_span_signals(
        ctx.df, id_col, text_col, ngram=ngram, min_docs=min_docs
    )
    out = ctx.df.join(sig, id_col, "left")
    if max_dup_ratio is not None:
        out = out.filter(F.col("dup_span_ratio") <= F.lit(float(max_dup_ratio)))
    return ctx.with_df(out)


@transform("cms_frequencies")
def cms_frequencies_transform(
    ctx: EngineContext,
    *,
    key_col: str,
    width: int = 1024,
    depth: int = 4,
    weight_col: str | None = None,
    seed: int = 42,
) -> EngineContext:
    """Replace the frame with its count-min sketch (depth, bucket,
    cnt) — a fixed-size mergeable frequency summary (llm.cms)."""
    from odibi_spark.llm import cms

    return ctx.with_df(
        cms.cms_build(
            ctx.df, key_col,
            width=width, depth=depth, weight_col=weight_col, seed=seed,
        )
    )


@transform("random_projection")
def random_projection_transform(
    ctx: EngineContext,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_dim: int = 16,
    seed: int = 42,
    out_col: str = "rp_vec",
    keep_original: bool = False,
) -> EngineContext:
    """Johnson-Lindenstrauss projection to out_dim dims
    (similarity.random_projection); keep_original=False replaces the
    wide vector with the narrow one."""
    proj = similarity.random_projection(
        ctx.df, id_col, vec_col, out_dim=out_dim, seed=seed, out_col=out_col
    )
    if keep_original:
        return ctx.with_df(ctx.df.join(proj, id_col))
    return ctx.with_df(
        ctx.df.drop(vec_col).join(proj, id_col)
    )


@transform("bm25_score")
def bm25_score_transform(
    ctx: EngineContext,
    *,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    min_score: float | None = None,
) -> EngineContext:
    """Okapi BM25 relevance to a bag of query terms (text.bm25_scores)
    joined onto the rows; min_score keeps only sufficiently relevant
    docs (retrieval-as-a-filter)."""
    scores = text.bm25_scores(
        ctx.df, list(query_terms), id_col=id_col, text_col=text_col,
        k1=k1, b=b,
    )
    out = ctx.df.join(scores, id_col, "left")
    if min_score is not None:
        out = out.filter(F.col("bm25") >= F.lit(float(min_score)))
    return ctx.with_df(out)


@transform("remove_duplicate_spans")
def remove_duplicate_spans_transform(
    ctx: EngineContext,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 8,
    min_docs: int = 2,
    out_col: str | None = None,
) -> EngineContext:
    """Cut cross-corpus duplicated spans out of the text, keeping the
    globally-first occurrence (dedup.remove_duplicate_spans)."""
    return ctx.with_df(
        dedup.remove_duplicate_spans(
            ctx.df, id_col, text_col,
            ngram=ngram, min_docs=min_docs, out_col=out_col,
        )
    )


@transform("epoch_repeat")
def epoch_repeat_transform(
    ctx: EngineContext,
    *,
    factors: dict,
    strata_col: str,
    key_col: str,
    seed: int = 42,
    epoch_col: str = "epoch",
) -> EngineContext:
    """Fractional per-stratum epoch repetition for data-constrained
    mixing (curation.epoch_repeat_sample): factor 2.5 keeps every row
    twice plus a deterministic half a third time."""
    from odibi_spark.llm import curation

    return ctx.with_df(
        curation.epoch_repeat_sample(
            ctx.df,
            factors={str(k): float(v) for k, v in factors.items()},
            strata_col=strata_col, key_col=key_col,
            seed=seed, epoch_col=epoch_col,
        )
    )


@transform("rrf_fuse")
def rrf_fuse_transform(
    ctx: EngineContext,
    *,
    ranking_views: list[str],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 60,
) -> EngineContext:
    """Reciprocal-rank fusion of the current frame (an (id, rank)
    ranking) with the named ranking views (similarity.rrf_fuse)."""
    frames = [ctx.df] + [ctx.spark.table(v) for v in ranking_views]
    return ctx.with_df(
        similarity.rrf_fuse(
            frames, id_col=id_col, rank_col=rank_col, k=int(k)
        )
    )


@transform("source_divergence")
def source_divergence_transform(
    ctx: EngineContext,
    *,
    strata_col: str = "source",
    text_col: str = "text",
) -> EngineContext:
    """Per-stratum unigram KL divergence from the corpus distribution
    (text.source_divergence) — replaces the frame with the per-stratum
    drift report."""
    return ctx.with_df(
        text.source_divergence(ctx.df, strata_col=strata_col, text_col=text_col)
    )


@transform("url_normalize")
def url_normalize_transform(
    ctx: EngineContext,
    *,
    url_col: str = "url",
    out_col: str | None = None,
    host_col: str | None = "host",
) -> EngineContext:
    """RFC 3986 URL canonicalization (url.url_normalize): lowercase
    scheme/host, strip default port / fragment / tracking params —
    the stage-1 key-cleaning step of every web-corpus pipeline."""
    from odibi_spark.llm import url as _url

    return ctx.with_df(
        _url.url_normalize(
            ctx.df, url_col, out_col, host_col=host_col
        )
    )


@transform("registered_domain")
def registered_domain_transform(
    ctx: EngineContext,
    *,
    host_col: str = "host",
    out_col: str = "registered_domain",
    extra_suffixes: list[str] | None = None,
) -> EngineContext:
    """Registered (pay-level) domain per host against the static
    public-suffix snapshot (url.registered_domain)."""
    from odibi_spark.llm import url as _url

    return ctx.with_df(
        _url.registered_domain(
            ctx.df, host_col, out_col,
            extra_suffixes=tuple(extra_suffixes or ()),
        )
    )


@transform("filter_blocked_domains")
def filter_blocked_domains_transform(
    ctx: EngineContext,
    *,
    blocklist: list[str],
    domain_col: str = "registered_domain",
) -> EngineContext:
    """Blocklist gate on the registered domain
    (url.filter_blocked_domains): literal NOT-IN for small lists,
    broadcast anti-join above the cap."""
    from odibi_spark.llm import url as _url

    return ctx.with_df(
        _url.filter_blocked_domains(
            ctx.df, list(blocklist), domain_col=domain_col
        )
    )


@transform("dedup_by_url")
def dedup_by_url_transform(
    ctx: EngineContext,
    *,
    id_col: str = "doc_id",
    url_col: str = "url",
) -> EngineContext:
    """Exact URL-key dedup, lowest id per normalized URL survives
    (url.dedup_by_url)."""
    from odibi_spark.llm import url as _url

    return ctx.with_df(_url.dedup_by_url(ctx.df, id_col, url_col))


@transform("bpe_train")
def bpe_train_transform(
    ctx: EngineContext,
    *,
    text_col: str = "text",
    num_merges: int = 20,
    lowercase: bool = True,
    end_of_word: str | None = "</w>",
) -> EngineContext:
    """Full iterative BPE tokenizer training (text.bpe_train, Sennrich
    et al. 2016): replaces the frame with the learned merge table
    (merge_rank, left, right, pair_count). O(num_merges) driver loop;
    every round shuffles only the vocabulary table."""
    return ctx.with_df(
        text.bpe_train(
            ctx.df, text_col, num_merges=int(num_merges),
            lowercase=lowercase, end_of_word=end_of_word,
        )
    )


@transform("quality_classifier")
def quality_classifier_transform(
    ctx: EngineContext,
    *,
    text_col: str = "text",
    weights: list[float] | None = None,
    bias: float | None = None,
    buckets: int = 512,
    seed: int = 42,
    id_col: str = "doc_id",
    bigrams: bool = True,
    out_prefix: str = "ql_",
) -> EngineContext:
    """fastText-style hashed linear quality scoring
    (curation.quality_classifier, Joulin et al. 2016). Pass trained
    ``weights``/``bias`` for production; omitting them uses the
    seeded deterministic vector (buckets, seed) — enough for
    reproducible pipeline wiring and demos."""
    from odibi_spark.llm import curation

    if weights is None:
        weights, gen_bias = curation.quality_classifier_weights(
            int(buckets), seed=int(seed)
        )
        bias = gen_bias if bias is None else bias
    return ctx.with_df(
        curation.quality_classifier(
            ctx.df, text_col,
            weights=[float(w) for w in weights],
            bias=float(bias or 0.0), id_col=id_col,
            bigrams=bigrams, out_prefix=out_prefix,
        )
    )


@transform("quality_classifier_train")
def quality_classifier_train_transform(
    ctx: EngineContext,
    *,
    text_col: str = "text",
    label_col: str | None = None,
    label_condition: str | None = None,
    buckets: int = 512,
    epochs: int = 3,
    lr_num: int = 1,
    lr_den: int = 4,
    id_col: str = "doc_id",
    bigrams: bool = True,
    out_prefix: str = "ql_",
) -> EngineContext:
    """Train the hashed linear quality classifier on the CURRENT frame
    (full-batch logistic regression, curation.quality_classifier_train
    — deterministic in the data, no MLlib) and immediately score the
    frame with the learned weights: the trained->inference chain as
    one YAML node. The label is either an existing ``label_col`` or a
    ``label_condition`` SQL expression evaluated to 0/1 (e.g.
    ``"lang = 'en'"`` for a seed-quality heuristic)."""
    from odibi_spark.llm import curation

    df = ctx.df
    label = label_col
    if label_condition is not None:
        if label_col is not None:
            raise ValueError("pass label_col or label_condition, not both")
        df = df.withColumn(
            "__ql_label", F.expr(label_condition).cast("int")
        )
        label = "__ql_label"
    if label is None:
        raise ValueError(
            "quality_classifier_train needs label_col or label_condition"
        )
    weights, bias = curation.quality_classifier_train(
        df, text_col, label,
        buckets=int(buckets), epochs=int(epochs),
        lr=(int(lr_num), int(lr_den)), id_col=id_col, bigrams=bigrams,
    )
    if label == "__ql_label":
        df = df.drop("__ql_label")
    return ctx.with_df(
        curation.quality_classifier(
            df, text_col, weights=weights, bias=bias, id_col=id_col,
            bigrams=bigrams, out_prefix=out_prefix,
        )
    )


@transform("scrub_cards")
def scrub_cards_transform(
    ctx: EngineContext,
    *,
    text_col: str = "text",
    out_col: str | None = None,
    placeholder: str = "<CARD>",
) -> EngineContext:
    """Luhn-validated payment-card redaction (text.scrub_cards) —
    the checksum-gated PII class shape-only rules can't safely match."""
    return ctx.with_df(
        text.scrub_cards(
            ctx.df, text_col, out_col, placeholder=placeholder
        )
    )


@transform("domain_rollup")
def domain_rollup_transform(
    ctx: EngineContext,
    *,
    domain_col: str = "registered_domain",
    size_col: str | None = None,
    quality_col: str | None = None,
    min_docs: int = 1,
) -> EngineContext:
    """Per-registered-domain reputation aggregate (url.domain_rollup):
    the row-quality -> domain-stats -> next-crawl-blocklist loop."""
    from odibi_spark.llm import url as _url

    return ctx.with_df(
        _url.domain_rollup(
            ctx.df, domain_col=domain_col, size_col=size_col,
            quality_col=quality_col, min_docs=int(min_docs),
        )
    )


@transform("bpe_segment")
def bpe_segment_transform(
    ctx: EngineContext,
    *,
    text_col: str = "text",
    num_merges: int = 20,
    lowercase: bool = True,
    end_of_word: str | None = "</w>",
) -> EngineContext:
    """Train BPE and replace the frame with the segmented vocabulary
    (word, wc, syms) — the tokenizer applied to every distinct corpus
    word (text.bpe_segmented_vocab); encode the corpus by joining its
    token stream to this table."""
    return ctx.with_df(
        text.bpe_segmented_vocab(
            ctx.df, text_col, num_merges=int(num_merges),
            lowercase=lowercase, end_of_word=end_of_word,
        )
    )


@transform("line_corrections")
def line_corrections_transform(
    ctx: EngineContext,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 3,
    max_numeric_ratio: float = 0.5,
    max_punct_ratio: float = 0.5,
    delim: str = "\n",
    out_col: str | None = None,
) -> EngineContext:
    """RefinedWeb rule-based line-wise corrections
    (text.remove_junk_lines): too-short / mostly-numeric / mostly-
    punctuation / social-counter lines dropped, survivors re-joined.
    Map-side rules, one per-doc rebuild shuffle — run BEFORE the
    frequency-based remove_boilerplate pass."""
    return ctx.with_df(
        text.remove_junk_lines(
            ctx.df, id_col, text_col, min_chars=int(min_chars),
            max_numeric_ratio=float(max_numeric_ratio),
            max_punct_ratio=float(max_punct_ratio),
            delim=delim, out_col=out_col,
        )
    )


@transform("strip_html")
def strip_html_transform(
    ctx: EngineContext,
    *,
    text_col: str = "text",
    out_col: str | None = None,
) -> EngineContext:
    """Regex-level HTML removal (text.strip_html): comments, script/
    style blocks, tags -> space, standard-order entity decode,
    whitespace squeeze. Map-side only."""
    return ctx.with_df(text.strip_html(ctx.df, text_col, out_col))


@transform("dedup_clusters_by_quality")
def dedup_clusters_by_quality_transform(
    ctx: EngineContext,
    *,
    pairs_view: str,
    id_col: str = "doc_id",
    quality_col: str = "quality",
    cluster_col: str = "cluster_id",
) -> EngineContext:
    """Quality-aware near-dup keeper election
    (dedup.dedup_clusters_by_quality): per duplicate cluster keep the
    highest-``quality_col`` doc (ties -> lowest id). ``pairs_view``
    names a registered (id_a, id_b) pair view."""
    pairs = ctx.spark.table(pairs_view)
    return ctx.with_df(
        dedup.dedup_clusters_by_quality(
            ctx.df, pairs, id_col=id_col, quality_col=quality_col,
            cluster_col=cluster_col,
        )
    )


@transform("kn_perplexity")
def kn_perplexity_transform(
    ctx: EngineContext,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
) -> EngineContext:
    """Interpolated Kneser-Ney bigram LM cross-entropy + perplexity
    per doc, trained on the corpus itself (text.kn_bigram_scores) —
    the backoff-LM quality-filter shape CCNet uses."""
    return ctx.with_df(
        text.kn_bigram_scores(
            ctx.df, id_col=id_col, text_col=text_col,
            discount=float(discount),
        )
    )


@transform("dsir_hashed_select")
def dsir_hashed_select_transform(
    ctx: EngineContext,
    *,
    target_view: str,
    k: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 512,
    bigrams: bool = True,
    seed: int = 42,
) -> EngineContext:
    """Hashed-feature DSIR selection (curation.dsir_importance +
    dsir_gumbel_topk): importance-weight the frame against a
    registered target-corpus view over hashed n-gram buckets, then
    draw k docs by Gumbel top-k. O(buckets) model, deterministic."""
    from odibi_spark.llm import curation

    target = ctx.spark.table(target_view)
    scored = curation.dsir_importance(
        ctx.df, target, text_col, id_col=id_col, buckets=int(buckets),
        bigrams=bool(bigrams),
    )
    return ctx.with_df(
        curation.dsir_gumbel_topk(
            scored, int(k), id_col=id_col, seed=int(seed),
        )
    )


@transform("audio_ahash")
def audio_ahash_transform(
    ctx: EngineContext,
    *,
    binary_col: str = "payload",
    id_col: str = "media_id",
    out_col: str = "ahash",
) -> EngineContext:
    """Perceptual audio hash (multimodal.audio_ahash): WAV PCM decode
    -> 65-bucket energy-profile difference hash, ready for
    hash64_near_pairs banding."""
    from odibi_spark.llm import multimodal

    return ctx.with_df(
        multimodal.audio_ahash(
            ctx.df, binary_col, id_col, out_col=out_col,
        )
    )


@transform("video_frame_dhashes")
def video_frame_dhashes_transform(
    ctx: EngineContext,
    *,
    binary_col: str = "payload",
    id_col: str = "media_id",
    rows: int = 8,
    cols: int = 8,
) -> EngineContext:
    """Per-frame perceptual hashes over uncompressed-DIB AVI payloads
    (multimodal.video_frame_dhashes): (id, frame_idx, dhash) rows
    ready for video_neardup_pairs or hash64_near_pairs."""
    from odibi_spark.llm import multimodal

    return ctx.with_df(
        multimodal.video_frame_dhashes(
            ctx.df, binary_col, id_col, rows=int(rows), cols=int(cols),
        )
    )


@transform("video_neardup_pairs")
def video_neardup_pairs_transform(
    ctx: EngineContext,
    *,
    id_col: str = "media_id",
    hash_col: str = "dhash",
    threshold: float = 0.5,
) -> EngineContext:
    """Near-duplicate videos by frame-hash set Jaccard
    (multimodal.video_neardup_pairs)."""
    from odibi_spark.llm import multimodal

    return ctx.with_df(
        multimodal.video_neardup_pairs(
            ctx.df, id_col, hash_col, threshold=float(threshold),
        )
    )


@transform("kn_trigram_perplexity")
def kn_trigram_perplexity_transform(
    ctx: EngineContext,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    discount: float = 0.75,
) -> EngineContext:
    """Interpolated Kneser-Ney TRIGRAM LM cross-entropy + perplexity
    (text.kn_trigram_scores): the full three-order backoff chain."""
    return ctx.with_df(
        text.kn_trigram_scores(
            ctx.df, id_col=id_col, text_col=text_col,
            discount=float(discount),
        )
    )


@transform("lang_classifier_train")
def lang_classifier_train_transform(
    ctx: EngineContext,
    *,
    classes: list[str],
    text_col: str = "text",
    label_col: str = "lang",
    buckets: int = 2048,
    epochs: int = 3,
    lr_num: int = 1,
    lr_den: int = 1,
    max_chars: int = 120,
    id_col: str = "doc_id",
    out_col: str = "lang_pred",
) -> EngineContext:
    """Train the multiclass fastText-style language classifier on the
    CURRENT frame (langid.lang_classifier_train — coupled rational-
    softmax full-batch GD, deterministic in the data, no MLlib) and
    immediately classify the frame with the learned weights: the
    trained->inference chain as one YAML node."""
    from odibi_spark.llm import langid

    weights = langid.lang_classifier_train(
        ctx.df, text_col, label_col, classes=list(classes),
        buckets=int(buckets), epochs=int(epochs),
        lr=(int(lr_num), int(lr_den)), max_chars=int(max_chars),
        id_col=id_col,
    )
    return ctx.with_df(
        langid.lang_classify(
            ctx.df, text_col, weights=weights, id_col=id_col,
            max_chars=int(max_chars), out_col=out_col,
        )
    )


@transform("lang_classify")
def lang_classify_transform(
    ctx: EngineContext,
    *,
    weights: dict[str, list[float]],
    text_col: str = "text",
    id_col: str = "doc_id",
    max_chars: int = 120,
    out_col: str = "lang_pred",
    unknown: str = "und",
) -> EngineContext:
    """Argmax language prediction from exported per-class weights
    (langid.lang_classify): pass the dict a lang_classifier_train fit
    returned, or weights exported from an external fastText model
    quantized to 6 decimals."""
    from odibi_spark.llm import langid

    return ctx.with_df(
        langid.lang_classify(
            ctx.df, text_col,
            weights={k: list(v) for k, v in weights.items()},
            id_col=id_col, max_chars=int(max_chars), out_col=out_col,
            unknown=unknown,
        )
    )


@transform("domain_mixture_weights")
def domain_mixture_weights_transform(
    ctx: EngineContext,
    *,
    domain_col: str = "source",
    nll_col: str = "nll",
    rounds: int = 3,
    eta_num: int = 1,
    eta_den: int = 2,
) -> EngineContext:
    """DoReMi-style multiplicative-weights domain mixture search over
    a token-level scored frame (llm/mixing.py): replaces the frame
    with one (domain, n_items, loss, weight) row per domain — feed
    the weights to temperature/PPS sampling as the mixture."""
    from odibi_spark.llm import mixing

    return ctx.with_df(
        mixing.domain_mixture_weights(
            ctx.df, domain_col, nll_col,
            rounds=int(rounds), eta=(int(eta_num), int(eta_den)),
        )
    )


@transform("hard_negative_pairs")
def hard_negative_pairs_transform(
    ctx: EngineContext,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    lo: float = 0.1,
    hi: float = 0.9,
    anchor_filter: str | None = None,
) -> EngineContext:
    """Semi-hard negative mining over an embedding column
    (llm/mixing.py): (anchor_id, neg_id, cosine, rank) pairs for
    contrastive training data."""
    from odibi_spark.llm import mixing

    return ctx.with_df(
        mixing.hard_negative_pairs(
            ctx.df, id_col, vec_col, k=int(k), lo=float(lo),
            hi=float(hi), anchor_filter=anchor_filter,
        )
    )
