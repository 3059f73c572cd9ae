"""Benchmark harness: runs the headline workloads at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Each query is timed end-to-end: plan construction + execution to a
driver-side count/collect of the (small) result. Timings include JVM
warm-path effects in arrival order, so the heavy scans come first.

The stdout JSON line is kept COMPACT (2-decimal timings, probe
sub-dicts slimmed to their headline scalars) so a bounded tail
capture still contains the whole parseable line — BENCH_r05.json
shipped ``parsed: null`` because the full 4-decimal line outgrew the
driver's ~2.4 KB capture window and lost its head. The FULL-precision
result (every probe field) is always written to ``BENCH.json`` next
to this script; override the path with ``--out PATH``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    # scan/agg/join heavy
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_revenue_by_nation",
    "q6_forecast_revenue",
    "q7_nation_volume",
    "q10_returned_revenue",
    "q14_promo_revenue",
    "q18_large_orders",
    "q4_order_priority",
    "q8_market_share",
    "q9_product_profit",
    "q13_customer_distribution",
    "q17_small_quantity_revenue",
    # round 5: the remaining TPC-H shapes (full 22-query span)
    "q2_min_cost_supplier",
    "q11_important_parts",
    "q12_ship_latency",
    "q16_supplier_variety",
    "q20_excess_share_suppliers",
    "q21_waiting_suppliers",
    "agg_having_suppliers",
    "shipping_delay",
    # window / sessionization
    "window_running_revenue",
    "dedup_latest_order",
    "sessionize_events",
    # pivot / set ops
    "pivot_qty_by_status",
    "intersect_repeat_customers",
    # skew mitigation
    "skew_salted_event_join",
    # LLM-data ops
    "text_quality",
    "exact_dedup_docs",
    "minhash_lsh_pairs",
    "embedding_cosine_topk",
]


class Calibration:
    """Contention canary (VERDICT r11 task 2): a PINNED workload —
    a fixed CPU+shuffle leg (spark.range hash-agg), a fixed IO leg
    (scan of a 2M-row parquet written once per run), and — r14 — a
    REAL-INPUT leg (full-column scan of the sf lineitem parquet, the
    exact bytes the headline queries read) — timed at the start,
    middle, and end of the bench. Query code changes cannot move it,
    so when its samples inflate vs the frozen board value (or drift
    apart within one run) the RUN is contended, and the per-query
    numbers carry a machine-noise health bit instead of needing a
    judge re-run to adjudicate (r11: 11 false >=2x "regressions" from
    one contended driver run).

    The r13 adjudication found the 2M-row synthetic IO leg BLIND to
    exactly the noise that moved 8 headline queries >2x: it reads a
    file written seconds earlier (page-cache-resident by
    construction), so a run whose *input parquet* scans were 3x off
    still calibrated clean. Two fixes: the real-input leg here runs
    through the same read path + page cache as the queries and
    catches mid-run IO/memory-bandwidth degradation, and
    ``warm_inputs`` (below) reads every input's column pages ONCE
    before timing starts — recording the true cold-IO cost in its own
    number (``io_warmup``) instead of charging it to whichever query
    touches the table first."""

    def __init__(self, spark, sf_dir: str | None = None):
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        self.spark = spark
        self._F = F
        self._shutil = shutil
        self.sf_dir = sf_dir
        self.tmp = tempfile.mkdtemp(prefix="bench_calib_")
        # fixed IO fixture: content is a pure function of range(2M),
        # so the leg reads identical bytes on every host and round
        spark.range(2_000_000).select(
            "id", ((F.col("id") * 2654435761) % 1_000_003).alias("k")
        ).repartition(8).write.parquet(f"{self.tmp}/t")
        self.samples: dict[str, float] = {}
        self._run()  # warm codegen + page cache: sample 1 is steady-state

    def _run(self) -> float:
        F = self._F
        t0 = time.time()
        # CPU + shuffle leg (SF-independent)
        (
            self.spark.range(8_000_000)
            .select(((F.col("id") * 2654435761) % 1_000_003).alias("k"), "id")
            .repartition(32, "k")
            .groupBy("k").agg(F.sum("id").alias("s"))
            .select(F.expr("bit_xor(xxhash64(k, s))")).collect()
        )
        # IO leg: fixed 2M-row parquet scan + agg
        (
            self.spark.read.parquet(f"{self.tmp}/t")
            .groupBy((F.col("k") % 64).alias("b")).agg(F.sum("id").alias("s"))
            .select(F.expr("bit_xor(xxhash64(b, s))")).collect()
        )
        # real-input leg (r14): full-column scan of the sf lineitem —
        # the same bytes, parquet decode path and page-cache state the
        # headline queries depend on; a mid-run IO/memory-bandwidth
        # squeeze that the synthetic legs can't see moves THIS number
        if self.sf_dir:
            from odibi_spark.io import read_table

            (
                read_table(self.spark, self.sf_dir, "lineitem")
                .select(F.expr("bit_xor(xxhash64(struct(*)))"))
                .collect()
            )
        return time.time() - t0

    def sample(self, label: str) -> None:
        self.samples[label] = round(self._run(), 4)
        print(f"# calibration[{label}]: {self.samples[label]:.2f}s",
              file=sys.stderr)

    def result(self, frozen: float | dict | None) -> dict:
        """Flag decision. ``frozen`` is the board's idle reference:
        a PER-POSITION dict ({start: s, mid: s, end: s} — the r12
        finding: the probe slows ~1.5x over a full bench session from
        JVM/GC aging alone, so positions must compare like-for-like)
        or a legacy scalar (compared against the worst sample). With
        a dict, contended = any position > 1.3x its own reference;
        intra-run drift is reported but no longer gates (session-age
        drift is intrinsic). With no reference at all, only an
        extreme drift (> 2.0x, beyond anything an idle session shows)
        flags."""
        vals = list(self.samples.values())
        worst = max(vals)
        drift = round(worst / min(vals), 3) if min(vals) > 0 else None
        if isinstance(frozen, dict):
            # ADVICE r12: a sample whose label is absent from the
            # frozen reference (renamed/new probe position) must not
            # silently contribute NO ratio — it would then only be
            # guarded by the 1.8x drift gate, which uniform
            # contention passes. Fall back to the slowest frozen
            # position (the most lenient like-for-like available)
            # and surface the mismatch in the output.
            frozen_vals = [v for v in frozen.values() if v]
            fallback = max(frozen_vals) if frozen_vals else None
            ratios, unmatched = [], []
            for k, v in self.samples.items():
                ref = frozen.get(k)
                if ref:
                    ratios.append(v / ref)
                elif fallback:
                    unmatched.append(k)
                    ratios.append(v / fallback)
            self._unmatched = sorted(unmatched)
            ratio = round(max(ratios), 3) if ratios else None
            # extreme intra-run swing (> 1.8x, beyond session aging)
            # gates even when each position squeaks under its
            # reference: the per-query numbers are incomparable when
            # the host speed changed mid-run (r12: a drift-2.3 run
            # slipped through on per-position ratios alone)
            contended = bool(
                (ratio is not None and ratio > 1.3)
                or (drift is not None and drift > 1.8)
            )
        elif frozen:
            ratio = round(worst / frozen, 3)
            contended = bool(
                ratio > 1.3 or (drift is not None and drift > 1.3)
            )
        else:
            ratio = None
            contended = bool(drift is not None and drift > 2.0)
        self._shutil.rmtree(self.tmp, ignore_errors=True)
        out = {
            "samples": dict(self.samples),
            "frozen_sec": frozen,
            "worst_vs_frozen": ratio,
            "intra_run_drift": drift,
            "contended": contended,
        }
        if getattr(self, "_unmatched", None):
            out["unmatched_labels"] = self._unmatched
        return out


def warm_inputs(spark, sf_dir: str) -> dict:
    """Read every bench input's COLUMN PAGES once, per table, timed
    (r14, VERDICT r13 task 1): the old warmup counted rows, which the
    parquet reader satisfies from footers/page headers without
    touching data pages — so the first query on each table silently
    paid the cold-IO cost, and on a bad IO window that cost was 3x
    the board while the (page-cache-resident) calibration leg read
    clean. A full-column xxhash scan forces every page through the
    same read path the queries use; afterwards the inputs are
    page-cache-warm, which is the board's frozen condition. The
    per-table seconds are emitted as ``io_warmup`` — a run that
    started IO-cold or IO-contended records it HERE, decidably, not
    as phantom per-query regressions."""
    from pyspark.sql import functions as F

    from odibi_spark.io import read_table

    out: dict[str, float] = {}
    for t in (
        "lineitem", "orders", "customer", "supplier", "part",
        "nation", "region", "events", "documents", "embeddings",
    ):
        t0 = time.time()
        read_table(spark, sf_dir, t).select(
            F.expr("bit_xor(xxhash64(struct(*)))")
        ).collect()
        out[t] = round(time.time() - t0, 4)
    out["total"] = round(sum(out.values()), 4)
    return out


def scale_docs_bench(spark, sf_dir: str, factor: int = 10) -> dict:
    """Dedup-at-scale probe (SCALING.md 'no-quadratic guarantee'):
    synthesize a factor-x corpus where every doc gains (factor-1)
    near-duplicate replicas (one distinct token appended), then count
    MinHash-LSH *candidate pairs* at 1x and at factor-x. Sub-quadratic
    candidate generation means candidates stay a vanishing fraction of
    the all-pairs C(N,2) — the number a naive all-pairs verifier would
    compute — even as real duplicate groups grow.
    """
    import time as _t

    from pyspark.sql import functions as F

    from odibi_spark.io import read_table
    from odibi_spark.llm.dedup import lsh_candidate_pairs, minhash_signatures

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_base = docs.count()

    def candidates(df) -> int:
        sigs = minhash_signatures(df, "doc_id")
        return lsh_candidate_pairs(sigs).count()

    t0 = _t.time()
    c_base = candidates(docs)
    sec_base = round(_t.time() - t0, 4)

    replicas = [
        docs.select(
            (F.col("doc_id") + F.lit(i * 100_000_000)).alias("doc_id"),
            (
                F.concat(F.col("text"), F.lit(f" replicatoken{i}"))
                if i
                else F.col("text")
            ).alias("text"),
        )
        for i in range(factor)
    ]
    scaled = replicas[0]
    for r in replicas[1:]:
        scaled = scaled.unionByName(r)
    n_scaled = n_base * factor

    t0 = _t.time()
    c_scaled = candidates(scaled)
    sec_scaled = round(_t.time() - t0, 4)

    all_pairs_scaled = n_scaled * (n_scaled - 1) // 2
    return {
        "factor": factor,
        "docs_base": n_base,
        "docs_scaled": n_scaled,
        "candidates_base": c_base,
        "candidates_scaled": c_scaled,
        "sec_base": sec_base,
        "sec_scaled": sec_scaled,
        # fraction of the quadratic all-pairs space actually examined;
        # sub-quadratic generation keeps this far below 1
        "candidate_fraction_of_all_pairs": round(c_scaled / all_pairs_scaled, 6),
        # wall-clock scaling vs corpus growth (1.0 = perfectly linear)
        "time_growth_vs_linear": round(sec_scaled / (sec_base * factor), 3)
        if sec_base > 0
        else None,
    }


def incr_dedup_probe(spark, sf_dir: str, factor: int = 10) -> dict:
    """Incremental-dedup flat-cost probe: the SAME fixed delta checked
    against a 1x signature store and a factor-x store. The candidate
    join is keyed on LSH band keys, so per-batch cost must grow far
    sub-linearly with corpus (store) size — the property that makes
    daily incremental runs viable at 100 TB."""
    import shutil
    import tempfile
    import time as _t

    from pyspark.sql import functions as F

    from odibi_spark.io import read_table
    from odibi_spark.llm.dedup import minhash_signatures
    from odibi_spark.llm.incremental import SignatureStore, flag_incremental_dups

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_base = docs.count()
    # delta: 500 perturbed copies with ids above every store id
    delta = (
        docs.orderBy("doc_id").limit(500)
        .select(
            (F.col("doc_id") + F.lit(10_000_000_000)).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" deltatoken")).alias("text"),
        )
        .localCheckpoint(eager=True)
    )
    tmp = tempfile.mkdtemp(prefix="incr_probe_")
    out = {"delta_docs": 500, "store_small": n_base, "store_large": n_base * factor}
    try:
        for name, reps in (("small", 1), ("large", factor)):
            corpus = docs
            if reps > 1:
                corpus = docs.select(
                    F.explode(
                        F.expr(f"sequence(0, {reps - 1})")
                    ).alias("rep"), "doc_id", "text",
                ).select(
                    (F.col("doc_id") + F.col("rep") * 100_000_000).alias("doc_id"),
                    F.concat_ws(" ", "text", F.col("rep").cast("string")).alias("text"),
                )
            store = SignatureStore(spark, f"{tmp}/sigs_{name}")
            store.append(minhash_signatures(corpus, "doc_id"), "seed")
            t0 = _t.time()
            flagged, _sigs = flag_incremental_dups(delta, store)
            flagged.count()
            out[f"sec_{name}"] = round(_t.time() - t0, 4)
        out["time_growth_vs_linear"] = (
            round(out["sec_large"] / (out["sec_small"] * factor), 3)
            if out["sec_small"] > 0
            else None
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def zorder_probe(spark, sf_dir: str) -> dict:
    """Measured data-skipping from the Morton layout: write events
    z-ordered by (user_id, time) and time-sorted, then count how many
    8 KB row groups a mid-range user_id point predicate would touch
    per parquet footer min/max stats. Lower = more skipping; the
    time-sorted layout cannot prune on user_id at all."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from odibi_spark.io import read_table
    from odibi_spark.operators.layout import write_zordered

    ev = read_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("double").alias("t"), "value"
    )
    tmp = tempfile.mkdtemp(prefix="zprobe_")
    opts = {"parquet.block.size": str(8 * 1024)}
    try:
        write_zordered(ev, f"{tmp}/z", ["user_id", "t"], n_files=4, options=opts)
        (
            ev.repartitionByRange(4, F.asc("t"))
            .sortWithinPartitions(F.asc("t"))
            .write.options(**opts).parquet(f"{tmp}/lin")
        )
        uid = int(ev.selectExpr("percentile(user_id, 0.5)").collect()[0][0])

        from odibi_spark.operators.layout import rowgroups_matching

        def frac(path):
            hit, tot = rowgroups_matching(f"{path}/part-*.parquet", "user_id", uid)
            return (round(hit / tot, 4) if tot else None), tot

        zf, zr = frac(f"{tmp}/z")
        lf, lr = frac(f"{tmp}/lin")
        return {
            "rowgroup_fraction_touched_zorder": zf,
            "rowgroup_fraction_touched_timesorted": lf,
            "rowgroups": {"zorder": zr, "timesorted": lr},
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def semantic_probe(spark, sf_dir: str) -> dict:
    """SemDeDup candidate-bound probe (r8): the operator's scale claim
    is that near-dup search never leaves a cluster, so the pairwise
    term is sum n_c*(n_c-1)/2 — measured here directly from the
    cluster assignment (one groupBy; no pairs materialized) as a
    fraction of all-pairs, at k=8 and k=32. Raising k must shrink the
    fraction ~linearly (balanced clusters give 1/k of all-pairs)."""
    from odibi_spark.llm.similarity import kmeans_clusters
    from odibi_spark.workloads.common import read_table

    emb = read_table(spark, sf_dir, "embeddings", cpu_heavy=True)
    n = emb.count()
    allpairs = n * (n - 1) / 2 or 1
    out = {"n_vectors": n}
    for k in (8, 32):
        cand = (
            kmeans_clusters(emb, "vec_id", "embedding", k=k, iters=0)
            .groupBy("cluster").count()
            .selectExpr("sum(count * (count - 1) / 2) AS pairs")
            .collect()[0].pairs or 0
        )
        out[f"candidate_fraction_k{k}"] = round(float(cand) / allpairs, 4)
    return out


def cc_chain_probe(spark, chain_len: int = 1024) -> dict:
    """Connected-components stress probe (VERDICT r4 task 6): a planted
    duplicate CHAIN — the worst-case topology for label propagation
    (diameter = chain_len - 1) — plus a realistic star component.
    Records rounds-to-convergence: pointer jumping should need
    ~log2(chain_len) + 2 rounds, not chain_len."""
    import math
    import time as _t

    from odibi_spark.llm.dedup import connected_components_stats

    edges = [(i, i + 1) for i in range(1, chain_len)]
    edges += [(10_000_000, 10_000_000 + k) for k in range(1, 6)]  # star
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    t0 = _t.time()
    labels, stats = connected_components_stats(df, max_iter=30)
    n_clusters = labels.select("cluster_id").distinct().count()
    expected = int(math.log2(chain_len)) + 3
    return {
        "chain_len": chain_len,
        "rounds": stats["rounds"],
        "converged": stats["converged"],
        "rounds_expected_max": expected,
        "within_bound": stats["converged"] and stats["rounds"] <= expected,
        "n_clusters": n_clusters,  # must be 2: chain + star
        "sec": round(_t.time() - t0, 4),
    }


def rank_scale_probe(spark, rows: int = 12_000_000) -> dict:
    """Crossover probe for the distributed two-pass rank (VERDICT r6
    task 5): the r6 crossover note was measured only at 600k rows,
    where the plain global window WINS — this measures both paths on a
    synthesized ~1.2M and ~12M-row input (explode-generated, like
    scale_docs) to demonstrate the claimed trend: the two-pass cost
    grows ~linearly with parallel sort capacity while the
    single-partition window funnels every row through ONE task's sort.
    Reports per-size timings and the degradation ratio of window-time
    to two-pass-time at 1x vs 10x."""
    import time as _t

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from odibi_spark.operators.rank import global_ranks

    # warm both codepaths on a tiny input so the first measured run
    # isn't charged JVM/codegen warmup (the probe must stand alone)
    warm = spark.range(50_000).select(
        "id", ((F.col("id") * 2654435761) % 1_000_003).alias("v")
    )
    global_ranks(
        warm, order_by=["v", "id"], columns={"r": {"function": "rank"}}
    ).select(F.expr("bit_xor(xxhash64(r, v))")).collect()
    warm.withColumn(
        "r", F.rank().over(Window.orderBy(F.asc("v"), F.asc("id")))
    ).select(F.expr("bit_xor(xxhash64(r, v))")).collect()

    out: dict = {"rows_small": rows // 10, "rows_large": rows}
    for label, n in (("small", rows // 10), ("large", rows)):
        # non-monotonic sort key so neither path gets a presorted gift
        df = spark.range(n).select(
            "id",
            ((F.col("id") * 2654435761) % 1_000_003).alias("v"),
        )
        t0 = _t.time()
        two = global_ranks(
            df, order_by=["v", "id"], columns={"r": {"function": "rank"}}
        )
        # xor-hash reduction: forces full evaluation, cannot overflow
        two.select(F.expr("bit_xor(xxhash64(r, v))").alias("h")).collect()
        out[f"two_pass_sec_{label}"] = round(_t.time() - t0, 4)

        t0 = _t.time()
        w = Window.orderBy(F.asc("v"), F.asc("id"))
        win = df.withColumn("r", F.rank().over(w))
        win.select(F.expr("bit_xor(xxhash64(r, v))").alias("h")).collect()
        out[f"window_sec_{label}"] = round(_t.time() - t0, 4)
    # >1 means the single-partition window degrades faster than the
    # two-pass as rows grow — the crossover the design claims
    if out["two_pass_sec_small"] > 0 and out["window_sec_small"] > 0:
        out["window_vs_two_pass_small"] = round(
            out["window_sec_small"] / out["two_pass_sec_small"], 3
        )
        out["window_vs_two_pass_large"] = round(
            out["window_sec_large"] / out["two_pass_sec_large"], 3
        )
        out["degradation_ratio"] = round(
            out["window_vs_two_pass_large"] / out["window_vs_two_pass_small"], 3
        )
    return out


def bloom_join_probe(spark, sf_dir: str) -> dict:
    """Runtime-filter A/B (operators/runtime_filter.py): orders
    semijoined to BUILDING-segment customers, plain vs
    Bloom-prefiltered, under the SORT-MERGE regime (broadcast + AQE
    off for both variants), alternating in one warm session.

    EXPECTED RESULT LOCALLY: bloom_vs_plain > 1 (measured 4-7x across
    150k-9M fact rows) — a single-node RAM shuffle moves a narrow row
    for ~0.25 us while the bitmap probe costs ~1.4 us/row, so the
    prefilter loses on one box by design. The probe exists to KEEP
    that number measured and honest (the operator docstring tells
    users exactly when the trade flips: network-bound shuffles of
    wide rows, or unbroadcastable key sets a la decontamination).
    The row-identity assertion is the correctness half."""
    import time as _t

    from pyspark.sql import functions as F

    from odibi_spark.io import read_table
    from odibi_spark.operators.runtime_filter import bloom_semijoin_frames

    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").filter(
        "c_mktsegment = 'BUILDING'"
    ).select("c_custkey")
    n_orders = orders.count()

    def run_plain():
        return orders.join(
            cust.withColumnRenamed("c_custkey", "o_custkey"),
            "o_custkey", "left_semi",
        ).select(F.count(F.lit(1))).collect()[0][0]

    def run_bloom():
        return bloom_semijoin_frames(
            orders, cust, left_on="o_custkey", right_on="c_custkey",
            how="semi",
        ).select(F.count(F.lit(1))).collect()[0][0]

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        run_plain(); run_bloom()  # warm both codepaths
        t_plain = t_bloom = 0.0
        n_match = 0
        for _ in range(2):  # alternate in one warm session
            t0 = _t.time(); n_match = run_plain(); t_plain += _t.time() - t0
            t0 = _t.time(); nb = run_bloom(); t_bloom += _t.time() - t0
            assert nb == n_match, (nb, n_match)  # row-identical contract
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    return {
        "orders": n_orders,
        "matched": n_match,
        "selectivity": round(n_match / n_orders, 4) if n_orders else None,
        "smj_plain_sec": round(t_plain / 2, 4),
        "smj_bloom_sec": round(t_bloom / 2, 4),
        "bloom_vs_plain": round(t_bloom / t_plain, 3) if t_plain > 0 else None,
    }


def ann_recall_probe(spark, sf_dir: str, k: int = 5) -> dict:
    """Standing index-quality gate (VERDICT r9 task 8): mean recall@k
    of the SRP-LSH and IVF ANN indexes against brute-force cosine
    truth on a 50-query sample. Emitted every round so a future
    hashing/centroid change that silently degrades an index is caught
    by a number, not by luck; floors are asserted in pytest
    (tests/test_llm.py TestAnnRecallFloors). num_planes=4 is the
    single-probe SRP operating point for this corpus size (2^4
    buckets); production recall paths use the banded/multi-probe
    variants — this number is a regression canary, not a showcase."""
    from pyspark.sql import functions as F

    from odibi_spark.llm import similarity
    from odibi_spark.workloads.common import read_table

    emb = read_table(spark, sf_dir, "embeddings", cpu_heavy=True)
    exact = similarity.cosine_topk(
        emb, "vec_id", "embedding", query_filter="vec_id < 50", k=k
    )
    lsh = similarity.lsh_ann_topk(
        emb, "vec_id", "embedding", k=k, num_planes=4
    ).filter(F.col("query_id") < 50)
    # r13: the multi-probe SRP point (Lv et al. 2007 query-directed
    # probing; nprobe/2^planes of the corpus probed per query) and
    # the lifted IVF defaults (nlist=16/nprobe=4)
    lsh_mp = similarity.lsh_ann_topk(
        emb, "vec_id", "embedding", k=k, num_planes=8, nprobe=5
    ).filter(F.col("query_id") < 50)
    # same-p single-probe companion point so the multi-probe lift is
    # visible in the artifact itself (VERDICT r13 watch item), not
    # just in pytest floors
    lsh_p8 = similarity.lsh_ann_topk(
        emb, "vec_id", "embedding", k=k, num_planes=8
    ).filter(F.col("query_id") < 50)
    ivf = similarity.ivf_topk(
        emb, "vec_id", "embedding", k=k
    ).filter(F.col("query_id") < 50)
    # r14: many-tables OR-construction + hamming-sketch prefilter —
    # the recommendable LSH operating point (recall >= 0.5 at <= 5%
    # of the corpus exactly re-ranked per query)
    lsh_or = similarity.srp_or_ann_topk(
        emb, "vec_id", "embedding", k=k, query_filter="vec_id < 50"
    )
    # r14: PQ ADC (8x16 codebooks, 8 bytes/vector) — the COMPRESSION
    # trade: full corpus scanned but never decompressed
    pq = similarity.pq_adc_topk(
        emb, "vec_id", "embedding", topk=k, query_filter="vec_id < 50"
    )
    # r15: the COMPOSED IVF-PQ index at the recommended operating
    # point (m=16, k=256, 4 Lloyd steps -> 16 B/vector, 16x
    # compression; nlist=16/nprobe=8 -> half the cells probed),
    # measured through the PERSISTED AnnIndexStore so the build-once
    # vs probe-many amortization is a recorded number, not a claim.
    import shutil
    import tempfile

    from odibi_spark.llm.ann_store import AnnIndexStore

    idx_dir = tempfile.mkdtemp(prefix="bench_ann_idx_")
    try:
        store = AnnIndexStore(
            spark, idx_dir, nlist=16, nprobe=8, m=16, k=256,
            dim=64, iters=0, pq_iters=4,
        )
        t0 = time.time()
        store.build(emb, "vec_id", "embedding")
        store.append(emb, "vec_id", "embedding", batch_id="b0")
        build_s = round(time.time() - t0, 2)
        t0 = time.time()
        ivfpq = store.probe(
            emb.filter(F.col("vec_id") < 50), "vec_id", "embedding",
            topk=k,
        )
        r_ivfpq = (
            similarity.ann_recall(exact, ivfpq)
            .agg(F.avg("recall").alias("m"))
            .first()["m"]
        )
        probe_s = round(time.time() - t0, 2)
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)
    out = {
        "lsh_mp_probe_frac": round(5 / 256, 4), "ivf_probe_frac": 0.25,
        "recall_at_5_ivfpq": round(float(r_ivfpq), 4),
        "ivfpq_bytes_per_vec": 16,
        "ivfpq_probe_frac": 0.5,
        "ann_index_build_s": build_s,
        "ann_index_probe_s": probe_s,
    }
    for name, approx in (
        ("lsh", lsh), ("lsh_p8", lsh_p8), ("lsh_mp", lsh_mp),
        ("ivf", ivf), ("lsh_or", lsh_or), ("pq", pq),
    ):
        m = (
            similarity.ann_recall(exact, approx)
            .agg(F.avg("recall").alias("m"))
            .first()["m"]
        )
        out[f"recall_at_{k}_{name}"] = round(float(m), 4)
    # measured exact-rerank fraction of the OR point (candidates that
    # survive the hamming prefilter, per query, over the corpus)
    n = emb.count()
    keys = similarity.srp_table_keys(emb, "vec_id", "embedding")
    sig = similarity.srp_sketch_words(emb, "vec_id", "embedding")
    qk = keys.filter(F.col("id") < 50)
    cand = (
        qk.toDF("query_id", "tbl", "bucket")
        .join(keys.toDF("nbr_id", "tbl", "bucket"), ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("nbr_id"))
        .select("query_id", "nbr_id")
        .distinct()
    )
    passed = (
        cand.join(sig.toDF("query_id", "q0", "q1"), "query_id")
        .join(sig.toDF("nbr_id", "n0", "n1"), "nbr_id")
        .filter(
            F.bit_count(F.col("q0").bitwiseXOR(F.col("n0")))
            + F.bit_count(F.col("q1").bitwiseXOR(F.col("n1"))) <= 52
        )
    )
    frac = (
        passed.groupBy("query_id").count()
        .agg(F.avg(F.col("count") / (n - 1)).alias("f"))
        .first()["f"]
    )
    out["lsh_or_rerank_frac"] = round(float(frac or 0.0), 4)
    return out


def compare_prev(out: dict, prev_path: str) -> dict:
    """n-vs-n-1 per-query ratio table (VERDICT r6 task 10): compare
    this run's per-query timings against a prior BENCH artifact,
    print the full ratio table to stderr, and return a compact
    regression summary (queries slower than 1.15x) for the JSON
    artifacts. Per-query ratios are the methodology — same-code idle
    variance moves the TOTALS 15%+ between rounds.

    r14 (VERDICT r13 task 1): when the reference carries per-query
    NOISE BANDS (``query_bands``: {name: [min, max] across the
    board's idle freeze runs}), a reading only counts as a regression
    if it is BOTH >1.15x the median AND above the query's own
    observed ceiling x1.05 — a value the query itself produced in an
    idle window is dispersion, not a regression, no matter the ratio.
    Band-absolved readings are reported separately (``within_band``)
    so the dispersion stays visible."""
    with open(prev_path) as fh:
        prev = json.load(fh)
    if isinstance(prev.get("parsed"), dict):
        # driver-recorded BENCH_r{N}.json wraps the slim stdout line
        prev = prev["parsed"]

    def block(d: dict | None) -> dict:
        return d if isinstance(d, dict) else {}

    prev_q = {
        **block(prev.get("queries")),
        **block(prev.get("curation_queries")),
        **block(prev.get("analytics_queries")),
    }
    bands = block(prev.get("query_bands"))
    cur_q = {
        **out["queries"], **out["curation_queries"], **out["analytics_queries"],
    }
    ratios, regressions, within_band = {}, {}, {}
    for name, sec in sorted(cur_q.items()):
        p = prev_q.get(name)
        # non-numeric prev values (older/hand-edited artifact shapes)
        # are skipped, not fatal — review r7: `p <= 0` on a dict/str
        # raised TypeError past the caller's (ValueError, KeyError)
        if not isinstance(p, (int, float)) or p <= 0:
            continue
        r = round(sec / p, 3)
        ratios[name] = r
        band = bands.get(name)
        band_hi = (
            band[1] if isinstance(band, (list, tuple)) and len(band) == 2
            and isinstance(band[1], (int, float)) else None
        )
        flag = ""
        if r > 1.15:
            if band_hi is not None and sec <= band_hi * 1.05:
                within_band[name] = r
                flag = f" (within idle band <= {band_hi:.2f}s)"
            else:
                regressions[name] = r
                flag = " <-- REGRESSION"
        print(
            f"# ratio {name}: {sec:.2f}s / {p:.2f}s = {r:.2f}x{flag}",
            file=sys.stderr,
        )
    comparable = len(ratios)
    print(
        f"# vs {os.path.basename(prev_path)}: {comparable} comparable, "
        f"{len(regressions)} regression(s) >1.15x"
        + (f": {sorted(regressions)}" if regressions else "")
        + (f", {len(within_band)} band-absolved" if within_band else ""),
        file=sys.stderr,
    )
    res = {
        "prev": os.path.basename(prev_path),
        "comparable": comparable,
        "regressions": regressions,
    }
    if within_band:
        res["within_band"] = within_band
    return res


def _release_new_persistent_rdds(spark, before_ids: set) -> None:
    """Session hygiene BETWEEN queries (r16, guide §5 / VERDICT r15
    #6): curation operators pin eagerly localCheckpointed model tables
    whose storage blocks the ContextCleaner only reaps after a DRIVER
    GC. r15 bounded the backlog with a forced GC every minute; this
    releases each query's blocks deterministically instead — after the
    query's LAST timed run completes (never inside a timed window, and
    never an RDD that predates the query: the calibration fixtures and
    io-warmup blocks persist for the whole session). Results are
    unaffected: every query constructs its frames fresh from the
    parquet inputs."""
    jsc = spark.sparkContext._jsc
    current = jsc.getPersistentRDDs()
    for k in current.keySet().toArray():
        if int(k) not in before_ids:
            current.get(k).unpersist(False)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from odibi_spark import get_spark
    from odibi_spark.workloads import QUERIES

    # bench session scope (ADVICE r15): keep the aggressive 1-min GC
    # cadence HERE — a single long session running ~200 checkpoint-
    # heavy queries back-to-back — while get_spark's default for
    # ordinary sessions relaxes to 5min. The per-query block release
    # (_release_new_persistent_rdds) frees storage deterministically;
    # the GC then reaps the unpersisted JVM-side leftovers (broadcast
    # vars, shuffle state) on a bounded cadence. Env still overrides.
    spark = get_spark("bench", extra_conf={
        "spark.cleaner.periodicGC.interval":
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "1min"),
    })
    # warm the JVM and parquet reader codepath once so the first
    # measured query isn't charged for one-time startup
    spark.range(1).count()
    # r14: timed full-column warmup of every input (column PAGES, not
    # just footers — the r13 blind spot); records true cold-IO cost
    # in its own artifact field instead of inside query timings
    io_warmup = warm_inputs(spark, sf_dir)
    print(f"# io_warmup: {io_warmup}", file=sys.stderr)
    # start the Python worker pool once (r13): the first mapInPandas
    # query otherwise pays ~8s of worker fork/import — one-time session
    # startup, same class as the JVM/page-cache warmup above, and it
    # was charged to whichever media workload ran first (the r12 board
    # had image_dhash_dedup at 18.4s; its steady-state is ~2s)
    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).count()

    from pyspark.sql import functions as F

    calib = Calibration(spark, sf_dir)
    calib.sample("start")

    # baseline persistent-RDD id set: session fixtures (calibration,
    # io warmup) stay pinned; only per-query blocks are released
    session_rdds = {
        int(k)
        for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }

    timings: dict[str, float] = {}
    headline_runs: dict[str, list[float]] = {}
    for name in HEADLINE:
        fn = QUERIES[name]
        runs = []
        for _ in range(2):  # best-of-2 (VERDICT r11 task 2): one
            # transient scheduling hiccup must not read as a regression
            t0 = time.time()
            df = fn(spark, sf_dir)
            # hash-reduce over every column: forces full evaluation of
            # the plan (a bare count() lets Catalyst prune unused
            # projections, e.g. window columns) while returning one row
            df.select(
                F.expr("bit_xor(xxhash64(struct(*)))").alias("h"),
                F.count(F.lit(1)).alias("n"),
            ).collect()
            runs.append(round(time.time() - t0, 4))
        _release_new_persistent_rdds(spark, session_rdds)
        headline_runs[name] = runs
        timings[name] = min(runs)
        print(f"# {name}: {timings[name]:.2f}s (runs {runs})", file=sys.stderr)

    calib.sample("mid")

    headline_total = round(sum(timings.values()), 4)
    sf = sf_dir.rstrip("/").split("sf")[-1]
    # curation/sequence-prep block; `value` is the COMBINED total from
    # round 5 on (VERDICT r4 task 8) with both subtotals kept — r4
    # comparables: headline 27.52 + curation 6.95
    extra = {}
    for name in (
        "repetition_signals_docs", "decontamination_hits",
        "stratified_sample_langs", "token_budget_by_source",
        "chunk_documents_docs", "pack_sequences_docs", "scrub_pii_docs",
        # new in round 5
        "dedup_incremental_docs", "approx_percentiles_by_source",
        "approx_distinct_fingerprints", "pps_sample_docs",
        "heavy_hitter_terms",
        # new in round 7: LM quality + spherical k-means
        "lm_quality_docs", "kmeans_clusters_embeddings",
        # new in round 8: SemDeDup + fuzzy decontamination + DSIR
        "semantic_dedup_embeddings", "neardup_decontamination_hits",
        "dsir_sample_docs", "quantized_embedding_fidelity",
        # new in round 9: Gopher rules + cross-doc span dedup +
        # perplexity terciles + count-min sketch + ANN recall eval +
        # JL projection + BM25 retrieval
        "gopher_quality_docs", "duplicate_ngram_spans",
        "lm_perplexity_buckets", "cms_heavy_terms", "ann_recall_lsh",
        "random_projection_embeddings", "bm25_search_docs",
        "remove_dup_spans_docs", "curation_funnel_docs",
        # rp_ann_recall only: cms_incremental_terms is a two-batch
        # replay-identity demonstration (its per-pass CMS cost is
        # already benched via cms_heavy_terms)
        "rp_ann_recall", "epoch_mixture_docs", "hybrid_search_docs",
        "source_kl_docs",
        # new in round 10: Unicode repair, the KMV corpus overlap
        # (approx_distinct_fingerprints above now also runs on KMV),
        # boilerplate line dedup, global shuffle, temperature mixture
        "clean_unicode_docs", "corpus_overlap_halves",
        "boilerplate_lines_docs", "shuffle_order_docs",
        "temperature_mixture_docs", "winnow_signals_docs",
        "lexical_diversity_sources", "script_profile_docs",
        "bpe_merge_candidates", "corpus_datacard",
        "winsorize_doc_lengths", "mmr_diverse_topk",
        # new in round 11: paragraph-level boilerplate, the URL
        # funnel (normalize / domain gate + URL dedup), the iterative
        # BPE trainer (20 rounds over the vocab table), and the
        # fastText-style hashed linear quality classifier
        "boilerplate_paragraphs_docs", "url_normalize_docs",
        "domain_filter_docs", "bpe_trained_merges",
        "quality_classifier_docs", "pii_card_scrub_docs",
        "domain_reputation_docs", "bpe_subword_stats_docs",
        "line_corrections_docs", "html_strip_docs",
        "cluster_best_keeper_docs",
        # new in round 12: full-PSL domains, classifier TRAINING
        # (2 epochs), perceptual image + audio dedup, Kneser-Ney
        # bigram LM perplexity, hashed-feature DSIR selection
        # (streaming_incremental_dedup_docs is a replay-identity
        # demonstration like cms_incremental_terms: its per-batch
        # dedup cost is benched via dedup_incremental_docs)
        "psl_domains_docs", "quality_classifier_train_docs",
        "image_dhash_dedup", "audio_ahash_dedup", "video_dhash_dedup",
        "kn_perplexity_docs", "kn_trigram_perplexity_docs",
        "dsir_hashed_select_docs", "ccnet_pipeline_docs",
        # new in round 13: trained lang-id (2-epoch multiclass GD +
        # argmax inference), CCNet v2 on the trained classifier,
        # DoReMi-style mixture reweighting, semi-hard negative mining
        "lang_classifier_train_docs", "lang_classify_docs",
        "ccnet_lid_pipeline_docs", "domain_mixture_docs",
        "hard_negatives_embeddings", "mixture_sample_docs",
        # new in round 14: many-tables OR-construction SRP ANN with
        # hamming-sketch prefilter, the greedy k-center diversity
        # coreset (10 sequential argmax rounds over the corpus), and
        # tokenizer deployment (train BPE on half, encode the other)
        "ann_recall_lsh_or", "kcenter_coreset_embeddings",
        "bpe_encode_unseen_docs", "pq_adc_topk_embeddings",
        # new in round 15: the composed IVF-PQ index workload, the
        # persisted-index two-batch lifecycle replay, and the
        # partition-level table-version diff
        "ivf_pq_topk_embeddings", "ann_incremental_probe_embeddings",
        "table_diff_orders_partitions",
    ):
        t0 = time.time()
        QUERIES[name](spark, sf_dir).select(
            F.expr("bit_xor(xxhash64(struct(*)))").alias("h"),
            F.count(F.lit(1)).alias("n"),
        ).collect()
        extra[name] = round(time.time() - t0, 4)
        _release_new_persistent_rdds(spark, session_rdds)
        print(f"# {name}: {extra[name]:.2f}s", file=sys.stderr)
    curation_total = round(sum(extra.values()), 4)
    # event-analytics block (new in round 5): funnel / cohort / outlier
    # / resample + the temporal joins they build on
    analytics = {}
    for name in (
        "funnel_view_click_purchase", "cohort_daily_retention",
        "outlier_events_zscore", "outlier_events_mad",
        "resample_user_events", "ewma_user_values",
        "asof_click_purchase", "range_clicks_per_purchase_hour",
        "fuzzy_match_parts", "spatial_customers_near_suppliers",
        "snapshot_cdc_customers", "transition_matrix_events",
        "zorder_key_orders", "psychrometrics_events",
    ):
        t0 = time.time()
        QUERIES[name](spark, sf_dir).select(
            F.expr("bit_xor(xxhash64(struct(*)))").alias("h"),
            F.count(F.lit(1)).alias("n"),
        ).collect()
        analytics[name] = round(time.time() - t0, 4)
        _release_new_persistent_rdds(spark, session_rdds)
        print(f"# {name}: {analytics[name]:.2f}s", file=sys.stderr)
    analytics_total = round(sum(analytics.values()), 4)
    out = {
        "metric": "combined_queries_total_sec",
        "value": round(headline_total + curation_total + analytics_total, 4),
        "unit": "sec",
        "headline_total_sec": headline_total,
        "queries": timings,
        "headline_runs": headline_runs,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "curation_queries": extra,
        "curation_total_sec": curation_total,
        "analytics_queries": analytics,
        "analytics_total_sec": analytics_total,
        "io_warmup": io_warmup,
    }

    # z-order layout probe: fraction of parquet row groups a mid-range
    # point predicate touches under the Morton layout vs a time-sorted
    # one — the measured multi-dimensional data-skipping win
    out["zorder_probe"] = zorder_probe(spark, sf_dir)
    print(f"# zorder_probe: {out['zorder_probe']}", file=sys.stderr)

    # SemDeDup within-cluster candidate bound (r8)
    out["semantic_probe"] = semantic_probe(spark, sf_dir)
    print(f"# semantic_probe: {out['semantic_probe']}", file=sys.stderr)

    # ANN index-quality gate: mean recall@5 vs brute-force truth (r10)
    if os.environ.get("SPARK_GRAFT_ANN_PROBE", "1") != "0":
        out["ann_recall"] = ann_recall_probe(spark, sf_dir)
        print(f"# ann_recall: {out['ann_recall']}", file=sys.stderr)

    # connected-components chain stress probe (rounds-to-convergence)
    out["cc_chain"] = cc_chain_probe(spark)
    print(f"# cc_chain: {out['cc_chain']}", file=sys.stderr)

    # incremental-dedup flat-cost probe (fixed delta, growing store)
    if os.environ.get("SPARK_GRAFT_INCR_PROBE", "1") != "0":
        out["incr_dedup"] = incr_dedup_probe(spark, sf_dir)
        print(f"# incr_dedup: {out['incr_dedup']}", file=sys.stderr)

    # dedup scaling probe: excluded from `value` so headline totals stay
    # comparable across rounds; disable with SPARK_GRAFT_SCALE_DOCS=0,
    # change the factor with --scale-docs N
    scale_factor = 10
    for i, a in enumerate(sys.argv):
        if a == "--scale-docs" and i + 1 < len(sys.argv):
            scale_factor = int(sys.argv[i + 1].rstrip("x"))
    if os.environ.get("SPARK_GRAFT_SCALE_DOCS", "1") != "0":
        out["scale_docs"] = scale_docs_bench(spark, sf_dir, scale_factor)
        print(f"# scale_docs: {out['scale_docs']}", file=sys.stderr)

    # two-pass rank crossover probe (VERDICT r6 task 5); disable with
    # SPARK_GRAFT_RANK_PROBE=0
    if os.environ.get("SPARK_GRAFT_RANK_PROBE", "1") != "0":
        out["rank_scale"] = rank_scale_probe(spark)
        print(f"# rank_scale: {out['rank_scale']}", file=sys.stderr)

    # Bloom runtime-filter A/B under the sort-merge regime
    if os.environ.get("SPARK_GRAFT_BLOOM_PROBE", "1") != "0":
        out["bloom_join"] = bloom_join_probe(spark, sf_dir)
        print(f"# bloom_join: {out['bloom_join']}", file=sys.stderr)

    calib.sample("end")
    frozen_calib = None
    try:
        with open(os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_BASELINE.json"
        )) as fh:
            frozen_calib = json.load(fh).get("calibration_sec")
    except (OSError, ValueError):
        pass
    out["calibration"] = calib.result(frozen_calib)
    print(f"# calibration: {out['calibration']}", file=sys.stderr)
    if out["calibration"]["contended"]:
        print(
            "# WARNING: calibration probe inflated — this HOST was "
            "CONTENDED during the run; per-query timings are noise, "
            "not regressions. Re-run on an idle machine.",
            file=sys.stderr,
        )

    # n-vs-n-1 ratio table: --prev PATH, or auto-pick the newest
    # committed BENCH_r*.json next to this script
    prev_path = None
    for i, a in enumerate(sys.argv):
        if a == "--prev" and i + 1 < len(sys.argv):
            prev_path = sys.argv[i + 1]
    if prev_path is None:
        import glob

        here = os.path.dirname(os.path.abspath(__file__))
        # FROZEN reference board first (VERDICT r9 task 4): committed
        # best-of-N idle per-query baseline that neither drivers nor
        # builders overwrite, so the ratio protocol is mechanical and
        # host-noise adjudication prose dies. Fall back to the last
        # local full-precision run, then the newest driver recording.
        frozen = os.path.join(here, "BENCH_BASELINE.json")
        full = os.path.join(here, "BENCH.json")
        if os.path.exists(frozen):
            prev_path = frozen
        elif os.path.exists(full):
            prev_path = full
        else:
            cands = sorted(glob.glob(os.path.join(here, "BENCH_r[0-9]*.json")))
            prev_path = cands[-1] if cands else None
    if prev_path and os.path.exists(prev_path):
        try:
            out["vs_prev"] = compare_prev(out, prev_path)
        except (ValueError, KeyError) as e:  # malformed artifact: note, don't die
            print(f"# vs_prev skipped: {e}", file=sys.stderr)

    # full-precision artifact: always written, survives any stdout
    # capture policy (VERDICT r5 task 3)
    out_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH.json")
    for i, a in enumerate(sys.argv):
        if a == "--out" and i + 1 < len(sys.argv):
            out_path = sys.argv[i + 1]
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=2)
        fh.write("\n")
    print(f"# full result written to {out_path}", file=sys.stderr)

    print(json.dumps(_slim(out, out_path), separators=(",", ":")))
    spark.stop()


def _slim(out: dict, out_path: str) -> dict:
    """Compact copy of the bench result for the single stdout line:
    2-decimal per-query timings, probes reduced to headline scalars.
    Totals keep full precision. Must stay well under ~2 KB serialized."""
    r2 = lambda d: {k: round(v, 2) for k, v in d.items()}  # noqa: E731
    slim = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "sf": out["sf"],
        "headline_total_sec": out["headline_total_sec"],
        "curation_total_sec": out["curation_total_sec"],
        "analytics_total_sec": out["analytics_total_sec"],
        "queries": r2(out["queries"]),
        # curation/analytics per-query timings live in detail_file —
        # with them inline the line outgrows the capture window again
        "detail_file": out_path,
    }
    if "zorder_probe" in out:
        z = out["zorder_probe"]
        slim["zorder_probe"] = {
            "zorder": z["rowgroup_fraction_touched_zorder"],
            "timesorted": z["rowgroup_fraction_touched_timesorted"],
        }
    if "semantic_probe" in out:
        sp = out["semantic_probe"]
        slim["semantic_probe"] = {
            "k8": sp["candidate_fraction_k8"], "k32": sp["candidate_fraction_k32"],
        }
    if "ann_recall" in out:
        slim["ann_recall"] = out["ann_recall"]
    if "cc_chain" in out:
        c = out["cc_chain"]
        slim["cc_chain"] = {
            "rounds": c["rounds"], "within_bound": c["within_bound"],
        }
    if "incr_dedup" in out:
        slim["incr_dedup_growth"] = out["incr_dedup"]["time_growth_vs_linear"]
    if "scale_docs" in out:
        s = out["scale_docs"]
        slim["scale_docs"] = {
            "cand_frac": s["candidate_fraction_of_all_pairs"],
            "growth": s["time_growth_vs_linear"],
        }
    if "rank_scale" in out:
        r = out["rank_scale"]
        slim["rank_scale"] = {
            "win_vs_2p_small": r.get("window_vs_two_pass_small"),
            "win_vs_2p_large": r.get("window_vs_two_pass_large"),
            "degradation": r.get("degradation_ratio"),
        }
    if "bloom_join" in out:
        b = out["bloom_join"]
        slim["bloom_join"] = {
            "sel": b["selectivity"], "ratio": b["bloom_vs_plain"],
        }
    if "calibration" in out:
        c = out["calibration"]
        slim["calibration"] = {
            "contended": c["contended"],
            "vs_frozen": c["worst_vs_frozen"],
            "drift": c["intra_run_drift"],
        }
    if "io_warmup" in out:
        slim["io_warmup_sec"] = out["io_warmup"]["total"]
    if "vs_prev" in out:
        v = out["vs_prev"]
        worst = dict(sorted(
            v["regressions"].items(), key=lambda kv: -kv[1]
        )[:8])  # cap: a noisy run must not blow the ~2 KB stdout budget
        slim["vs_prev"] = {
            "prev": v["prev"],
            "n": v["comparable"],
            "n_regr": len(v["regressions"]),
            "regr": worst,
        }
        if v.get("within_band"):
            slim["vs_prev"]["n_band_ok"] = len(v["within_band"])
    return slim


if __name__ == "__main__":
    main()
