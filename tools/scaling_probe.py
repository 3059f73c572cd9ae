"""Core-count scaling probe at a scaled-up corpus (r16, VERDICT r15
#7): the bench SF (sf0.1 = 5,000 documents) is too small for ANY query
to demonstrate parallel speedup — per-task scheduling overhead
dominates 32-way partitions of a ~7 MB table, so the driver's 8-core
leg reads ~1.0x of the 32-core leg across the board. This probe
replicates the sf0.1 document corpus K times (deterministic id remap:
``doc_id + i * (max_id + 1)``, i = 0..K-1 — same bytes every run, no
randomness) and times a set of shuffle-heavy document workloads at two
core counts in SEPARATE processes (one session per master), reporting
the low/high-core wall ratio per query.

This is a standalone diagnostic, NOT part of bench.py: the bench
contract (queries, SF, one-line JSON) is untouched, and nothing this
probe writes is read by any query path.

Usage:
  python tools/scaling_probe.py                # K=32, cpus 8 vs 32
  python tools/scaling_probe.py --scale 64 --cpus 8,32
  python tools/scaling_probe.py --run OUT.json DIR q1 ...  (child)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PROBE_QUERIES = [
    # map-CPU-bound (regex chains, hashing, per-row feature math):
    # these expose the raw core-count speedup a single box can give
    "gopher_quality_docs",
    "scrub_pii_docs",
    "text_quality",
    "clean_unicode_docs",
    # shuffle-heavy: these expose where a single box saturates on
    # shared memory bandwidth / spill instead of cores
    "exact_dedup_docs",
    "minhash_lsh_pairs",
    "kn_perplexity_docs",
    "lm_quality_docs",
]


def _gen(sf_dir: str, out_dir: str, k: int) -> None:
    """Replicate sf0.1 documents K times: deterministic id remap
    (``doc_id + i * (max_id + 1)``) AND a deterministic per-copy word
    suffix (every token gets ``.i`` appended). The suffix makes the
    copies LEXICALLY DISJOINT — K statistically identical but
    non-overlapping corpus shards — because byte-identical replicas
    would inflate every near-dup/duplicated-gram relation K-fold and
    the pair joins quadratically in K, measuring an artifact instead
    of scale (each copy preserves the original corpus's INTERNAL
    duplicate structure exactly). Only `documents` is scaled; the
    remaining tables are symlinked."""
    from odibi_spark import get_spark
    from odibi_spark.io import read_table

    spark = get_spark("scaling_probe_gen")
    docs = read_table(spark, sf_dir, "documents")
    from pyspark.sql import functions as F

    max_id = docs.agg(F.max("doc_id")).collect()[0][0]
    copies = spark.range(k).withColumnRenamed("id", "__copy")
    suffixed = F.concat_ws(
        " ",
        F.transform(
            F.split(F.col("text"), " "),
            lambda w: F.concat(
                w, F.lit("."), F.col("__copy").cast("string")
            ),
        ),
    )
    scaled = (
        docs.crossJoin(copies)
        .withColumn(
            "doc_id",
            F.col("doc_id") + F.col("__copy") * F.lit(int(max_id) + 1),
        )
        .withColumn(
            "text",
            F.when(F.col("text").isNull(), F.col("text")).otherwise(
                suffixed
            ),
        )
        .drop("__copy")
    )
    (
        scaled.repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "documents.parquet"))
    )
    for t in os.listdir(sf_dir):
        if t.startswith("documents"):
            continue
        dst = os.path.join(out_dir, t)
        if not os.path.exists(dst):
            os.symlink(os.path.join(sf_dir, t), dst)
    spark.stop()


def _child(out_file: str, sf_dir: str, names: list[str]) -> None:
    from pyspark.sql import functions as F

    from odibi_spark import get_spark
    from odibi_spark.workloads import QUERIES

    spark = get_spark("scaling_probe")
    spark.range(1).count()
    spark.range(64).repartition(32).mapInPandas(
        lambda it: it, "id long"
    ).count()
    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"scaling_probe: {name}")
        t0 = time.time()
        try:
            QUERIES[name](spark, sf_dir).select(
                F.expr("bit_xor(xxhash64(struct(*)))").alias("h"),
                F.count(F.lit(1)).alias("n"),
            ).collect()
            out[name] = round(time.time() - t0, 2)
        except Exception as exc:  # record, keep probing
            out[name] = None
            print(f"# {name}: FAILED {exc}", file=sys.stderr, flush=True)
            continue
        print(f"# {name}: {out[name]}s", file=sys.stderr, flush=True)
        # write after every query so a child crash loses nothing
        with open(out_file, "w") as fh:
            json.dump(out, fh)
    with open(out_file, "w") as fh:
        json.dump(out, fh)


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--run":
        _child(sys.argv[2], sys.argv[3], sys.argv[4:])
        return
    args = sys.argv[1:]
    k = 32
    cpus = [8, 32]
    if "--scale" in args:
        k = int(args[args.index("--scale") + 1])
    if "--cpus" in args:
        cpus = [int(c) for c in args[args.index("--cpus") + 1].split(",")]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.environ.get(
        "SPARK_GRAFT_SCALE_DIR", f"/tmp/scale_docs_x{k}"
    )
    if not os.path.exists(os.path.join(out_dir, "documents.parquet")):
        os.makedirs(out_dir, exist_ok=True)
        print(f"# generating {out_dir} (K={k})", file=sys.stderr)
        _gen(sf_dir, out_dir, k)
    results: dict[int, dict[str, float]] = {}
    for c in sorted(cpus, reverse=True):  # high first: warms page cache
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(c))
        print(f"# --- {c} cores ---", file=sys.stderr)
        res_file = f"/tmp/scaling_probe_c{c}.json"
        # a file left by an earlier run must never stand in for this one
        if os.path.exists(res_file):
            os.remove(res_file)
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--run",
             res_file, out_dir] + PROBE_QUERIES,
            env=env, capture_output=True, text=True,
        )
        sys.stderr.write(p.stderr[-4000:])
        if p.returncode != 0 or not os.path.exists(res_file):
            raise SystemExit(
                f"scaling probe child at {c} cores failed: exit "
                f"{p.returncode}, result file {res_file}"
            )
        with open(res_file) as fh:
            results[c] = json.load(fh)
    lo, hi = min(cpus), max(cpus)
    summary = {
        "scale_k": k,
        "cpus": cpus,
        "per_query": {
            q: {
                str(lo): results[lo].get(q),
                str(hi): results[hi].get(q),
                "ratio_low_over_high": (
                    round(results[lo][q] / results[hi][q], 2)
                    if results[lo].get(q) and results[hi].get(q)
                    else None
                ),
            }
            for q in PROBE_QUERIES
        },
    }
    print(json.dumps(summary, indent=1))


if __name__ == "__main__":
    main()
