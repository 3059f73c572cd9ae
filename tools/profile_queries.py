"""Per-job profiler for declared workloads (optimization guide §1).

For each named workload, runs the bench-style action (xxhash64 fold +
count, same as bench.py) once warm and records:

- wall seconds,
- every Spark job launched (description, duration, stages, tasks),
- the driver gap (wall - sum of job durations): planning, collect
  processing, Python-side loops, py4j chatter;
- the py4j commands the driver sent the JVM (py4j's memory-release
  commands excepted): a plan built one Column call at a time shows up
  here before any profiler is run.

Usage: python tools/profile_queries.py <query> [query ...]
       python tools/profile_queries.py --top   # the frozen board's slowest
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

UI_PORT = int(os.environ.get("SPARK_GRAFT_PROFILE_PORT", "4059"))

TOP = [
    "ccnet_lid_pipeline_docs", "pq_adc_topk_embeddings",
    "lang_classifier_train_docs", "dedup_incremental_docs",
    "lang_classify_docs", "cluster_best_keeper_docs",
    "bpe_encode_unseen_docs", "kcenter_coreset_embeddings",
    "quality_classifier_train_docs", "bpe_trained_merges",
    "bpe_subword_stats_docs", "ccnet_pipeline_docs",
    "ivf_pq_topk_embeddings", "ann_incremental_probe_embeddings",
    "table_diff_orders_partitions",
]


class Py4jCommands:
    """Counts the commands this process sends the JVM gateway while
    open, py4j's memory-release commands (``m``) excepted."""

    def __enter__(self):
        from py4j.clientserver import ClientServerConnection

        self.n, self._send = 0, ClientServerConnection.send_command

        def counting(conn, command):
            if not command.startswith("m\n"):
                self.n += 1
            return self._send(conn, command)

        ClientServerConnection.send_command = counting
        return self

    def __exit__(self, *exc):
        from py4j.clientserver import ClientServerConnection

        ClientServerConnection.send_command = self._send


def _api(path: str):
    url = f"http://localhost:{UI_PORT}/api/v1/{path}"
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def main() -> None:
    names = sys.argv[1:]
    if not names or names == ["--top"]:
        names = TOP
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql import functions as F

    from odibi_spark import get_spark
    from odibi_spark.workloads import QUERIES

    spark = get_spark(
        "profile",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": str(UI_PORT),
        },
    )
    app_id = spark.sparkContext.applicationId
    spark.range(1).count()
    # same session warmups as bench.py
    spark.range(64).repartition(32).mapInPandas(lambda it: it, "id long").count()

    results = {}
    for name in names:
        fn = QUERIES[name]
        # warm run (page cache, codegen)
        fn(spark, sf_dir).select(
            F.expr("bit_xor(xxhash64(struct(*)))"), F.count(F.lit(1))
        ).collect()
        jobs_before = {j["jobId"] for j in _api(f"applications/{app_id}/jobs")}
        spark.sparkContext.setJobDescription(name)
        t0 = time.time()
        with Py4jCommands() as py4j:
            fn(spark, sf_dir).select(
                F.expr("bit_xor(xxhash64(struct(*)))"), F.count(F.lit(1))
            ).collect()
        wall = time.time() - t0
        spark.sparkContext.setJobDescription(None)
        jobs = [
            j for j in _api(f"applications/{app_id}/jobs")
            if j["jobId"] not in jobs_before
        ]
        jobs.sort(key=lambda j: j["jobId"])
        total_job = 0.0
        detail = []
        for j in jobs:
            t_start = j.get("submissionTime")
            t_end = j.get("completionTime")
            dur = None
            if t_start and t_end:
                from datetime import datetime

                fmt = "%Y-%m-%dT%H:%M:%S.%f%Z"
                dur = (
                    datetime.strptime(t_end, fmt)
                    - datetime.strptime(t_start, fmt)
                ).total_seconds()
                total_job += dur
            detail.append({
                "job": j["jobId"],
                "sec": round(dur, 3) if dur is not None else None,
                "stages": len(j.get("stageIds", [])),
                "tasks": j.get("numTasks"),
            })
        results[name] = {
            "wall_sec": round(wall, 3),
            "n_jobs": len(jobs),
            "jobs_sec": round(total_job, 3),
            "driver_gap_sec": round(wall - total_job, 3),
            "py4j_commands": py4j.n,
            "jobs": detail,
        }
        print(
            f"{name}: wall={wall:.2f}s jobs={len(jobs)} "
            f"job_time={total_job:.2f}s driver_gap={wall - total_job:.2f}s "
            f"py4j_commands={py4j.n}",
            flush=True,
        )
        for d in detail:
            print(f"    job {d['job']}: {d['sec']}s stages={d['stages']} tasks={d['tasks']}")
    out = os.environ.get("SPARK_GRAFT_PROFILE_OUT")
    if out:
        with open(out, "w") as fh:
            json.dump(results, fh, indent=2)
    spark.stop()


if __name__ == "__main__":
    main()
