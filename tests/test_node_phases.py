"""Node lifecycle additions: incremental HWM, contracts, pre/post SQL,
materialized views (reference phases: node.py:222-392)."""

import pytest
from pyspark.sql import Row, functions as F

from odibi_spark.plans import Pipeline


def _yaml(tmp_path, src, state, out):
    return f"""
name: inc_demo
nodes:
  - name: sink
    read: {{format: parquet, path: "{src}"}}
    incremental: {{mode: stateful, column: at}}
    state_path: "{state}"
    write: {{path: "{out}", mode: append}}
"""


class TestIncrementalNode:
    def test_hwm_cycle_through_pipeline(self, spark, tmp_path):
        import datetime

        ts = datetime.datetime.fromisoformat
        src = str(tmp_path / "src")
        out = str(tmp_path / "out")
        state = str(tmp_path / "state.json")
        b1 = spark.createDataFrame(
            [Row(id=1, at=ts("2024-01-01 00:00:00")), Row(id=2, at=ts("2024-01-02 00:00:00"))]
        )
        b1.write.mode("overwrite").parquet(src)
        y = _yaml(tmp_path, src, state, out)
        r1 = Pipeline.from_yaml(y, spark).run()
        assert r1["sink"].status == "success", r1["sink"].error
        assert spark.read.parquet(out).count() == 2

        # second run, source grew by one row; only the new row appends
        b2 = spark.createDataFrame([Row(id=3, at=ts("2024-01-03 00:00:00"))])
        b2.write.mode("append").parquet(src)
        r2 = Pipeline.from_yaml(y, spark).run()
        assert r2["sink"].status == "success", r2["sink"].error
        assert spark.read.parquet(out).count() == 3

        # third run with no new data: nothing appended (idempotent)
        r3 = Pipeline.from_yaml(y, spark).run()
        assert r3["sink"].status == "success"
        assert spark.read.parquet(out).count() == 3

    def test_quarantined_newest_row_is_not_reread(self, spark, tmp_path):
        """The HWM is the max of the rows READ: a newest row that a
        quarantined test removes from the output still advances it, so
        reruns with no new landing data quarantine it once, not once
        per run."""
        import datetime

        ts = datetime.datetime.fromisoformat
        src, out = str(tmp_path / "src"), str(tmp_path / "out")
        spark.createDataFrame([
            Row(id=1, v=1, at=ts("2024-01-01 00:00:00")),
            Row(id=2, v=2, at=ts("2024-01-02 00:00:00")),
            Row(id=3, v=99, at=ts("2024-01-03 00:00:00")),
        ]).write.parquet(src)
        y = f"""
name: inc_q
nodes:
  - name: sink
    read: {{format: parquet, path: "{src}"}}
    incremental: {{mode: stateful, column: at}}
    state_path: "{tmp_path}/state.json"
    validation:
      tests:
        - {{name: v_small, type: range, column: v, max: 10, quarantine: true}}
      quarantine_path: "{tmp_path}/quarantine"
    write: {{path: "{out}", mode: append}}
"""
        for _ in range(3):
            r = Pipeline.from_yaml(y, spark).run()
            assert r["sink"].status == "success", r["sink"].error
            assert spark.read.parquet(str(tmp_path / "quarantine")).count() == 1
            assert spark.read.parquet(out).count() == 2

    def test_transform_dropping_newest_row_advances_hwm(self, spark, tmp_path):
        """A transform that filters out the newest row no longer holds
        the HWM below it: the committed HWM is the newest row read, and
        the next run's incremental read selects nothing old."""
        import datetime

        from odibi_spark.state import JsonStateBackend

        ts = datetime.datetime.fromisoformat
        src, out = str(tmp_path / "src"), str(tmp_path / "out")
        state = str(tmp_path / "state.json")
        spark.createDataFrame([
            Row(id=1, at=ts("2024-01-01 00:00:00")),
            Row(id=2, at=ts("2024-01-02 00:00:00")),
        ]).write.parquet(src)
        y = f"""
name: inc_t
nodes:
  - name: sink
    read: {{format: parquet, path: "{src}"}}
    incremental: {{mode: stateful, column: at}}
    state_path: "{state}"
    transform:
      - sql: "SELECT * FROM df WHERE id <> 2"
    write: {{path: "{out}", mode: append}}
"""
        r = Pipeline.from_yaml(y, spark).run()
        assert r["sink"].status == "success", r["sink"].error
        assert JsonStateBackend(state).get("sink:at") == str(ts("2024-01-02 00:00:00"))
        # a later batch: only the new row is read and written
        spark.createDataFrame([Row(id=3, at=ts("2024-01-03 00:00:00"))]).write.mode(
            "append").parquet(src)
        r = Pipeline.from_yaml(y, spark).run()
        assert r["sink"].status == "success", r["sink"].error
        assert r["sink"].rows_written == 1
        assert JsonStateBackend(state).get("sink:at") == str(ts("2024-01-03 00:00:00"))

    def test_hwm_capture_job_budget_skips_lookup_join(self, spark, tmp_path, monkeypatch):
        """HWM capture on a fact node with a dimension lookup is one
        column-pruned max over the batch read: one Spark job, and the
        lookup join is not in the plan it runs. The read ``filter`` keeps
        the batch off the footer plan, which captures with no job."""
        import datetime
        import uuid

        import odibi_spark.state.hwm as hwm

        ts = datetime.datetime.fromisoformat
        sc = spark.sparkContext
        captured: list[tuple[int, str]] = []
        original = hwm.capture_hwm

        def counted(df, column):
            group = f"hwm-budget-{uuid.uuid4().hex}"
            sc.setJobGroup(group, group)
            try:
                out = original(df, column)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            captured.append((len(sc.statusTracker().getJobIdsForGroup(group)), plan))
            return out

        monkeypatch.setattr(hwm, "capture_hwm", counted)
        spark.createDataFrame([Row(k=1, sk=10), Row(k=2, sk=20)]).write.parquet(
            str(tmp_path / "dim"))
        sales = str(tmp_path / "sales")
        spark.createDataFrame([
            Row(oid=1, k=1, amt=5.0, at=ts("2024-01-01 00:00:00")),
            Row(oid=2, k=2, amt=6.0, at=ts("2024-01-02 00:00:00")),
        ]).write.parquet(sales)
        y = f"""
name: fact_hwm
nodes:
  - name: dim
    read: {{path: "{tmp_path}/dim"}}
  - name: fact
    depends_on: [dim]
    read: {{format: parquet, path: "{sales}", filter: "oid IS NOT NULL"}}
    incremental: {{column: at}}
    state_path: "{tmp_path}/state.json"
    pattern:
      type: fact
      grain: [oid]
      lookups:
        - {{dimension: dim, fact_keys: [k], dim_keys: [k], surrogate_key: sk, output_col: dim_sk}}
    write: {{path: "{tmp_path}/fact_out", mode: upsert, keys: [oid]}}
"""
        for batch in range(2):
            if batch:
                spark.createDataFrame([
                    Row(oid=3, k=1, amt=7.0, at=ts("2024-01-03 00:00:00")),
                ]).write.mode("append").parquet(sales)
            r = Pipeline.from_yaml(y, spark).run()
            assert r["fact"].status == "success", r["fact"].error
        assert len(captured) == 2
        for jobs, plan in captured:
            assert jobs <= 1
            assert "Join" not in plan
        assert spark.read.parquet(str(tmp_path / "fact_out")).count() == 3


class TestContracts:
    def test_schema_contract_blocks(self, spark, tmp_path):
        src = str(tmp_path / "c_src")
        spark.createDataFrame([Row(a=1)]).write.mode("overwrite").parquet(src)
        y = f"""
name: c
nodes:
  - name: n
    read: {{format: parquet, path: "{src}"}}
    contracts:
      - {{name: shape, type: schema, columns: {{a: bigint, missing_col: string}}}}
"""
        r = Pipeline.from_yaml(y, spark).run()
        assert r["n"].status == "failed" and "schema mismatch" in r["n"].error

    def test_row_count_contract(self, spark, tmp_path):
        src = str(tmp_path / "rc_src")
        spark.createDataFrame([Row(a=1)]).write.mode("overwrite").parquet(src)
        y = f"""
name: c2
nodes:
  - name: n
    read: {{format: parquet, path: "{src}"}}
    contracts:
      - {{name: enough, type: row_count, min: 100}}
"""
        r = Pipeline.from_yaml(y, spark).run()
        assert r["n"].status == "failed" and "row count" in r["n"].error

    def test_distribution_contract_blocks_and_passes(self, spark, tmp_path):
        """Distribution drift check (reference DistributionContract
        odibi/config.py:3222): metric vs threshold expression."""
        src = str(tmp_path / "d_src")
        spark.createDataFrame(
            [Row(price=10.0), Row(price=20.0), Row(price=None)]
        ).write.mode("overwrite").parquet(src)

        def run(metric, threshold, on_fail="fail"):
            y = f"""
name: d
nodes:
  - name: n
    read: {{format: parquet, path: "{src}"}}
    contracts:
      - {{name: drift, type: distribution, column: price, metric: {metric}, threshold: "{threshold}", on_fail: {on_fail}}}
"""
            return Pipeline.from_yaml(y, spark).run()["n"]

        assert run("mean", ">10").status == "success"        # mean=15
        r = run("mean", ">100")
        assert r.status == "failed" and "violates threshold" in r.error
        assert run("null_percentage", "<0.5").status == "success"  # 1/3
        assert run("null_percentage", "<0.1").status == "failed"
        assert run("max", "<=20").status == "success"
        assert run("min", ">=11").status == "failed"
        # warn severity: violation logged, node still succeeds
        assert run("mean", ">100", on_fail="warn").status == "success"

    def test_distribution_contract_config_validation(self):
        from odibi_spark.plans.config import ContractTest

        with pytest.raises(Exception, match="distribution needs"):
            ContractTest(name="d", type="distribution", column="x")

    def test_threshold_expression_parser(self):
        from odibi_spark.plans.node import _threshold_ok

        assert _threshold_ok(5.0, ">4") and not _threshold_ok(5.0, ">5")
        assert _threshold_ok(5.0, ">=5") and _threshold_ok(5.0, "<=5")
        assert _threshold_ok(5.0, "==5") and _threshold_ok(5.0, "= 5")
        assert _threshold_ok(5.0, "!=4")
        with pytest.raises(ValueError, match="bad threshold"):
            _threshold_ok(1.0, "approximately 5")

    def test_all_contracts_run_in_one_job(self, spark, tmp_path):
        """row_count + freshness must share ONE aggregate job, not one
        scan per contract (VERDICT r1: contracted nodes read once)."""
        import datetime

        from odibi_spark.plans.config import NodeConfig
        from odibi_spark.plans.node import NodeExecutor

        src = str(tmp_path / "oj_src")
        now = datetime.datetime.now()
        spark.createDataFrame(
            [Row(a=i, at=now) for i in range(5)]
        ).write.mode("overwrite").parquet(src)
        df = spark.read.parquet(src)
        cfg = NodeConfig(
            name="n",
            read={"format": "parquet", "path": src},
            contracts=[
                {"name": "enough", "type": "row_count", "min": 1, "max": 100},
                {"name": "fresh", "type": "freshness", "column": "at", "max_age_hours": 24},
            ],
        )
        from odibi_spark.context import Context

        sc = spark.sparkContext
        ex = NodeExecutor(cfg, Context(spark))

        def jobs_for(contracts, group):
            sc.setJobGroup(group, "contract pass")
            try:
                ex._check_contracts(spark.read.parquet(src), contracts)
                return len(sc.statusTracker().getJobIdsForGroup(group))
            finally:
                sc.setJobGroup("", "")

        # AQE may split one action into several jobs, so compare: the
        # two-contract pass must cost exactly as many jobs as one
        # contract (shared aggregate), not 2x (per-contract scans)
        one = jobs_for(cfg.contracts[:1], "contract_one")
        both = jobs_for(cfg.contracts, "contract_both")
        assert both == one, f"2 contracts cost {both} jobs vs {one} for 1"

    def test_contract_aggregate_scan_is_column_pruned(self, spark, tmp_path):
        """Scale property: the contract pass must NOT read the wide
        input — freshness/distribution prune to their own columns, so
        at 100 TB the pre-check costs a few percent of the transform's
        scan (and the input is deliberately not persisted: caching all
        columns would cost more than the narrow re-scan saves)."""
        import datetime

        from odibi_spark.context import Context
        from odibi_spark.plans.config import NodeConfig
        from odibi_spark.plans.node import NodeExecutor

        src = str(tmp_path / "cp_src")
        now = datetime.datetime.now()
        spark.createDataFrame(
            [Row(at=now, wide1="x" * 100, wide2="y" * 100, wide3=1.0)
             for _ in range(10)]
        ).write.mode("overwrite").parquet(src)
        cfg = NodeConfig(
            name="n",
            read={"format": "parquet", "path": src},
            contracts=[
                {"name": "fresh", "type": "freshness", "column": "at",
                 "max_age_hours": 24},
            ],
        )
        ex = NodeExecutor(cfg, Context(spark))
        df = spark.read.parquet(src)
        from pyspark.sql import functions as F

        agg_plan = (
            df.agg(F.max("at").alias("__c0"))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "ReadSchema" in agg_plan
        read_schema = agg_plan.split("ReadSchema:")[1].splitlines()[0]
        assert "at" in read_schema and "wide1" not in read_schema, read_schema
        # and the executor path returns the ORIGINAL frame, uncached
        out = ex._check_contracts(df, cfg.contracts)
        assert out is df
        assert not out.storageLevel.useMemory and not out.storageLevel.useDisk


class TestPrePostSqlAndViews:
    def test_pre_post_sql_and_materialized_view(self, spark, tmp_path):
        src = str(tmp_path / "v_src")
        spark.createDataFrame([Row(a=1), Row(a=2)]).write.mode("overwrite").parquet(src)
        y = f"""
name: v
nodes:
  - name: n
    pre_sql: ["CREATE OR REPLACE TEMP VIEW pre_marker AS SELECT 42 AS x"]
    read: {{format: parquet, path: "{src}"}}
    materialize_view: my_view
    post_sql: ["CREATE OR REPLACE TEMP VIEW post_marker AS SELECT 43 AS x"]
"""
        r = Pipeline.from_yaml(y, spark).run()
        assert r["n"].status == "success", r["n"].error
        assert spark.table("pre_marker").collect()[0].x == 42
        assert spark.table("post_marker").collect()[0].x == 43
        assert spark.table("my_view").count() == 2


class TestSkipIfUnchanged:
    def test_write_skipped_on_identical_content(self, spark, tmp_path):
        import os

        src = str(tmp_path / "s_src")
        out = str(tmp_path / "s_out")
        state = str(tmp_path / "s_state.json")
        spark.createDataFrame([Row(a=1)]).write.mode("overwrite").parquet(src)
        y = f"""
name: s
nodes:
  - name: n
    read: {{format: parquet, path: "{src}"}}
    state_path: "{state}"
    write: {{path: "{out}", mode: overwrite, skip_if_unchanged: true}}
"""
        r1 = Pipeline.from_yaml(y, spark).run()
        assert r1["n"].status == "success", r1["n"].error
        mtime1 = max(os.path.getmtime(os.path.join(out, f)) for f in os.listdir(out))
        r2 = Pipeline.from_yaml(y, spark).run()
        assert r2["n"].status == "success"
        mtime2 = max(os.path.getmtime(os.path.join(out, f)) for f in os.listdir(out))
        assert mtime1 == mtime2  # second write skipped


    def test_failed_write_does_not_commit_hash(self, spark, tmp_path, monkeypatch):
        """ADVICE r1 (high): if the write fails, the content hash must NOT
        be persisted — the retry must actually write, not skip forever."""
        import odibi_spark.plans.node as node_mod

        src = str(tmp_path / "f_src")
        out = str(tmp_path / "f_out")
        state = str(tmp_path / "f_state.json")
        spark.createDataFrame([Row(a=1)]).write.mode("overwrite").parquet(src)
        y = f"""
name: s
nodes:
  - name: n
    read: {{format: parquet, path: "{src}"}}
    state_path: "{state}"
    write: {{path: "{out}", mode: overwrite, skip_if_unchanged: true}}
"""
        real = node_mod.write_sink
        calls = {"n": 0}

        def flaky(df, **kw):
            calls["n"] += 1
            if calls["n"] == 1:
                raise RuntimeError("disk full")
            return real(df, **kw)

        monkeypatch.setattr(node_mod, "write_sink", flaky)
        r1 = Pipeline.from_yaml(y, spark).run()
        assert r1["n"].status == "failed"
        # retry with identical content: must WRITE (hash wasn't committed)
        r2 = Pipeline.from_yaml(y, spark).run()
        assert r2["n"].status == "success", r2["n"].error
        assert calls["n"] == 2
        assert spark.read.parquet(out).count() == 1


class TestRemoteUriIncremental:
    def test_remote_uri_target_trusts_hwm_state(self, spark, tmp_path):
        """ADVICE r1 (low): os.path.exists on abfss:// is always False →
        every run would full-reload + duplicate under append. Remote URIs
        must trust the HWM state alone."""
        import datetime

        from odibi_spark.context import Context
        from odibi_spark.plans.config import NodeConfig
        from odibi_spark.plans.node import NodeExecutor
        from odibi_spark.state import JsonStateBackend

        ts = datetime.datetime.fromisoformat
        state_path = str(tmp_path / "u_state.json")
        JsonStateBackend(state_path).set("n:at", "2024-01-02 00:00:00")
        cfg = NodeConfig(
            name="n",
            depends_on=["upstream"],
            incremental={"mode": "stateful", "column": "at"},
            state_path=state_path,
            write={"path": "abfss://c@acct.dfs.core.windows.net/out", "mode": "append"},
        )
        df = spark.createDataFrame(
            [Row(id=1, at=ts("2024-01-01 00:00:00")), Row(id=2, at=ts("2024-01-03 00:00:00"))]
        )
        out, _, _ = NodeExecutor(cfg, Context(spark))._apply_incremental(df)
        assert [r.id for r in out.collect()] == [2]  # filtered, not full reload


class TestResume:
    def test_resume_reuses_succeeded_nodes(self, spark, tmp_path):
        src = str(tmp_path / "r_src")
        out = str(tmp_path / "r_out")
        spark.createDataFrame([Row(a=1), Row(a=2)]).write.mode("overwrite").parquet(src)
        y = f"""
name: r
nodes:
  - name: base
    read: {{format: parquet, path: "{src}"}}
    write: {{path: "{out}", mode: overwrite}}
  - name: child
    depends_on: [base]
    transform:
      - {{function: filter_rows, params: {{condition: "a > 1"}}}}
"""
        pipe = Pipeline.from_yaml(y, spark)
        r1 = pipe.run()
        assert all(r.status == "success" for r in r1.values())
        # resume: base re-registered from its parquet, child re-runs
        pipe2 = Pipeline.from_yaml(y, spark)
        r2 = pipe2.run(resume_from=r1)
        assert r2["base"].status == "success" and r2["child"].status == "success"
        assert pipe2.context.get("child").count() == 1

    def test_resume_resolves_connection_path(self, spark, tmp_path):
        """ADVICE r1 (medium): resume must resolve the write path through
        the node's connection (base_path prefix), not the raw config path."""
        src = str(tmp_path / "rc_src")
        spark.createDataFrame([Row(a=1), Row(a=2)]).write.mode("overwrite").parquet(src)
        y = f"""
name: rcn
connections:
  lake: {{type: local, base_path: "{tmp_path}"}}
nodes:
  - name: base
    read: {{format: parquet, path: "{src}"}}
    write: {{path: rel_out, mode: overwrite, connection: lake}}
  - name: child
    depends_on: [base]
    transform:
      - {{function: filter_rows, params: {{condition: "a > 1"}}}}
"""
        pipe = Pipeline.from_yaml(y, spark)
        r1 = pipe.run()
        assert all(r.status == "success" for r in r1.values()), r1
        pipe2 = Pipeline.from_yaml(y, spark)
        r2 = pipe2.run(resume_from=r1)
        assert r2["base"].status == "success" and r2["child"].status == "success"
        assert pipe2.context.get("base").count() == 2

    def test_resume_unreadable_target_reruns_node(self, spark, tmp_path):
        """A missing/corrupt resume target falls back to re-running the
        node instead of aborting the whole run."""
        import shutil

        src = str(tmp_path / "rr_src")
        out = str(tmp_path / "rr_out")
        spark.createDataFrame([Row(a=1)]).write.mode("overwrite").parquet(src)
        y = f"""
name: rr
nodes:
  - name: base
    read: {{format: parquet, path: "{src}"}}
    write: {{path: "{out}", mode: overwrite}}
"""
        pipe = Pipeline.from_yaml(y, spark)
        r1 = pipe.run()
        assert r1["base"].status == "success"
        shutil.rmtree(out)  # resume target vanished
        pipe2 = Pipeline.from_yaml(y, spark)
        r2 = pipe2.run(resume_from=r1)
        assert r2["base"].status == "success", r2["base"].error


class TestRowsWritten:
    def test_rows_written_observed_without_extra_scan(self, spark, tmp_path):
        src = str(tmp_path / "rw_src")
        spark.range(37).write.mode("overwrite").parquet(src)
        y = f"""
name: rw
nodes:
  - name: n
    read: {{format: parquet, path: "{src}"}}
    write: {{path: "{tmp_path}/rw_out", mode: overwrite}}
"""
        r = Pipeline.from_yaml(y, spark).run()
        assert r["n"].status == "success", r["n"].error
        assert r["n"].rows_written == 37


class TestPrivacy:
    def test_pii_anonymized_before_write(self, spark, tmp_path):
        src = str(tmp_path / "p_src")
        spark.createDataFrame([Row(id=1, email="a@x.com")]).write.mode(
            "overwrite"
        ).parquet(src)
        y = f"""
name: p
nodes:
  - name: n
    read: {{format: parquet, path: "{src}"}}
    privacy: {{pii_columns: [email], method: sha256, salt: s}}
    write: {{path: "{tmp_path}/p_out", mode: overwrite}}
"""
        r = Pipeline.from_yaml(y, spark).run()
        assert r["n"].status == "success", r["n"].error
        row = spark.read.parquet(str(tmp_path / "p_out")).collect()[0]
        assert len(row.email) == 64 and "@" not in row.email


class TestStepAndBootstrapParity:
    def test_sql_file_step(self, spark, tmp_path):
        import pandas as pd

        from odibi_spark.plans.pipeline import Pipeline

        pd.DataFrame({"k": [1, 2, 3], "v": [1.0, 2.0, 3.0]}).to_parquet(
            tmp_path / "in.parquet"
        )
        sql_path = tmp_path / "step.sql"
        sql_path.write_text("SELECT k, v * 10 AS v FROM df WHERE k > 1")
        yaml_text = f"""
name: sqlfile
nodes:
  - name: n
    read: {{path: "{tmp_path}/in.parquet"}}
    transform:
      - sql_file: "{sql_path}"
    write: {{path: "{tmp_path}/out"}}
"""
        results = Pipeline.from_yaml(yaml_text, spark).run()
        assert results["n"].status == "success", results["n"].error
        got = spark.read.parquet(str(tmp_path / "out"))
        assert sorted(r.v for r in got.collect()) == [20.0, 30.0]

    def test_step_exactly_one_kind(self):
        import pytest as _pytest

        from odibi_spark.plans.config import TransformStep

        with _pytest.raises(Exception, match="exactly one"):
            TransformStep(sql="SELECT 1", sql_file="/x.sql")
        with _pytest.raises(Exception, match="exactly one"):
            TransformStep()

    def test_first_run_filter_bootstrap(self, spark, tmp_path):
        import pandas as pd

        from odibi_spark.plans.pipeline import Pipeline

        pd.DataFrame(
            {
                "id": [1, 2, 3],
                "at": pd.to_datetime(
                    ["2024-01-01", "2024-06-01", "2024-12-01"]
                ).astype("datetime64[us]"),
            }
        ).to_parquet(tmp_path / "src.parquet")
        yaml_text = f"""
name: bootstrap
nodes:
  - name: n
    read: {{path: "{tmp_path}/src.parquet"}}
    incremental:
      column: at
      first_run_filter: "at >= TIMESTAMP '2024-05-01 00:00:00'"
    state_path: "{tmp_path}/state.json"
    write: {{path: "{tmp_path}/tgt"}}
"""
        # first run: bounded bootstrap, not full history
        results = Pipeline.from_yaml(yaml_text, spark).run()
        assert results["n"].status == "success", results["n"].error
        assert spark.read.parquet(str(tmp_path / "tgt")).count() == 2
        # second run: HWM from the bootstrap -> only newer rows pass
        import json as _json

        hwm = _json.load(open(tmp_path / "state.json"))["n:at"]
        assert hwm.startswith("2024-12-01")

    def test_node_level_retries(self, spark, tmp_path):
        """A node that fails until the 2nd attempt succeeds with
        retries: 1 in its own config (no run-level retries)."""
        from odibi_spark.plans.pipeline import Pipeline
        from odibi_spark.registry import get_registry

        attempts = {"n": 0}

        reg = get_registry()
        if not reg.has("flaky_once"):
            from odibi_spark.registry import transform

            @transform("flaky_once")
            def flaky_once(ec):
                attempts["n"] += 1
                if attempts["n"] < 2:
                    raise RuntimeError("transient")
                return ec

        import pandas as pd

        pd.DataFrame({"k": [1]}).to_parquet(tmp_path / "in.parquet")
        yaml_text = f"""
name: retry_demo
nodes:
  - name: n
    retries: 1
    read: {{path: "{tmp_path}/in.parquet"}}
    transform:
      - function: flaky_once
"""
        results = Pipeline.from_yaml(yaml_text, spark).run(retry_backoff_s=0.01)
        assert results["n"].status == "success"
        assert attempts["n"] == 2


class TestPatternPhase:
    def test_scd2_pattern_from_yaml(self, spark, tmp_path):
        """Two batches through a YAML scd2 node: change closes the old
        version and inserts the new current one."""
        import pandas as pd

        from odibi_spark.plans.pipeline import Pipeline

        tgt = tmp_path / "dim_cust"

        def run_batch(name, rows):
            pd.DataFrame(rows).assign(
                eff=lambda d: pd.to_datetime(d["eff"]).astype("datetime64[us]")
            ).to_parquet(tmp_path / f"{name}.parquet")
            yaml_text = f"""
name: scd2_demo
nodes:
  - name: dim
    read: {{path: "{tmp_path}/{name}.parquet"}}
    pattern:
      type: scd2
      target_path: "{tgt}"
      keys: [k]
      track_cols: [city]
      effective_time_col: eff
"""
            return Pipeline.from_yaml(yaml_text, spark).run()

        r1 = run_batch("b1", {"k": [1, 2], "city": ["NY", "LA"], "eff": ["2024-01-01", "2024-01-01"]})
        assert r1["dim"].status == "success", r1["dim"].error
        r2 = run_batch("b2", {"k": [1], "city": ["SF"], "eff": ["2024-06-01"]})
        assert r2["dim"].status == "success", r2["dim"].error

        dim = spark.read.parquet(str(tgt))
        k1 = {(r.city, r.is_current) for r in dim.filter("k = 1").collect()}
        assert k1 == {("NY", False), ("SF", True)}
        assert dim.filter("k = 2 AND is_current").count() == 1

    def test_date_dimension_generator_node(self, spark, tmp_path):
        from odibi_spark.plans.pipeline import Pipeline

        yaml_text = f"""
name: dd
nodes:
  - name: dim_date
    pattern:
      type: date_dimension
      start_date: "2024-01-01"
      end_date: "2024-01-31"
    write: {{path: "{tmp_path}/dim_date"}}
"""
        results = Pipeline.from_yaml(yaml_text, spark).run()
        assert results["dim_date"].status == "success", results["dim_date"].error
        got = spark.read.parquet(str(tmp_path / "dim_date"))
        assert got.count() == 31
        assert got.filter("date_key = 20240115").count() == 1

    def test_fact_pattern_with_lookup_and_quarantine(self, spark, tmp_path):
        import pandas as pd

        from odibi_spark.plans.pipeline import Pipeline

        pd.DataFrame({"k": [1, 2], "sk": [10, 20]}).to_parquet(tmp_path / "dim.parquet")
        pd.DataFrame(
            {"oid": [1, 2, 2], "k": [1, 2, 2], "amt": [5.0, 6.0, 7.0]}
        ).to_parquet(tmp_path / "fact.parquet")
        yaml_text = f"""
name: fact_demo
nodes:
  - name: dim
    read: {{path: "{tmp_path}/dim.parquet"}}
  - name: fact
    depends_on: [dim]
    read: {{path: "{tmp_path}/fact.parquet"}}
    pattern:
      type: fact
      grain: [oid]
      quarantine_path: "{tmp_path}/quarantine"
      lookups:
        - {{dimension: dim, fact_keys: [k], dim_keys: [k], surrogate_key: sk, output_col: dim_sk}}
    write: {{path: "{tmp_path}/fact_out"}}
"""
        results = Pipeline.from_yaml(yaml_text, spark).run()
        assert results["fact"].status == "success", results["fact"].error
        out = spark.read.parquet(str(tmp_path / "fact_out"))
        assert {r.oid for r in out.collect()} == {1}  # grain violators quarantined
        assert out.collect()[0].dim_sk == 10
        q = spark.read.parquet(str(tmp_path / "quarantine"))
        assert q.count() == 2 and set(q.select("oid").toPandas().oid) == {2}

    def test_merge_and_incremental_agg_patterns_from_yaml(self, spark, tmp_path):
        """merge upsert and aggregation_incremental are drivable from
        YAML; second batch updates matched keys / merges measures."""
        import pandas as pd

        from odibi_spark.plans.pipeline import Pipeline

        def run(pattern_yaml, name, rows):
            pd.DataFrame(rows).to_parquet(tmp_path / f"{name}.parquet")
            yaml_text = f"""
name: pat
nodes:
  - name: n
    read: {{path: "{tmp_path}/{name}.parquet"}}
{pattern_yaml}
"""
            r = Pipeline.from_yaml(yaml_text, spark).run()
            assert r["n"].status == "success", r["n"].error

        merge_yaml = f"""
    pattern:
      type: merge
      target_path: "{tmp_path}/merged"
      keys: [k]
      strategy: upsert
"""
        run(merge_yaml, "m1", {"k": [1, 2], "v": [1.0, 2.0]})
        run(merge_yaml, "m2", {"k": [2, 3], "v": [20.0, 30.0]})
        got = {r.k: r.v for r in spark.read.parquet(str(tmp_path / "merged")).collect()}
        assert got == {1: 1.0, 2: 20.0, 3: 30.0}

        agg_yaml = f"""
    pattern:
      type: aggregation_incremental
      target_path: "{tmp_path}/agged"
      grain: [g]
      measures: {{total: "sum(v)"}}
      strategy: merge_sum
"""
        run(agg_yaml, "a1", {"g": ["x", "y"], "v": [1.0, 2.0]})
        run(agg_yaml, "a2", {"g": ["y", "z"], "v": [3.0, 4.0]})
        got = {r.g: r.total for r in spark.read.parquet(str(tmp_path / "agged")).collect()}
        assert got == {"x": 1.0, "y": 5.0, "z": 4.0}


class TestSimulationReadValidation:
    def test_typos_fail_at_parse_time(self, spark):
        import pytest as _pytest

        from odibi_spark.plans.config import ReadConfig

        ok = {"rows": 10, "columns": {"x": {"type": "range", "min": 0, "max": 1}}}
        ReadConfig(format="simulation", simulation=ok)
        with _pytest.raises(ValueError, match="unknown simulation key"):
            ReadConfig(format="simulation", simulation={**ok, "cols": {}})
        with _pytest.raises(ValueError, match="rows"):
            ReadConfig(format="simulation", simulation={"columns": ok["columns"]})
        with _pytest.raises(ValueError, match="columns"):
            ReadConfig(format="simulation", simulation={"rows": 5})
        with _pytest.raises(ValueError, match="takes no path"):
            ReadConfig(format="simulation", path="x", simulation=ok)
        with _pytest.raises(ValueError, match="requires format"):
            ReadConfig(format="parquet", path="x", simulation=ok)


class TestNodeCacheLifetime:
    """``cache: true`` keeps the registered output cached after the
    node; without it the node leaves nothing persisted."""

    def _node(self, spark, tmp_path, tests, write, **extra):
        from odibi_spark.context import Context
        from odibi_spark.plans.config import NodeConfig
        from odibi_spark.plans.node import NodeExecutor

        src = str(tmp_path / "src")
        spark.range(40).write.mode("overwrite").parquet(src)
        if write:
            extra["write"] = {"path": str(tmp_path / "out"), "mode": "overwrite"}
        cfg = NodeConfig(
            name="n",
            read={"format": "parquet", "path": src},
            transform=[{"sql": "SELECT id FROM df"}],
            validation={"tests": tests, "quarantine_path": str(tmp_path / "q")},
            **extra,
        )
        ctx = Context(spark)
        return NodeExecutor(cfg, ctx).execute(), ctx

    @pytest.mark.parametrize(
        "quarantine,write", [(False, True), (True, True), (True, False)]
    )
    def test_cache_lifetime(self, spark, tmp_path, quarantine, write):
        sc = spark.sparkContext
        tests = [{"name": "id_nn", "type": "not_null", "column": "id",
                  "quarantine": quarantine},
                 {"name": "id_unique", "type": "unique", "column": "id"}]
        before = set(sc._jsc.getPersistentRDDs().keys())
        r, ctx = self._node(spark, tmp_path, tests, write)
        assert r.status == "success", r.error
        assert not ctx.get("n").storageLevel.useMemory
        assert set(sc._jsc.getPersistentRDDs().keys()) == before

        r, ctx = self._node(spark, tmp_path, tests, write, cache=True)
        assert r.status == "success", r.error
        out = ctx.get("n")
        assert out.storageLevel.useMemory and out.storageLevel.useDisk
        assert out.count() == 40
        out.unpersist()
        assert set(sc._jsc.getPersistentRDDs().keys()) == before
