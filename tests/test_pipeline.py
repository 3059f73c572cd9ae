"""Pipeline layer: YAML in -> tables out (reference model:
docs/examples/canonical/runnable/01_hello_world.yaml)."""

import json

import pytest

from odibi_spark.plans import DependencyGraph, GraphError, Pipeline
from odibi_spark.plans.config import PipelineConfig, load_pipeline_yaml


class TestGraph:
    def test_toposort_and_layers(self):
        g = DependencyGraph({"a": [], "b": ["a"], "c": ["a"], "d": ["b", "c"]})
        order = g.toposort()
        assert order.index("a") < order.index("b") < order.index("d")
        assert g.layers() == [["a"], ["b", "c"], ["d"]]

    def test_cycle_detection(self):
        with pytest.raises(GraphError, match="cycle"):
            DependencyGraph({"a": ["b"], "b": ["a"]})

    def test_missing_dep(self):
        with pytest.raises(GraphError, match="missing"):
            DependencyGraph({"a": ["ghost"]})

    def test_consumers_count(self):
        g = DependencyGraph({"a": [], "b": ["a"], "c": ["a"]})
        assert g.consumers_count() == {"a": 2, "b": 0, "c": 0}


class TestConfig:
    def test_unknown_key_rejected(self):
        with pytest.raises(Exception, match="extra|typo|forbidden|Extra"):
            PipelineConfig.model_validate(
                {"name": "p", "nodes": [], "hallucinated_field": 1}
            )

    def test_step_needs_one_of(self):
        from odibi_spark.plans.config import TransformStep

        with pytest.raises(Exception):
            TransformStep(sql="SELECT 1", function="filter_rows")
        with pytest.raises(Exception):
            TransformStep()

    def test_duplicate_node_names(self):
        with pytest.raises(Exception, match="duplicate"):
            PipelineConfig.model_validate(
                {
                    "name": "p",
                    "nodes": [
                        {"name": "x", "read": {"path": "/tmp/a"}},
                        {"name": "x", "read": {"path": "/tmp/a"}},
                    ],
                }
            )


PIPELINE_YAML = """
name: revenue_demo
nodes:
  - name: lineitem
    read: {format: parquet, path: "{SF}/lineitem.parquet"}
    transform:
      - function: filter_rows
        params: {condition: "l_quantity > 0"}
      - function: derive_columns
        params: {columns: {revenue: "l_extendedprice * (1 - l_discount)"}}
  - name: orders
    read: {format: parquet, path: "{SF}/orders.parquet"}
  - name: joined
    depends_on: [lineitem, orders]
    transform:
      - sql: >
          SELECT o.o_orderpriority, sum(df.revenue) AS revenue
          FROM df JOIN orders o ON o.o_orderkey = df.l_orderkey
          GROUP BY 1
    validation:
      tests:
        - {name: nonempty, type: row_count, min: 1}
        - {name: rev_pos, type: range, column: revenue, min: 0}
    write: {path: "{OUT}/rev_by_priority", mode: overwrite}
"""


class TestEndToEnd:
    def test_yaml_to_table(self, spark, tmp_path):
        yaml_text = PIPELINE_YAML.replace("{SF}", "/root/testdata/sf0.001").replace(
            "{OUT}", str(tmp_path)
        )
        pipe = Pipeline.from_yaml(yaml_text, spark)
        results = pipe.run()
        assert all(r.status == "success" for r in results.values()), {
            k: r.error for k, r in results.items()
        }
        out = spark.read.parquet(str(tmp_path / "rev_by_priority"))
        assert out.count() == 5
        assert set(out.columns) == {"o_orderpriority", "revenue"}

    def test_parallel_matches_serial(self, spark, tmp_path):
        yaml_text = PIPELINE_YAML.replace("{SF}", "/root/testdata/sf0.001").replace(
            "{OUT}", str(tmp_path / "p")
        )
        results = Pipeline.from_yaml(yaml_text, spark).run(parallel=True)
        assert all(r.status == "success" for r in results.values())

    def test_failed_dep_skips_downstream(self, spark, tmp_path):
        bad = """
name: broken
nodes:
  - name: src
    read: {format: parquet, path: "/nonexistent/nope.parquet"}
  - name: child
    depends_on: [src]
"""
        results = Pipeline.from_yaml(bad, spark).run()
        assert results["src"].status == "failed"
        assert results["child"].status == "skipped"


class TestConcurrency:
    def test_parallel_raw_sql_nodes_no_view_races(self, spark, tmp_path):
        """Many nodes in one layer, all using the raw-SQL 'df' token
        concurrently on one SparkSession (SURVEY §7.3 trap): unique
        per-thread view names must prevent cross-talk."""
        src = str(tmp_path / "conc_src")
        spark.range(100).selectExpr("id", "id % 10 AS g").write.mode(
            "overwrite"
        ).parquet(src)
        nodes = "\n".join(
            f"""
  - name: n{i}
    read: {{format: parquet, path: "{src}"}}
    transform:
      - sql: "SELECT {i} AS tag, count(*) AS n, sum(id) AS s FROM df WHERE g = {i}"
"""
            for i in range(8)
        )
        y = f"name: conc\nnodes:{nodes}"
        pipe = Pipeline.from_yaml(y, spark)
        results = pipe.run(parallel=True)
        assert all(r.status == "success" for r in results.values()), {
            k: r.error for k, r in results.items()
        }
        for i in range(8):
            row = pipe.context.get(f"n{i}").collect()[0]
            # each node must see ITS filter, not a neighbour's frame
            assert row.tag == i and row.n == 10
            assert row.s == sum(x for x in range(100) if x % 10 == i)


class TestCatalog:
    def test_run_with_catalog_records_runs_and_tables(self, spark, tmp_path):
        import pandas as pd

        from odibi_spark.catalog import Catalog, run_pipeline_with_catalog
        from odibi_spark.plans.pipeline import Pipeline

        pd.DataFrame({"k": [1, 2], "v": [1.0, 2.0]}).to_parquet(
            tmp_path / "in.parquet"
        )
        yaml_text = f"""
name: cat_demo
nodes:
  - name: n
    read: {{path: "{tmp_path}/in.parquet"}}
    write: {{path: "{tmp_path}/out"}}
"""
        pipe = Pipeline.from_yaml(yaml_text, spark)
        cat = Catalog(spark, str(tmp_path / "_system"))
        run_id, results = run_pipeline_with_catalog(pipe, catalog=cat)
        assert results["n"].status == "success"

        runs = cat.runs().collect()
        assert len(runs) == 1
        row = runs[0]
        assert row.run_id == run_id and row.status == "success"
        assert row.rows_written == 2
        assert row.duration_s is not None and row.duration_s > 0

        tables = cat.tables().collect()
        assert len(tables) == 1
        import json as _json

        assert _json.loads(tables[0].schema_json) == {"k": "bigint", "v": "double"}

    def test_metrics_and_daily_stats_rollup(self, spark, tmp_path):
        """meta_metrics + meta_daily_stats breadth (VERDICT r6 task 8):
        a 2-run pipeline with a validation test records per-run node
        metrics (rows/duration/validation counts) and folds each run
        into the (date, pipeline) daily rollup via merge_sum — two
        runs sum to runs=2 without rescanning history."""
        import pandas as pd

        from odibi_spark.catalog import Catalog, run_pipeline_with_catalog
        from odibi_spark.plans.pipeline import Pipeline

        pd.DataFrame({"k": [1, 2, 3], "v": [1.0, -2.0, 3.0]}).to_parquet(
            tmp_path / "in.parquet"
        )
        yaml_text = f"""
name: metrics_demo
nodes:
  - name: n
    read: {{path: "{tmp_path}/in.parquet"}}
    validation:
      tests:
        - name: v_nonneg
          type: custom_sql
          condition: "v >= 0"
          threshold: 0.5
    write: {{path: "{tmp_path}/out", mode: overwrite}}
"""
        cat = Catalog(spark, str(tmp_path / "_system"))
        ids = []
        for _ in range(2):
            pipe = Pipeline.from_yaml(yaml_text, spark)
            run_id, results = run_pipeline_with_catalog(pipe, catalog=cat)
            assert results["n"].status == "success"
            ids.append(run_id)

        m = {
            (r.run_id, r.metric): r.value
            for r in cat.metrics().collect()
        }
        for rid in ids:
            assert m[(rid, "rows_written")] == 3.0
            assert m[(rid, "duration_s")] > 0
            assert m[(rid, "validation.v_nonneg.failed_rows")] == 1.0
            assert m[(rid, "validation.v_nonneg.passed")] == 1.0

        stats = cat.daily_stats().collect()
        assert len(stats) == 1  # one (date, pipeline) grain row
        s = stats[0]
        assert s.pipeline == "metrics_demo"
        assert s.runs == 2 and s.successes == 2 and s.failures == 0
        assert s.total_rows == 6
        assert s.total_duration_s > 0

    def test_catalog_bookkeeping_launches_no_spark_job(self, spark, tmp_path):
        """On a local root, everything run_pipeline_with_catalog does
        after pipeline.run (runs, metrics, table registrations, schema
        snapshots, the daily-stats fold) runs on the driver: 0 Spark
        jobs on a first run and on a run that folds into existing
        tables. Metrics and registrations land as one file per run."""
        import os
        import uuid

        import pandas as pd

        from odibi_spark.catalog import Catalog, run_pipeline_with_catalog

        pd.DataFrame({"k": [1, 2, 3], "v": [1.0, -2.0, 3.0]}).to_parquet(
            tmp_path / "in.parquet"
        )
        yaml_text = f"""
name: budget
nodes:
  - name: a
    read: {{path: "{tmp_path}/in.parquet"}}
    validation:
      tests:
        - {{name: v_nonneg, type: custom_sql, condition: "v >= 0", threshold: 0.5}}
    write: {{path: "{tmp_path}/out_a", mode: overwrite}}
  - name: b
    read: {{path: "{tmp_path}/in.parquet"}}
    write: {{path: "{tmp_path}/out_b", mode: overwrite}}
"""
        sc = spark.sparkContext
        cat = Catalog(spark, str(tmp_path / "_system"))
        for _ in range(2):
            pipe = Pipeline.from_yaml(yaml_text, spark)
            group = f"catalog-budget-{uuid.uuid4().hex}"
            run = pipe.run

            def run_then_mark(parallel=False, run=run, group=group):
                results = run(parallel=parallel)
                sc.setJobGroup(group, group)
                return results

            pipe.run = run_then_mark
            try:
                _, results = run_pipeline_with_catalog(pipe, catalog=cat)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            assert all(r.status == "success" for r in results.values())
            assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0

        def files(name):
            d = tmp_path / "_system" / f"meta_{name}"
            return [f for f in os.listdir(d) if f.endswith(".parquet")]

        assert len(files("metrics")) == 2 and len(files("tables")) == 2
        assert cat.metrics().count() == 2 * (4 + 2)
        assert {r.node for r in cat.tables().collect()} == {"a", "b"}
        assert cat.tables().count() == 4
        assert cat.schema_snapshots().count() == 2  # one version per table
        s = cat.daily_stats().collect()
        assert len(s) == 1 and s[0].runs == 2 and s[0].total_rows == 12


class TestPipelineHealth:
    def test_health_snapshot_from_runs(self, spark, tmp_path):
        """pipeline_health derives success rates and last-run marks
        from meta_runs; a run counts as successful only when EVERY
        node row succeeded."""
        import time as _t

        from odibi_spark.catalog import Catalog

        cat = Catalog(spark, str(tmp_path / "_sys"))
        now = _t.time()

        class R:
            def __init__(self, status, rows=10):
                self.status = status
                self.rows_written = rows
                self.error = None
                self.duration_s = 1.0

        # run 1 (8 days ago): all good; run 2 (today): one node failed
        cat.record_run(
            run_id="r1", pipeline="p",
            results={"a": R("success"), "b": R("success")},
            started_at=now - 8 * 86400, finished_at=now - 8 * 86400 + 5,
        )
        cat.record_run(
            run_id="r2", pipeline="p",
            results={"a": R("success"), "b": R("failed")},
            started_at=now - 60, finished_at=now - 30,
        )
        h = {r.pipeline: r for r in cat.pipeline_health(now=now).collect()}
        p = h["p"]
        assert p.total_runs == 2
        assert p.total_successes == 1 and p.total_failures == 1
        # only r2 is inside 7d and it failed
        assert p.success_rate_7d == 0.0
        assert p.success_rate_30d == 0.5
        assert p.last_success_at == pytest.approx(now - 8 * 86400 + 5)
        assert p.last_failure_at == pytest.approx(now - 30)
        assert p.last_run_at == pytest.approx(now - 30)

    def test_health_cli(self, spark, tmp_path, capsys):
        import json as _json

        from odibi_spark.catalog import Catalog
        from odibi_spark.cli import main

        cat = Catalog(spark, str(tmp_path / "_sys"))

        class R:
            status = "success"
            rows_written = 5
            error = None
            duration_s = 0.5

        import time as _t

        now = _t.time()
        cat.record_run(
            run_id="x", pipeline="q", results={"n": R()},
            started_at=now - 10, finished_at=now,
        )
        assert main(["catalog", "health", "--root", str(tmp_path / "_sys")]) == 0
        rows = _json.loads(capsys.readouterr().out)
        assert rows[0]["pipeline"] == "q" and rows[0]["total_runs"] == 1


class TestDeployAndSchemaHistory:
    def test_deploy_records_definitions(self, spark, tmp_path, capsys):
        import json as _json

        from odibi_spark.cli import main

        y = tmp_path / "p.yaml"
        y.write_text(f"""
name: dep_demo
nodes:
  - name: a
    read: {{path: "{tmp_path}/in.parquet"}}
  - name: b
    depends_on: [a]
    transform:
      - sql: "SELECT * FROM a"
""")
        assert main(["deploy", str(y), "--root", str(tmp_path / "_sys")]) == 0
        out = _json.loads(capsys.readouterr().out)
        assert out["pipeline"] == "dep_demo" and out["nodes"] == 2
        vh = out["version_hash"]

        # identical redeploy produces the SAME version hash
        assert main(["deploy", str(y), "--root", str(tmp_path / "_sys")]) == 0
        assert _json.loads(capsys.readouterr().out)["version_hash"] == vh

        assert main([
            "catalog", "pipelines", "--root", str(tmp_path / "_sys"),
        ]) == 0
        rows = _json.loads(capsys.readouterr().out)
        assert all(r["version_hash"] == vh for r in rows) and len(rows) == 2

        assert main([
            "catalog", "nodes", "--root", str(tmp_path / "_sys"),
        ]) == 0
        nodes = _json.loads(capsys.readouterr().out)
        by_node = {r["node"]: r for r in nodes if r["version_hash"] == vh}
        assert _json.loads(by_node["b"]["depends_on_json"]) == ["a"]

    def test_schema_history_dedups_to_change_points(self, spark, tmp_path):
        from odibi_spark.catalog import Catalog

        cat = Catalog(spark, str(tmp_path / "_sys"))
        df1 = spark.createDataFrame([(1, "x")], "k long, v string")
        df2 = spark.createDataFrame([(1.0, "x")], "k double, v string")
        for df in (df1, df1, df2, df2):  # two writes per schema version
            cat.record_table(
                table_path="/lake/t", pipeline="p", node="n", df=df,
            )
        hist = cat.schema_history("/lake/t").collect()
        assert len(hist) == 2  # only the change points survive
        assert "bigint" in hist[0].schema_json
        assert "double" in hist[1].schema_json
        assert hist[0].updated_at < hist[1].updated_at

    def test_schema_diff(self, spark, tmp_path, capsys):
        import json as _json

        from odibi_spark.catalog import Catalog
        from odibi_spark.cli import main

        cat = Catalog(spark, str(tmp_path / "_sys"))
        cat.record_table(
            table_path="/lake/t", pipeline="p", node="n",
            df=spark.createDataFrame([(1, "x")], "k long, v string"),
        )
        cat.record_table(
            table_path="/lake/t", pipeline="p", node="n",
            df=spark.createDataFrame(
                [(1.0, "x", True)], "k double, v string, flag boolean"
            ),
        )
        d = cat.schema_diff("/lake/t")
        assert d["added"] == {"flag": "boolean"}
        assert d["removed"] == {}
        assert d["changed"] == {"k": {"from": "bigint", "to": "double"}}
        assert main([
            "catalog", "schema-diff", "--root", str(tmp_path / "_sys"),
            "--table", "/lake/t",
        ]) == 0
        out = _json.loads(capsys.readouterr().out)
        assert out["changed"]["k"]["to"] == "double"
        # missing --table is a usage error
        assert main([
            "catalog", "schema-diff", "--root", str(tmp_path / "_sys"),
        ]) == 2

    def test_catalog_state_backend(self, spark, tmp_path, capsys):
        """meta_state: HWM state lives IN the catalog (reference
        catalog state backend) and is queryable via the CLI."""
        import json as _json

        from odibi_spark.catalog import Catalog
        from odibi_spark.cli import main

        cat = Catalog(spark, str(tmp_path / "_sys"))
        sb = cat.state_backend()
        assert sb.get("hwm") is None
        sb.set("hwm", "2026-08-14")
        sb.set("other", "42")
        assert sb.get("hwm") == "2026-08-14"
        # a fresh backend object over the same catalog sees the state
        assert cat.state_backend().get("other") == "42"
        assert main(["catalog", "state", "--root", str(tmp_path / "_sys")]) == 0
        rows = _json.loads(capsys.readouterr().out)
        assert {r["key"]: r["value"] for r in rows} == {
            "hwm": "2026-08-14", "other": "42",
        }

    def test_sla_status(self, spark, tmp_path):
        """SLA snapshot: fresh-enough, stale, and never-succeeded
        pipelines each get the right breach flag."""
        import time as _t

        from odibi_spark.catalog import Catalog

        cat = Catalog(spark, str(tmp_path / "_sys"))
        now = _t.time()

        class R:
            def __init__(self, status):
                self.status = status
                self.rows_written = 1
                self.error = None
                self.duration_s = 0.1

        cat.record_run(run_id="f", pipeline="fresh",
                       results={"n": R("success")},
                       started_at=now - 3600, finished_at=now - 3000)
        cat.record_run(run_id="s", pipeline="stale",
                       results={"n": R("success")},
                       started_at=now - 50 * 3600, finished_at=now - 49 * 3600)
        cat.record_run(run_id="b", pipeline="broken",
                       results={"n": R("failed")},
                       started_at=now - 600, finished_at=now - 500)
        out = {
            r.pipeline: r
            for r in cat.sla_status(
                {"fresh": 24, "stale": 24, "broken": 24, "neverran": 24},
                now=now,
            ).collect()
        }
        assert out["fresh"].breached is False
        assert out["stale"].breached is True
        assert out["stale"].hours_since_success == pytest.approx(49, abs=0.1)
        # failed-only pipeline: no success ever -> breach with NULL hours
        assert out["broken"].breached is True
        assert out["broken"].hours_since_success is None
        assert out["neverran"].breached is True


class TestSchemaSnapshots:
    """r14 (VERDICT r13 task 7): versioned schema snapshots with drift
    columns — the reference's track_schema/meta_schemas surface."""

    def _cat(self, spark, tmp_path):
        from odibi_spark.catalog import Catalog

        return Catalog(spark, str(tmp_path / "_system"))

    def test_versioning_and_noop_on_unchanged(self, spark, tmp_path):
        cat = self._cat(spark, tmp_path)
        df1 = spark.createDataFrame([(1, "a")], "k bigint, v string")
        r1 = cat.snapshot_schema("t/out", df1, pipeline="p", node="n")
        assert r1 == {
            "changed": True, "version": 1, "previous_version": None,
            "columns_added": ["k", "v"], "columns_removed": [],
            "columns_type_changed": [],
        }
        # identical schema: no new row
        r2 = cat.snapshot_schema("t/out", df1)
        assert r2 == {"changed": False, "version": 1}
        assert cat.schema_snapshots("t/out").count() == 1
        # drift: v dropped, w added, k retyped
        df2 = spark.createDataFrame([(1.5, True)], "k double, w boolean")
        r3 = cat.snapshot_schema("t/out", df2, run_id="r3")
        assert r3["version"] == 2 and r3["previous_version"] == 1
        assert r3["columns_added"] == ["w"]
        assert r3["columns_removed"] == ["v"]
        assert r3["columns_type_changed"] == ["k"]
        drift = cat.schema_drift("t/out").collect()
        assert len(drift) == 1
        import json as _json

        assert _json.loads(drift[0].columns_type_changed) == ["k"]
        assert drift[0].run_id == "r3"

    def test_tables_tracked_independently(self, spark, tmp_path):
        cat = self._cat(spark, tmp_path)
        a = spark.createDataFrame([(1,)], "k bigint")
        b = spark.createDataFrame([("x",)], "s string")
        assert cat.snapshot_schema("ta", a)["version"] == 1
        assert cat.snapshot_schema("tb", b)["version"] == 1
        assert cat.snapshot_schema("ta", b)["version"] == 2
        assert cat.schema_drift().count() == 1

    def test_pipeline_run_writes_snapshot_per_table(self, spark, tmp_path):
        import pandas as pd

        from odibi_spark.catalog import Catalog, run_pipeline_with_catalog
        from odibi_spark.plans.pipeline import Pipeline

        pd.DataFrame({"k": [1, 2]}).to_parquet(tmp_path / "in.parquet")
        yaml_text = f"""
name: snap_demo
nodes:
  - name: n
    read: {{path: "{tmp_path}/in.parquet"}}
    write: {{path: "{tmp_path}/out"}}
"""
        cat = Catalog(spark, str(tmp_path / "_system"))
        run_id, _ = run_pipeline_with_catalog(
            Pipeline.from_yaml(yaml_text, spark), catalog=cat
        )
        snaps = cat.schema_snapshots().collect()
        assert len(snaps) == 1
        assert snaps[0].run_id == run_id
        assert snaps[0].schema_version == 1
        # replaying the same pipeline: registration row appends, but
        # the unchanged schema takes NO second snapshot
        run_pipeline_with_catalog(
            Pipeline.from_yaml(yaml_text, spark), catalog=cat
        )
        assert cat.schema_snapshots().count() == 1
        assert cat.tables().count() == 2

    def test_cli_schema_snapshots_and_drift(self, spark, tmp_path, capsys):
        from odibi_spark.catalog import Catalog
        from odibi_spark.cli import main as cli_main

        cat = Catalog(spark, str(tmp_path / "_system"))
        cat.snapshot_schema(
            "t", spark.createDataFrame([(1,)], "k bigint")
        )
        cat.snapshot_schema(
            "t", spark.createDataFrame([("s",)], "k string")
        )
        rc = cli_main([
            "catalog", "schema-snapshots",
            "--root", str(tmp_path / "_system"), "--table", "t",
        ])
        assert rc == 0
        out = json.loads(capsys.readouterr().out)
        assert [r["schema_version"] for r in out] in ([1, 2], [2, 1])
        rc = cli_main([
            "catalog", "schema-drift",
            "--root", str(tmp_path / "_system"),
        ])
        assert rc == 0
        drift = json.loads(capsys.readouterr().out)
        assert len(drift) == 1 and json.loads(
            drift[0]["columns_type_changed"]
        ) == ["k"]
