"""CLI (reference: odibi/cli/main.py:271-537 — run, plan, validate,
graph, schema, story, catalog discovery): ``python -m odibi_spark.cli
<cmd> ...``."""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="odibi_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    for cmd, help_ in [
        ("run", "execute a pipeline YAML"),
        ("plan", "show execution layers without running"),
        ("validate", "parse + validate the pipeline config"),
        ("graph", "print the dependency DAG"),
        ("lineage", "print node-level lineage as JSON"),
    ]:
        sp = sub.add_parser(cmd, help=help_)
        sp.add_argument("pipeline", help="pipeline YAML path")
        sp.add_argument(
            "--env",
            help="environment name: applies the environments:<env> "
            "overlay and a sibling env.<env>.yaml",
        )
        if cmd == "run":
            sp.add_argument("--parallel", action="store_true")
            sp.add_argument("--catalog", help="catalog root for run metadata")
            sp.add_argument("--story", help="write an HTML run report here")
            sp.add_argument(
                "--node",
                help="run ONLY this node, dependencies read from their "
                "written targets (per-task orchestration entry point)",
            )

    # discovery commands operate on a base path, no Spark needed
    sp = sub.add_parser("discover", help="list datasets under a base path")
    sp.add_argument("base_path")
    sp.add_argument("--pattern", default="")
    sp.add_argument("--schema", action="store_true", help="include column schemas")
    sp.add_argument("--limit", type=int, default=200)
    sp = sub.add_parser("schema", help="print a dataset's schema")
    sp.add_argument("dataset")
    sp = sub.add_parser("preview", help="print sample rows from a dataset")
    sp.add_argument("dataset")
    sp.add_argument("--rows", type=int, default=5)
    sp = sub.add_parser("profile", help="row count + sampled column stats")
    sp.add_argument("dataset")

    # offline ops tooling (reference cli/main.py:101-270)
    sp = sub.add_parser("doctor", help="environment diagnostics")
    sp.add_argument("--pipeline", help="also check a pipeline YAML loads")
    sp.add_argument("--json", action="store_true", dest="as_json")
    sp = sub.add_parser("diagnose-path", help="diagnose a filesystem path")
    sp.add_argument("path")
    sp = sub.add_parser("scaffold", help="generate starter YAML")
    sp.add_argument(
        "kind", choices=["pipeline", "project", "sql-pipeline"], nargs="?",
        default="pipeline",
    )
    sp.add_argument("--name", default=None)
    sp.add_argument("--out", help="write to this file instead of stdout")

    # orchestration export (reference cli/export.py + orchestration/)
    sp = sub.add_parser(
        "export", help="generate Airflow DAG / Dagster definitions code"
    )
    sp.add_argument("--target", choices=["airflow", "dagster"], required=True)
    sp.add_argument("--pipeline", required=True, help="pipeline YAML path")
    sp.add_argument("--out", help="write here (default: stdout)")
    sp.add_argument("--owner", default="airflow")
    sp.add_argument("--retries", type=int, default=0)
    sp.add_argument(
        "--yaml-path",
        help="pipeline YAML path as the orchestrator's workers will see "
        "it (defaults to --pipeline)",
    )
    sp.add_argument(
        "--env",
        help="environments overlay to export with; forwarded as --env "
        "into every generated task command so tasks run the SAME "
        "overlaid config the DAG was exported from",
    )

    # introspection (reference cli/list_cmd.py: list + explain)
    sp = sub.add_parser(
        "list", help="list registered transformers / patterns / formats"
    )
    sp.add_argument(
        "what", choices=["transformers", "patterns", "formats", "recipes"],
        nargs="?", default="transformers",
    )
    sp.add_argument("--json", action="store_true", dest="as_json")
    sp = sub.add_parser("explain", help="show a transformer's docs + params")
    sp.add_argument("name")

    # catalog queries (reference cli/catalog.py: runs/tables/metrics/stats)
    sp = sub.add_parser("catalog", help="query system-catalog metadata")
    sp.add_argument(
        "what",
        choices=["runs", "tables", "metrics", "daily-stats", "health",
                 "pipelines", "nodes", "schema-history", "schema-diff",
                 "schema-snapshots", "schema-drift", "state"],
    )
    sp.add_argument("--root", required=True, help="catalog root path")
    sp.add_argument("--pipeline", help="filter by pipeline name")
    sp.add_argument("--table", help="filter schema-history by table path")
    sp.add_argument("--limit", type=int, default=20)

    # generated configuration manual (reference introspect.py
    # generate_docs — the full YAML-schema reference, not just the
    # single-key `explain`)
    sp = sub.add_parser(
        "docs", help="generate documentation artifacts"
    )
    sp.add_argument("what", choices=["config-manual"])
    sp.add_argument("--out", help="write to this path instead of stdout")

    # open-format table-version diff (reference diagnostics/delta.py
    # get_delta_diff over versionAsOf; here over two snapshot paths)
    sp = sub.add_parser(
        "table-diff",
        help="diff two written snapshots of a table "
             "(rows/files/bytes, schema drift, optional row-level diff)",
    )
    sp.add_argument("path_a", help="older snapshot path")
    sp.add_argument("path_b", help="newer snapshot path")
    sp.add_argument("--keys", help="comma-separated key columns for the "
                                   "row-level insert/delete/update diff")
    sp.add_argument("--deep", action="store_true",
                    help="run the row-level diff (exceptAll without --keys)")
    sp.add_argument("--partition-expr",
                    help="SQL expression for a per-partition diff table "
                         "(e.g. \"year(o_orderdate)\"); requires --keys")
    sp.add_argument("--format", default="parquet")
    sp.add_argument("--sample", type=int, default=10)
    sp.add_argument("--drift-threshold-pct", type=float,
                    help="print only the drift verdict at this row-count "
                         "change threshold")

    # deploy definitions into the catalog (reference cli/main.py:439)
    sp = sub.add_parser(
        "deploy", help="record pipeline definitions in the system catalog"
    )
    sp.add_argument("pipeline", help="pipeline YAML path")
    sp.add_argument("--root", required=True, help="catalog root path")

    # observability UI (reference cli/ui.py; stdlib twin — see ui.py)
    sp = sub.add_parser(
        "ui", help="serve the catalog observability dashboard"
    )
    sp.add_argument("--root", required=True, help="catalog root path")
    sp.add_argument("--host", default="127.0.0.1")
    sp.add_argument("--port", type=int, default=8000)

    # YAML templates + editor schema (reference cli/templates.py)
    sp = sub.add_parser(
        "templates",
        help="show a transformer's YAML step template / emit the "
        "pipeline JSON schema for editor validation",
    )
    sp.add_argument("action", choices=["show", "schema"])
    sp.add_argument(
        "name", nargs="?",
        help="transformer name (for 'show')",
    )
    sp.add_argument("--out", help="write to this file instead of stdout")

    # catalog maintenance (reference cli/system.py)
    sp = sub.add_parser(
        "system", help="catalog maintenance: cleanup/rebuild/optimize/sync"
    )
    sp.add_argument(
        "action",
        choices=["cleanup", "rebuild-summaries", "optimize", "sync"],
    )
    sp.add_argument("--root", required=True, help="catalog root path")
    sp.add_argument(
        "--retention-days", type=int, default=90,
        help="cleanup: delete history rows older than this (default 90)",
    )
    sp.add_argument("--dry-run", action="store_true")
    sp.add_argument("--target", help="sync: destination catalog root")
    sp.add_argument(
        "--target-mb", type=int, default=32,
        help="optimize: target output file size (MB)",
    )

    # env-var secrets helpers (reference cli/secrets.py)
    sp = sub.add_parser(
        "secrets", help="scan config for ${VAR} references"
    )
    sp.add_argument("action", choices=["init", "validate"])
    sp.add_argument("pipeline", help="pipeline YAML path")
    sp.add_argument(
        "--out", default=".env.template",
        help="template file written by 'init' (default: .env.template)",
    )

    # YAML data tests (reference cli/test.py: the `odibi test` verb)
    sp = sub.add_parser(
        "test", help="run YAML-defined data tests (transform/sql cases)"
    )
    sp.add_argument("path", help="test YAML file or directory to scan")
    sp.add_argument(
        "--snapshot", action="store_true",
        help="write/refresh __snapshots__ CSVs instead of comparing",
    )
    sp.add_argument("--json", action="store_true", dest="as_json")

    # table maintenance (open-format twin of the reference's Delta
    # auto_optimize/zorder write options)
    sp = sub.add_parser(
        "maintain", help="compact small files and/or re-layout a table"
    )
    sp.add_argument("path")
    sp.add_argument(
        "--target-mb", type=int, default=128,
        help="target output file size for compaction (MB)",
    )
    sp.add_argument(
        "--zorder-by",
        help="comma-separated columns: rewrite in Morton layout instead "
        "of plain bin-packing",
    )
    sp.add_argument("--format", default="parquet")

    sp = sub.add_parser(
        "mcp", help="serve the MCP stdio gateway (same as odibi-spark-mcp)"
    )
    sp.add_argument(
        "--allow", default="",
        help="extra effect grants: sensitive,session,execution",
    )
    args = p.parse_args(argv)

    if args.cmd == "mcp":
        from odibi_spark.mcp_server import main as mcp_main

        return mcp_main(["--allow", args.allow] if args.allow else [])

    if args.cmd == "list":
        import odibi_spark.operators  # noqa: F401 — registers transforms
        from odibi_spark.registry import get_registry

        if args.what == "transformers":
            reg = get_registry()
            entries = {
                name: (reg.get(name).__doc__ or "").strip().splitlines()[0]
                if (reg.get(name).__doc__ or "").strip() else ""
                for name in reg.list()
            }
        elif args.what == "patterns":
            import typing

            from odibi_spark.plans.config import PatternConfig

            entries = {
                t: "" for t in typing.get_args(
                    PatternConfig.model_fields["type"].annotation
                )
            }
        elif args.what == "recipes":
            from odibi_spark.plans.recipes import load_recipes

            entries = {
                name: (r.description or "").strip()
                for name, r in load_recipes().items()
            }
        else:  # formats
            from odibi_spark.io.read import list_formats

            entries = {f: "" for f in list_formats()}
        if args.as_json:
            print(json.dumps(entries, indent=2))
        else:
            for name, doc in entries.items():
                print(f"{name}  {doc}".rstrip())
        return 0

    if args.cmd == "explain":
        import inspect

        import odibi_spark.operators  # noqa: F401
        from odibi_spark.registry import get_registry

        reg = get_registry()
        if not reg.has(args.name):
            print(
                f"unknown transformer '{args.name}'; run "
                "`odibi_spark list transformers`", file=sys.stderr,
            )
            return 1
        fn = reg.get(args.name)
        print(f"{args.name}{inspect.signature(fn)}")
        doc = inspect.getdoc(fn)
        if doc:
            print()
            print(doc)
        return 0

    if args.cmd == "export":
        from odibi_spark.orchestration import (
            render_airflow_dag,
            render_dagster_definitions,
        )
        from odibi_spark.plans.config import load_pipeline_yaml

        cfg = load_pipeline_yaml(args.pipeline, env=args.env)
        yaml_path = args.yaml_path or args.pipeline
        if args.target == "airflow":
            code = render_airflow_dag(
                cfg, yaml_path=yaml_path, owner=args.owner,
                retries=args.retries, env=args.env,
            )
        else:
            code = render_dagster_definitions(
                cfg, yaml_path=yaml_path, env=args.env,
            )
        if args.out:
            with open(args.out, "w") as f:
                f.write(code)
            print(f"wrote {args.out}")
        else:
            print(code)
        return 0

    if args.cmd == "docs":
        from odibi_spark.introspect import generate_config_manual

        md = generate_config_manual()
        if args.out:
            with open(args.out, "w", encoding="utf-8") as fh:
                fh.write(md)
            print(f"wrote {args.out} ({len(md.splitlines())} lines)")
        else:
            print(md)
        return 0

    if args.cmd == "table-diff":
        from odibi_spark import get_spark
        from odibi_spark.diagnostics import (
            detect_table_drift, partition_diff, table_snapshot_diff,
        )

        spark = get_spark("table-diff")
        keys = args.keys.split(",") if args.keys else None
        if args.drift_threshold_pct is not None:
            msg = detect_table_drift(
                spark, args.path_a, args.path_b,
                threshold_pct=args.drift_threshold_pct,
                format=args.format,
            )
            print(json.dumps({"drift": msg}))
            return 0 if msg is None else 3
        res = table_snapshot_diff(
            spark, args.path_a, args.path_b, keys=keys,
            deep=args.deep or bool(keys), sample=args.sample,
            format=args.format,
        ).to_dict()
        if args.partition_expr:
            if not keys:
                print("--partition-expr requires --keys", file=sys.stderr)
                return 2
            pdf = partition_diff(
                spark.read.format(args.format).load(args.path_a),
                spark.read.format(args.format).load(args.path_b),
                keys=keys, partition_expr=args.partition_expr,
            )
            res["partitions"] = [r.asDict() for r in pdf.collect()]
        print(json.dumps(res, indent=2, default=str))
        return 0

    if args.cmd == "catalog":
        from odibi_spark import get_spark
        from odibi_spark.catalog import Catalog

        cat = Catalog(get_spark("catalog"), args.root)
        if args.what == "schema-diff":
            if not args.table:
                print("--table is required for schema-diff", file=sys.stderr)
                return 2
            print(json.dumps(cat.schema_diff(args.table), indent=2))
            return 0
        if args.what == "schema-history":
            df = cat.schema_history(args.table)
        elif args.what == "schema-snapshots":
            df = cat.schema_snapshots(args.table)
        elif args.what == "schema-drift":
            df = cat.schema_drift(args.table)
        else:
            reader = {
                "runs": cat.runs, "tables": cat.tables,
                "metrics": cat.metrics, "daily-stats": cat.daily_stats,
                "health": cat.pipeline_health,
                "pipelines": cat.pipelines, "nodes": cat.nodes,
                "state": cat.state,
            }[args.what]
            df = reader()
        if args.pipeline and "pipeline" in df.columns:
            df = df.filter(df.pipeline == args.pipeline)
        rows = [r.asDict() for r in df.limit(args.limit).collect()]
        print(json.dumps(rows, indent=2, default=str))
        return 0

    if args.cmd == "deploy":
        from odibi_spark import get_spark
        from odibi_spark.catalog import Catalog
        from odibi_spark.plans.config import load_pipeline_yaml

        cfg = load_pipeline_yaml(args.pipeline)
        vh = Catalog(get_spark("deploy"), args.root).deploy(cfg)
        print(json.dumps(
            {"pipeline": cfg.name, "version_hash": vh,
             "nodes": len(cfg.nodes)}
        ))
        return 0

    if args.cmd == "maintain":
        from odibi_spark import get_spark

        spark = get_spark("maintain")
        if args.zorder_by:
            import math

            from odibi_spark.io.compact import reject_partitioned_layout
            from odibi_spark.operators.layout import write_zordered
            from odibi_spark.patterns.merge_target import ParquetTarget

            target = ParquetTarget(spark, args.path)
            reject_partitioned_layout(target)
            target.live()
            cols = [c.strip() for c in args.zorder_by.split(",") if c.strip()]
            total = sum(sz for _, sz in target.files)
            n_files = max(1, math.ceil(total / (args.target_mb * 1024 * 1024)))
            df = spark.read.format(args.format).load(args.path)
            moved = target.commit(
                lambda staged: write_zordered(
                    df, staged, cols, n_files=n_files, format=args.format
                )
            )["files"]
            print(json.dumps({"zordered_files": moved, "cols": cols}))
        else:
            from odibi_spark.io.compact import compact_small_files

            stats = compact_small_files(
                spark, args.path,
                target_file_bytes=args.target_mb * 1024 * 1024,
                format=args.format,
            )
            print(json.dumps(stats))
        return 0

    if args.cmd == "doctor":
        from odibi_spark.doctor import doctor

        result = doctor(pipeline_yaml=args.pipeline)
        if args.as_json:
            print(json.dumps(result, indent=2))
        else:
            print(f"status: {result['status']}")
            print(f"python: {result['python_version']}")
            for k, v in result["packages"].items():
                print(f"  {k}: {v}")
            for k, v in result["environment"].items():
                print(f"  {k}={v}")
            for issue in result["issues"]:
                print(f"[{issue['severity'].upper()}] {issue['message']}")
                print(f"  fix: {issue['fix']}")
        return 0 if result["status"] == "healthy" else 1
    if args.cmd == "diagnose-path":
        from odibi_spark.doctor import diagnose_path

        print(json.dumps(diagnose_path(args.path), indent=2))
        return 0
    if args.cmd == "scaffold":
        from odibi_spark import scaffold as sc

        gen = {
            "pipeline": sc.scaffold_pipeline,
            "project": sc.scaffold_project,
            "sql-pipeline": sc.scaffold_sql_pipeline,
        }[args.kind]
        text = gen(args.name) if args.name else gen()
        if args.out:
            with open(args.out, "w") as f:
                f.write(text)
            print(f"wrote {args.out}")
        else:
            print(text)
        return 0

    if args.cmd == "ui":
        from odibi_spark import get_spark
        from odibi_spark.catalog import Catalog
        from odibi_spark.ui import serve_ui

        serve_ui(
            Catalog(get_spark("odibi_spark_ui"), args.root),
            host=args.host, port=args.port,
        )
        return 0

    if args.cmd == "templates":
        if args.action == "show":
            if not args.name:
                print("templates show needs a transformer name",
                      file=sys.stderr)
                return 2
            from odibi_spark.scaffold import transformer_step_template

            try:
                text = transformer_step_template(args.name)
            except KeyError:
                print(
                    f"unknown transformer '{args.name}'; run "
                    "`odibi_spark list transformers`", file=sys.stderr,
                )
                return 1
        else:
            from odibi_spark.scaffold import pipeline_json_schema

            text = json.dumps(pipeline_json_schema(), indent=2) + "\n"
        if args.out:
            with open(args.out, "w") as f:
                f.write(text)
            print(f"wrote {args.out}")
        else:
            print(text, end="")
        return 0

    if args.cmd == "system":
        from odibi_spark import get_spark
        from odibi_spark.catalog import Catalog

        cat = Catalog(get_spark("odibi_spark_system"), args.root)
        if args.action == "cleanup":
            report = cat.cleanup(args.retention_days, dry_run=args.dry_run)
            print(json.dumps(
                {"dry_run": args.dry_run, "tables": report}, indent=2
            ))
            return 0
        if args.action == "rebuild-summaries":
            rebuilt = cat.rebuild_daily_stats()
            print(json.dumps({"daily_stats_rows": rebuilt.count()}))
            return 0
        if args.action == "optimize":
            stats = cat.optimize(
                target_file_bytes=args.target_mb * 1024 * 1024
            )
            print(json.dumps(stats, indent=2))
            return 0
        if not args.target:
            print("sync needs --target", file=sys.stderr)
            return 2
        print(json.dumps(cat.sync_to(args.target), indent=2))
        return 0

    if args.cmd == "secrets":
        import os as _os

        from odibi_spark.plans.loader import collect_env_vars

        if not _os.path.exists(args.pipeline):
            print(f"not found: {args.pipeline}", file=sys.stderr)
            return 2
        names = collect_env_vars(args.pipeline)
        if args.action == "init":
            lines = [
                "# Environment variables referenced by "
                f"{args.pipeline} (and its imports)",
                *[f"{n}=" for n in names],
                "",
            ]
            with open(args.out, "w") as f:
                f.write("\n".join(lines))
            print(f"wrote {args.out} ({len(names)} variable(s))")
            return 0
        missing = [n for n in names if _os.environ.get(n) is None]
        for n in names:
            status = "MISSING" if n in missing else "set"
            print(f"{status}  {n}")
        if missing:
            print(f"{len(missing)} missing of {len(names)}", file=sys.stderr)
            return 1
        print(f"all {len(names)} set")
        return 0

    if args.cmd == "test":
        from odibi_spark import get_spark
        from odibi_spark.plans.datatests import run_data_tests

        spark = get_spark("odibi_spark_test")
        summary = run_data_tests(
            spark, args.path, update_snapshots=args.snapshot
        )
        if args.as_json:
            print(json.dumps(
                {
                    "passed": summary.passed,
                    "failed": summary.failed,
                    "cases": [vars(c) for c in summary.cases],
                },
                indent=2,
            ))
        else:
            for c in summary.cases:
                mark = "ok  " if c.ok else "FAIL"
                line = f"{mark}  {c.name}  ({c.file})"
                if c.message:
                    line += f" — {c.message.splitlines()[0]}"
                print(line)
            print(f"{summary.passed} passed, {summary.failed} failed")
        return 0 if summary.failed == 0 else 1

    if args.cmd in ("discover", "schema", "preview", "profile"):
        from odibi_spark.connections import LocalConnection

        if args.cmd == "discover":
            conn = LocalConnection(args.base_path)
            out = conn.discover_catalog(
                pattern=args.pattern, include_schema=args.schema, limit=args.limit
            )
        else:
            conn = LocalConnection(".")
            if args.cmd == "schema":
                out = conn.get_schema(args.dataset)
            elif args.cmd == "preview":
                out = conn.preview(args.dataset, rows=args.rows)
            else:
                out = conn.profile(args.dataset)
        print(json.dumps(out, indent=2, default=str))
        return 0

    from odibi_spark.plans.config import load_pipeline_yaml

    # a YAML with a top-level `pipelines:` list is a multi-pipeline project
    import os

    import yaml as _yaml

    text = args.pipeline
    if os.path.exists(text):
        with open(text) as f:
            text = f.read()
    try:
        raw = _yaml.safe_load(text)
    except Exception as ex:
        print(f"INVALID: {ex}", file=sys.stderr)
        return 2
    if isinstance(raw, dict) and "pipelines" in raw:
        return _project_main(args)

    try:
        cfg = load_pipeline_yaml(
            args.pipeline, env=getattr(args, "env", None)
        )
    except Exception as ex:
        print(f"INVALID: {ex}", file=sys.stderr)
        return 2

    from odibi_spark.plans.graph import DependencyGraph

    graph = DependencyGraph({n.name: n.depends_on for n in cfg.nodes})

    if args.cmd == "validate":
        print(f"OK: {cfg.name} ({len(cfg.nodes)} nodes)")
        return 0
    if args.cmd == "graph":
        for n in cfg.nodes:
            deps = ", ".join(n.depends_on) or "-"
            print(f"{n.name} <- {deps}")
        return 0
    if args.cmd == "plan":
        for i, layer in enumerate(graph.layers()):
            print(f"layer {i}: {', '.join(layer)}")
        return 0
    if args.cmd == "lineage":
        from odibi_spark.lineage import pipeline_lineage

        print(json.dumps(pipeline_lineage(cfg), indent=2, default=str))
        return 0

    # run
    from odibi_spark import get_spark
    from odibi_spark.plans.pipeline import Pipeline

    spark = get_spark(cfg.name)
    pipe = Pipeline(cfg, spark)
    if getattr(args, "node", None):
        # per-task orchestration entry point: exported Airflow/Dagster
        # tasks call this once per node. --catalog composes (the run is
        # recorded under the pipeline name with this one node's
        # result); --story needs whole-pipeline context and is refused
        # rather than silently ignored (review r7).
        if getattr(args, "story", None):
            print("--story cannot be combined with --node (a story "
                  "covers a full pipeline run)", file=sys.stderr)
            return 2
        import time as _time
        import uuid as _uuid

        t0 = _time.time()
        r = pipe.run_node(args.node)
        if getattr(args, "catalog", None):
            from odibi_spark.catalog import Catalog

            cat = Catalog(spark, args.catalog)
            run_id = str(_uuid.uuid4())
            cat.record_run(
                run_id=run_id, pipeline=cfg.name, results={args.node: r},
                started_at=t0, finished_at=_time.time(),
            )
            metrics = {
                "rows_written": float(r.rows_written or 0),
                "duration_s": float(r.duration_s or 0.0),
            }
            for v in r.validation or []:
                metrics[f"validation.{v.name}.failed_rows"] = float(v.failed_rows)
                metrics[f"validation.{v.name}.passed"] = 1.0 if v.passed else 0.0
            cat.record_metrics(
                run_id=run_id, pipeline=cfg.name, node=args.node,
                metrics=metrics,
            )
            print(f"run_id: {run_id}")
        print(json.dumps({args.node: r.status, "error": r.error}, indent=2))
        return 0 if r.status == "success" else 1
    if getattr(args, "catalog", None):
        from odibi_spark.catalog import Catalog, run_pipeline_with_catalog

        run_id, results = run_pipeline_with_catalog(
            pipe, catalog=Catalog(spark, args.catalog), parallel=args.parallel
        )
        print(f"run_id: {run_id}")
    else:
        results = pipe.run(parallel=args.parallel)
    story_cfg = cfg.story
    story_path = getattr(args, "story", None) or (story_cfg.path if story_cfg else None)
    if story_path:
        from odibi_spark.lineage import render_story

        render_story(
            cfg, results, path=story_path, context=pipe.context,
            sample_rows=story_cfg.sample_rows if story_cfg else 5,
        )
        print(f"story: {story_path}")
    if story_cfg and story_cfg.docs and story_cfg.docs.enabled:
        from odibi_spark.story_docs import DocGenerator, DocsConfig

        d = story_cfg.docs
        arts = DocGenerator(DocsConfig(
            output_path=d.output_path,
            readme=d.outputs.readme,
            technical_details=d.outputs.technical_details,
            node_cards=d.outputs.node_cards,
            run_history=d.outputs.run_memo,
            max_history=d.max_history,
            project=d.project,
        )).generate(
            cfg, results, context=pipe.context,
            story_html_path=story_path,
            sample_rows=story_cfg.sample_rows,
        )
        print(f"docs: {len(arts)} artifacts -> {d.output_path}")
    summary = {k: v.status for k, v in results.items()}
    print(json.dumps(summary, indent=2))
    return 0 if all(s == "success" for s in summary.values()) else 1


def _project_main(args) -> int:
    from odibi_spark.plans.project import Project, load_project_yaml

    try:
        # the path (not pre-read text) goes to the loader so relative
        # imports: and env.<env>.yaml resolve against the file's dir
        cfg = load_project_yaml(
            args.pipeline, env=getattr(args, "env", None)
        )
    except Exception as ex:
        print(f"INVALID: {ex}", file=sys.stderr)
        return 2
    if args.cmd == "validate":
        n = sum(len(p.nodes) for p in cfg.pipelines)
        print(f"OK: {cfg.name} ({len(cfg.pipelines)} pipelines, {n} nodes)")
        return 0
    if args.cmd == "graph":
        for p in cfg.pipelines:
            for node in p.nodes:
                deps = ", ".join(node.depends_on) or "-"
                print(f"{p.name}.{node.name} <- {deps}")
        return 0

    if args.cmd == "plan":
        # Project.__init__ only builds the DAG — no session needed
        for i, pname in enumerate(Project(cfg, None).plan()):
            print(f"stage {i}: {pname}")
        return 0
    if args.cmd == "lineage":
        from odibi_spark.lineage import pipeline_lineage

        out = {p.name: pipeline_lineage(p) for p in cfg.pipelines}
        print(json.dumps(out, indent=2, default=str))
        return 0

    from odibi_spark import get_spark

    proj = Project(cfg, get_spark(cfg.name))
    all_results = proj.run(parallel=args.parallel)
    summary = {
        p: {k: v.status for k, v in results.items()}
        for p, results in all_results.items()
    }
    print(json.dumps(summary, indent=2))
    ok = all(
        s == "success" for results in summary.values() for s in results.values()
    )
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
