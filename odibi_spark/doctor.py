"""Environment diagnostics (reference: odibi/doctor.py, CLI
odibi/cli/main.py:182-270). Pure driver-side introspection — no
SparkSession is started; checks answer "will a pipeline run here, and
which optional capabilities are live?"."""

from __future__ import annotations

import importlib
import os
import platform
import sys
from typing import Any

# (module, why it matters, required?)
_PACKAGES = [
    ("pyspark", "execution engine", True),
    ("pyarrow", "Arrow transfer for pandas UDFs / excel bridge", True),
    ("pandas", "driver-side bridges (excel, simulation specs)", True),
    ("numpy", "vector math (ANN, simulation)", True),
    ("duckdb", "differential oracle in tests", False),
    ("yaml", "pipeline YAML configs", True),
    ("pydantic", "typed config validation", True),
    ("delta", "Delta MERGE/OPTIMIZE/VACUUM fast paths", False),
    ("openpyxl", "excel source (pure-Python xlsx fallback used when absent)", False),
]


def _pkg_version(mod) -> str:
    for attr in ("__version__", "version", "VERSION"):
        v = getattr(mod, attr, None)
        if isinstance(v, str):
            return v
    return "present"


def doctor(pipeline_yaml: str | None = None) -> dict[str, Any]:
    """Collect environment status. Returns a JSON-safe dict with
    ``status`` ('healthy' | 'degraded'), package/environment tables,
    and actionable ``issues`` (each with a ``fix``)."""
    issues: list[dict[str, str]] = []
    packages: dict[str, str] = {}
    for name, why, required in _PACKAGES:
        try:
            packages[name] = _pkg_version(importlib.import_module(name))
        except ImportError:
            packages[name] = "MISSING"
            issues.append(
                {
                    "severity": "error" if required else "info",
                    "message": f"package '{name}' not importable ({why})",
                    "fix": f"pip install {name}"
                    + ("" if required else " (optional — feature stays gated)"),
                }
            )

    java_home = os.environ.get("JAVA_HOME", "")
    env = {
        "JAVA_HOME": java_home or "(unset)",
        "SPARK_GRAFT_SF_DIR": os.environ.get("SPARK_GRAFT_SF_DIR", "(unset)"),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS", "(unset)"),
    }
    if not java_home:
        issues.append(
            {
                "severity": "error",
                "message": "JAVA_HOME is not set — Spark cannot launch a JVM",
                "fix": "export JAVA_HOME=/path/to/java17",
            }
        )
    elif not os.path.isdir(java_home):
        issues.append(
            {
                "severity": "error",
                "message": f"JAVA_HOME points at a missing directory: {java_home}",
                "fix": "point JAVA_HOME at a Java 17+ installation",
            }
        )

    out: dict[str, Any] = {
        "python_version": platform.python_version(),
        "executable": sys.executable,
        "packages": packages,
        "environment": env,
        # which implementation each gated capability resolves to here
        "capabilities": {
            "xlsx_reader": (
                "pandas+openpyxl" if packages.get("openpyxl") not in (None, "MISSING")
                else "pure-python (io.xlsx)"
            ),
            "delta_paths": (
                "executed" if packages.get("delta") not in (None, "MISSING")
                else "gated (call shapes contract-tested; needs delta-spark)"
            ),
            "avro_read": "gated (needs spark-avro jar; call shape contract-tested)",
        },
        "issues": issues,
        "project_loaded": False,
    }

    if pipeline_yaml:
        try:
            from odibi_spark.plans.config import load_pipeline_yaml

            cfg = load_pipeline_yaml(pipeline_yaml)
            out["project_loaded"] = True
            out["pipeline"] = {
                "name": cfg.name,
                "nodes": len(cfg.nodes),
                "connections": sorted(cfg.connections),
                "alerts": len(cfg.alerts),
            }
        except Exception as ex:
            issues.append(
                {
                    "severity": "error",
                    "message": f"pipeline YAML failed to load: {ex}",
                    "fix": "run 'odibi_spark validate <yaml>' for the full parse error",
                }
            )

    out["status"] = (
        "degraded" if any(i["severity"] == "error" for i in issues) else "healthy"
    )
    return out


def diagnose_path(path: str) -> dict[str, Any]:
    """Diagnose one filesystem path (reference cmd_doctor_path
    cli/main.py:230-270): existence, kind, permissions, format guess,
    directory contents."""
    out: dict[str, Any] = {
        "input_path": path,
        "resolved_path": os.path.abspath(path),
        "exists": os.path.exists(path),
        "is_file": os.path.isfile(path),
        "is_directory": os.path.isdir(path),
    }
    if "://" in path:
        out["note"] = (
            "remote URI — local os checks do not apply; probe with "
            "spark.read or the Hadoop FileSystem API"
        )
        out["exists"] = None
        return out
    if not out["exists"]:
        return out
    out["readable"] = os.access(path, os.R_OK)
    out["writable"] = os.access(path, os.W_OK)
    if out["is_file"]:
        out["size"] = os.path.getsize(path)
        ext = os.path.splitext(path)[1].lstrip(".").lower()
        out["format"] = ext or "unknown"
    if out["is_directory"]:
        entries = sorted(os.listdir(path))[:50]
        out["contents"] = [
            {
                "name": e,
                "is_dir": os.path.isdir(os.path.join(path, e)),
                **(
                    {"size": os.path.getsize(os.path.join(path, e))}
                    if os.path.isfile(os.path.join(path, e))
                    else {}
                ),
            }
            for e in entries
        ]
        # parquet dataset heuristic
        if any(e.endswith(".parquet") for e in entries) or {"_SUCCESS", "_log"} & set(entries):
            out["format"] = "parquet dataset"
    return out
