"""Markdown documentation generator — project docs aggregated across pipelines.

Reference parity: ``odibi/story/doc_generator.py`` (DocGenerator.generate
:243-320 — README.md / TECHNICAL_DETAILS.md / node_cards on *successful*
runs only, RUN_HISTORY.md prepended on every run, ``.pipelines.json``
aggregation state shared by all pipelines in a project; mermaid DAG
:1412-1443; node cards :758-842). The reference renders from its
PipelineStoryMetadata capture layer; this twin renders directly from what
the engine already produces — ``PipelineConfig`` + the
``dict[str, NodeResult]`` returned by ``Pipeline.run()`` (plans/node.py:45)
and, optionally, the pipeline ``Context`` for output schemas and sample
rows — so there is no second metadata-capture pass over the data.

Everything here is driver-side string rendering over O(nodes) metadata;
the only Spark touch is the optional ``context`` schema/sample peek
(``limit(n)`` collect, bounded). State writes go through a temp-file +
``os.replace`` so concurrent pipelines in one project cannot interleave a
partial ``.pipelines.json`` (readers see the old file or the new one whole).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Callable


@dataclass
class DocsConfig:
    """Which artifacts to emit (reference DocsConfig: odibi/config.py).

    ``output_path`` is relative to ``workspace_root`` unless absolute.
    """

    enabled: bool = True
    output_path: str = "docs/generated"
    readme: bool = True
    technical_details: bool = True
    node_cards: bool = True
    run_history: bool = True
    max_history: int = 50          # RUN_HISTORY.md entries kept (newest first)
    project: str | None = None     # project title on README.md


def _utc(ts: float | None = None) -> str:
    return time.strftime("%Y-%m-%d %H:%M:%S UTC", time.gmtime(ts))


def _md_escape(s: str) -> str:
    return str(s).replace("|", "\\|").replace("\n", " ")


class DocGenerator:
    """Render markdown docs from a pipeline run.

    Example::

        gen = DocGenerator(DocsConfig(project="Sales"), workspace_root="/proj")
        gen.generate(config, results, context=pipe.context)
    """

    def __init__(
        self,
        config: DocsConfig | None = None,
        *,
        workspace_root: str | None = None,
        write_file: Callable[[str, str], None] | None = None,
        read_file: Callable[[str], str | None] | None = None,
    ):
        self.config = config or DocsConfig()
        root = Path(workspace_root) if workspace_root else Path.cwd()
        p = Path(self.config.output_path)
        self.output_path = p if p.is_absolute() else root / p
        # Injectable IO seam (reference write_file callback — doc_generator.py:300
        # class init) so remote/cloud targets plug in without fsspec here.
        self._write_cb = write_file
        self._read_cb = read_file

    # -- IO ---------------------------------------------------------------

    def _write(self, path: str, content: str) -> None:
        if self._write_cb is not None:
            self._write_cb(path, content)
            return
        p = Path(path)
        p.parent.mkdir(parents=True, exist_ok=True)
        tmp = p.with_name(f".{p.name}.{os.getpid()}.tmp")
        tmp.write_text(content)
        os.replace(tmp, p)  # atomic: readers never see a torn file

    def _read(self, path: str) -> str | None:
        if self._read_cb is not None:
            return self._read_cb(path)
        p = Path(path)
        return p.read_text() if p.exists() else None

    # -- state ------------------------------------------------------------

    def _state_path(self) -> str:
        return str(self.output_path / ".pipelines.json")

    def _update_state(self, pipeline, results, story_link: str | None) -> dict:
        raw = self._read(self._state_path())
        try:
            state = json.loads(raw) if raw else {}
        except json.JSONDecodeError:
            state = {}  # recover from a corrupt state file rather than fail the run
        state.setdefault("pipelines", {})
        if self.config.project:
            state["project"] = self.config.project
        statuses = [r.status for r in results.values()]
        state["pipelines"][pipeline.name] = {
            "last_run_utc": _utc(),
            "status": "failed" if "failed" in statuses else "success",
            "nodes": len(pipeline.nodes),
            "failed_nodes": statuses.count("failed"),
            "rows_written": sum(r.rows_written or 0 for r in results.values()),
            "duration_s": round(sum(r.duration_s or 0 for r in results.values()), 3),
            "story": story_link,
        }
        self._write(self._state_path(), json.dumps(state, indent=2, sort_keys=True))
        return state

    # -- public -----------------------------------------------------------

    def generate(
        self,
        pipeline,                      # PipelineConfig
        results: dict[str, Any],       # name -> NodeResult
        *,
        context=None,                  # optional run Context for schemas/samples
        story_html_path: str | None = None,
        sample_rows: int = 5,
    ) -> dict[str, str]:
        """Write the configured artifacts; return artifact -> path.

        Project-level docs (README / TECHNICAL_DETAILS / node cards) update
        only when every node succeeded; RUN_HISTORY records every run
        (reference doc_generator.py:277-310).
        """
        if not self.config.enabled:
            return {}
        out = self.output_path
        generated: dict[str, str] = {}
        state = self._update_state(pipeline, results, story_html_path)
        is_success = all(r.status != "failed" for r in results.values())

        if is_success:
            if self.config.readme:
                path = str(out / "README.md")
                self._write(path, self._render_readme(pipeline, results, state))
                generated["readme"] = path
            if self.config.technical_details:
                path = str(out / "TECHNICAL_DETAILS.md")
                self._write(path, self._render_technical(pipeline, results, state))
                generated["technical_details"] = path
            if self.config.node_cards:
                for n in pipeline.nodes:
                    path = str(out / "node_cards" / pipeline.name / f"{n.name}.md")
                    self._write(
                        path,
                        self._render_node_card(
                            pipeline, n, results.get(n.name), context, sample_rows
                        ),
                    )
                    generated[f"node_card:{n.name}"] = path
        if self.config.run_history:
            path = str(out / "RUN_HISTORY.md")
            self._write(path, self._prepend_history(path, pipeline, results, story_html_path))
            generated["run_history"] = path
        return generated

    # -- renderers --------------------------------------------------------

    def _render_readme(self, pipeline, results, state: dict) -> str:
        project = state.get("project") or "Data Project"
        lines = [f"# {project}", "", f"_Updated {_utc()}_", "", "## Pipelines", ""]
        lines += [
            "| Pipeline | Status | Nodes | Rows written | Duration | Last run | Story |",
            "|---|---|---|---|---|---|---|",
        ]
        for name in sorted(state.get("pipelines", {})):
            p = state["pipelines"][name]
            mark = "✅" if p["status"] == "success" else "❌"
            story = f"[story]({p['story']})" if p.get("story") else "—"
            lines.append(
                f"| {name} | {mark} {p['status']} | {p['nodes']} "
                f"| {p['rows_written']:,} | {p['duration_s']:.2f}s "
                f"| {p['last_run_utc']} | {story} |"
            )
        statuses = [r.status for r in results.values()]
        lines += [
            "",
            f"## Latest run — {pipeline.name}",
            "",
            "| Metric | Value |",
            "|---|---|",
            f"| Succeeded | {statuses.count('success')} |",
            f"| Failed | {statuses.count('failed')} |",
            f"| Skipped | {statuses.count('skipped')} |",
            f"| Rows written | {sum(r.rows_written or 0 for r in results.values()):,} |",
            f"| Duration | {sum(r.duration_s or 0 for r in results.values()):.2f}s |",
            "",
        ]
        return "\n".join(lines)

    def _render_mermaid(self, pipeline) -> list[str]:
        """Mermaid DAG block (reference _render_mermaid_dag :1412)."""
        lines = ["```mermaid", "graph TD"]
        for n in pipeline.nodes:
            shape = f'{n.name}["{n.name}"]'
            lines.append(f"    {shape}")
            for dep in n.depends_on:
                lines.append(f"    {dep} --> {n.name}")
        lines.append("```")
        return lines

    def _node_io(self, n) -> tuple[str, str]:
        if n.read is not None:
            src = n.read.path or n.read.table or n.read.format
        else:
            src = ", ".join(n.depends_on) or "—"
        dst = (n.write.path or n.write.table) if n.write else "—"
        return str(src), str(dst or "—")

    def _render_technical(self, pipeline, results, state: dict) -> str:
        lines = [
            "# Technical details",
            "",
            f"_Updated {_utc()}_",
            "",
            f"## {pipeline.name}",
            "",
        ]
        lines += self._render_mermaid(pipeline)
        lines += [
            "",
            "| Node | Status | Duration | Rows | Source | Transforms | Target | Validation |",
            "|---|---|---|---|---|---|---|---|",
        ]
        for n in pipeline.nodes:
            r = results.get(n.name)
            src, dst = self._node_io(n)
            steps = ", ".join((s.function or "sql") for s in n.transform) or "—"
            tests = list(getattr(r, "validation", None) or [])
            vcell = (
                f"{sum(1 for t in tests if t.passed)}/{len(tests)} pass" if tests else "—"
            )
            dur = f"{r.duration_s:.2f}s" if r and r.duration_s is not None else "—"
            rows = f"{r.rows_written:,}" if r and r.rows_written is not None else "—"
            lines.append(
                f"| {n.name} | {r.status if r else '?'} | {dur} | {rows} "
                f"| {_md_escape(src)} | {_md_escape(steps)} | {_md_escape(dst)} | {vcell} |"
            )
        lines += ["", "### Lineage", "", "```json"]
        from odibi_spark.lineage import pipeline_lineage

        lines.append(json.dumps(pipeline_lineage(pipeline), indent=2, default=str))
        lines += ["```", ""]
        return "\n".join(lines)

    def _render_node_card(self, pipeline, n, r, context, sample_rows: int) -> str:
        src, dst = self._node_io(n)
        lines = [
            f"# {pipeline.name} / {n.name}",
            "",
            f"- **Status:** {r.status if r else '?'}",
            f"- **Duration:** {f'{r.duration_s:.2f}s' if r and r.duration_s is not None else '—'}",
            f"- **Rows written:** {f'{r.rows_written:,}' if r and r.rows_written is not None else '—'}",
            f"- **Source:** `{src}`",
            f"- **Target:** `{dst}`",
            "",
        ]
        if n.transform:
            lines += ["## Transform steps", ""]
            for i, s in enumerate(n.transform, 1):
                desc = s.function or "sql"
                params = getattr(s, "params", None) or {}
                plist = ", ".join(f"{k}={v!r}" for k, v in list(params.items())[:6])
                lines.append(f"{i}. `{desc}`" + (f" — {plist}" if plist else ""))
            lines.append("")
        tests = list(getattr(r, "validation", None) or [])
        if tests:
            lines += [
                "## Validation",
                "",
                "| Test | Type | Failed rows | Total | Passed |",
                "|---|---|---|---|---|",
            ]
            for t in tests:
                lines.append(
                    f"| {t.name} | {t.test_type} | {t.failed_rows:,} "
                    f"| {t.total_rows:,} | {'✓' if t.passed else '✗'} |"
                )
            lines.append("")
        if r and r.error:
            lines += ["## Error", "", "```", str(r.error), "```", ""]
        if context is not None:
            try:
                df = context.get(n.name)
            except Exception:
                df = None
            if df is not None:
                lines += ["## Output schema", ""]
                lines += [f"- `{f_.name}`: {f_.dataType.simpleString()}" for f_ in df.schema.fields]
                lines.append("")
                if sample_rows > 0:
                    rows = df.limit(sample_rows).collect()
                    if rows:
                        cols = df.columns
                        lines += [
                            "## Sample",
                            "",
                            "| " + " | ".join(cols) + " |",
                            "|" + "---|" * len(cols),
                        ]
                        for row in rows:
                            lines.append(
                                "| "
                                + " | ".join(_md_escape(str(row[c]))[:80] for c in cols)
                                + " |"
                            )
                        lines.append("")
        return "\n".join(lines)

    def _prepend_history(self, path: str, pipeline, results, story_link: str | None) -> str:
        """New memo first; keep at most ``max_history`` entries
        (reference: RUN_HISTORY.md consolidated memos, newest first)."""
        statuses = [r.status for r in results.values()]
        failed = [name for name, r in results.items() if r.status == "failed"]
        memo = [
            f"## {pipeline.name} — {_utc()}",
            "",
            f"- Result: {'❌ FAILED' if failed else '✅ success'}"
            f" ({statuses.count('success')} ok, {len(failed)} failed,"
            f" {statuses.count('skipped')} skipped)",
            f"- Rows written: {sum(r.rows_written or 0 for r in results.values()):,}",
            f"- Duration: {sum(r.duration_s or 0 for r in results.values()):.2f}s",
        ]
        if failed:
            memo.append(f"- Failed nodes: {', '.join(failed)}")
            for name in failed:
                err = results[name].error
                if err:
                    memo.append(f"  - `{name}`: {_md_escape(str(err))[:300]}")
        if story_link:
            memo.append(f"- [Story]({story_link})")
        memo.append("")

        existing = self._read(path) or "# Run history\n"
        parts = existing.split("\n## ")
        head, old = parts[0], ["## " + p.rstrip() + "\n" for p in parts[1:]]
        entries = (["\n".join(memo)] + old)[: self.config.max_history]
        return head.rstrip() + "\n\n" + "\n".join(entries)
