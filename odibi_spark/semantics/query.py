"""Semantic query language: ``"metric1, metric2 BY dim1, dim2 WHERE
cond"`` -> one GROUP BY SQL statement (reference: odibi/semantics/
query.py:79-290 — parse :79-119, validate :121-146, SQL gen :148-231,
derived-metric inlining + NULLIF divisor guard :233-290).

The reference inlines components with string replacement, which has
name-prefix collision pitfalls (SURVEY §7.3); here substitution is
token-aware (regex word boundaries over sorted-longest-first names).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from odibi_spark.io.write import write_sink
from odibi_spark.semantics.metrics import SemanticModel

_QUERY_RE = re.compile(
    r"^\s*(?P<metrics>.+?)"
    r"(?:\s+BY\s+(?P<dims>.+?))?"
    r"(?:\s+WHERE\s+(?P<where>.+?))?\s*$",
    re.IGNORECASE | re.DOTALL,
)


@dataclass
class ParsedQuery:
    metrics: list[str]
    dimensions: list[str]
    where: str | None


class SemanticQuery:
    def __init__(self, model: SemanticModel):
        self.model = model

    def parse(self, query: str) -> ParsedQuery:
        m = _QUERY_RE.match(query)
        if not m:
            raise ValueError(f"cannot parse semantic query: {query!r}")
        metrics = [s.strip() for s in m.group("metrics").split(",") if s.strip()]
        dims = [
            s.strip() for s in (m.group("dims") or "").split(",") if s.strip()
        ]
        return ParsedQuery(metrics=metrics, dimensions=dims, where=m.group("where"))

    def validate(self, q: ParsedQuery) -> None:
        unknown_m = [m for m in q.metrics if m not in self.model.metrics]
        if unknown_m:
            known = ", ".join(sorted(self.model.metrics))
            raise ValueError(f"unknown metrics {unknown_m}; known: {known}")
        unknown_d = [d for d in q.dimensions if d not in self.model.dimensions]
        if unknown_d:
            known = ", ".join(sorted(self.model.dimensions))
            raise ValueError(f"unknown dimensions {unknown_d}; known: {known}")

    def _metric_sql(self, name: str) -> str:
        metric = self.model.metrics[name]
        if metric.expr:
            return metric.expr
        # derived: substitute component metric names token-wise,
        # longest-first so 'revenue_net' never matches inside 'revenue'
        formula = metric.formula
        names = sorted(self.model.metrics, key=len, reverse=True)
        for comp in names:
            if comp == name:
                continue
            comp_m = self.model.metrics[comp]
            if comp_m.expr:
                formula = re.sub(rf"\b{re.escape(comp)}\b", f"({comp_m.expr})", formula)
        # guard every divisor: x / y -> x / NULLIF(y, 0)
        formula = _nullif_divisors(formula)
        return formula

    def to_sql(self, query: str) -> str:
        q = self.parse(query)
        self.validate(q)
        dim_selects = [
            f"{self.model.dimensions[d].sql()} AS {d}" for d in q.dimensions
        ]
        met_selects = [f"{self._metric_sql(m)} AS {m}" for m in q.metrics]
        sql = "SELECT " + ", ".join(dim_selects + met_selects)
        sql += f" FROM {self.model.source}"
        if q.where:
            sql += f" WHERE {q.where}"
        if q.dimensions:
            group = ", ".join(str(i + 1) for i in range(len(q.dimensions)))
            sql += f" GROUP BY {group}"
        return sql

    def execute(self, spark: SparkSession, query: str) -> DataFrame:
        return spark.sql(self.to_sql(query))

    def materialize(
        self, spark: SparkSession, query: str, *, path: str, mode: str = "overwrite"
    ) -> DataFrame:
        """Reference materializer (odibi/semantics/materialize.py:37-219):
        run the semantic query and persist it as one ``write_sink``
        commit, so a plan that fails leaves the previous rows."""
        write_sink(self.execute(spark, query), path=path, mode=mode)
        return spark.read.parquet(path)

    def create_view(self, spark: SparkSession, query: str, *, view_name: str) -> None:
        """Reference views renderer (odibi/semantics/views.py)."""
        spark.sql(f"CREATE OR REPLACE TEMP VIEW {view_name} AS {self.to_sql(query)}")


def _nullif_divisors(expr: str) -> str:
    """Wrap the right operand of every ``/`` in NULLIF(x, 0).

    Handles parenthesized operands and simple tokens; mirrors the
    reference's divide-by-zero guard (query.py:266+).
    """
    out = []
    i = 0
    while i < len(expr):
        ch = expr[i]
        if ch == "/":
            j = i + 1
            while j < len(expr) and expr[j] == " ":
                j += 1
            if j < len(expr) and expr[j] == "(":
                depth = 0
                k = j
                while k < len(expr):
                    if expr[k] == "(":
                        depth += 1
                    elif expr[k] == ")":
                        depth -= 1
                        if depth == 0:
                            break
                    k += 1
                operand = expr[j : k + 1]
                out.append(f"/ NULLIF({operand}, 0)")
                i = k + 1
                continue
            else:
                k = j
                while k < len(expr) and (expr[k].isalnum() or expr[k] in "._"):
                    k += 1
                operand = expr[j:k]
                out.append(f"/ NULLIF({operand}, 0)")
                i = k
                continue
        out.append(ch)
        i += 1
    return "".join(out)
