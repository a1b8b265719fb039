"""Kibana-equivalent dashboard layer (SURVEY stage 4, README.md:164-196
of the reference): the reference's charts are date-histogram / terms /
metric aggregations over the ES index — here each panel spec compiles to
a DataFrame plan over the SOURCE tables, so the same visuals run without
an ES cluster and inherit Catalyst pushdown/pruning.

A panel spec is a plain dict:
    {"kind": "date_histogram", "ts": "ts", "interval": "hour",
     "split": "room", "metrics": {"avg_temp": F.avg("temp")}}
    {"kind": "terms", "key": "room", "k": 10}
    {"kind": "metric", "metrics": {"n": F.count("*")}}
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from . import relational


def build_panel(df: DataFrame, spec: dict) -> DataFrame:
    """Compile one panel spec into a DataFrame plan."""
    kind = spec["kind"]
    if kind == "date_histogram":
        keys = (spec["split"],) if spec.get("split") else ()
        aggs = list(spec["metrics"].values()) if spec.get("metrics") else None
        return relational.date_histogram(
            df, spec["ts"], spec.get("interval", "day"), keys=keys, aggs=aggs
        )
    if kind == "terms":
        aggs = list(spec["metrics"].values()) if spec.get("metrics") else None
        return relational.terms_agg(df, spec["key"], aggs=aggs, k=spec.get("k"))
    if kind == "metric":
        return df.agg(*spec["metrics"].values())
    raise ValueError(f"unknown panel kind: {kind!r}")

