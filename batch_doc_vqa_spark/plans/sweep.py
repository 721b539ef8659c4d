"""Param sweep (X11): axis specs → Cartesian condition grid → per-condition
runs, aggregated per condition (A17).

Mirrors the reference's sweep semantics
(/root/reference/src/batch_doc_vqa/openrouter/param_sweep.py:93-224):
``parse_sweep_axis`` normalizes names (lower, - → _), dedups values
order-preserving, rejects empty/duplicate axes; ``build_condition_grid`` is
the Cartesian product in axis order. Spark-first: the grid is a DataFrame
(crossJoin of single-column literal frames), each condition's label and
content hash are columns, and a sweep over a distributed job is a driver
loop over grid rows where each run's lineage carries its config_hash (X10)
so conditions stay distinguishable forever.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass
from functools import reduce
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class SweepAxis:
    name: str
    values: tuple[Any, ...]


def _coerce(token: str) -> Any:
    try:
        return int(token)
    except ValueError:
        pass
    try:
        return float(token)
    except ValueError:
        return token


def parse_sweep_axis(raw_spec: str) -> SweepAxis:
    """'temperature=0,0.4,1' → SweepAxis('temperature', (0, 0.4, 1))."""
    if "=" not in raw_spec:
        raise ValueError(f"Invalid sweep spec {raw_spec!r}. Expected <param>=v1,v2,...")
    key_raw, values_raw = raw_spec.split("=", 1)
    key = key_raw.strip().lower().replace("-", "_")
    values: list[Any] = []
    seen: set[Any] = set()
    for chunk in values_raw.split(","):
        token = chunk.strip()
        if not token:
            continue
        v = _coerce(token)
        if v in seen:
            continue
        seen.add(v)
        values.append(v)
    if not values:
        raise ValueError(f"Sweep param {key!r} has no valid values.")
    return SweepAxis(name=key, values=tuple(values))


def build_sweep_axes(set_specs: list[str]) -> list[SweepAxis]:
    axes = [parse_sweep_axis(s) for s in set_specs]
    seen: set[str] = set()
    for a in axes:
        if a.name in seen:
            raise ValueError(f"Duplicate sweep axis for {a.name!r}.")
        seen.add(a.name)
    if not axes:
        raise ValueError("No sweep parameters were provided.")
    return axes


def build_condition_grid(axes: list[SweepAxis]) -> list[dict[str, Any]]:
    """Cartesian product in axis order (reference build_condition_grid)."""
    if not axes:
        return [{}]
    names = [a.name for a in axes]
    return [dict(zip(names, combo)) for combo in itertools.product(*(a.values for a in axes))]


def _axis_df(spark: SparkSession, axis: SweepAxis) -> DataFrame:
    dtype = (
        "double"
        if any(isinstance(v, float) for v in axis.values)
        else ("long" if all(isinstance(v, int) for v in axis.values) else "string")
    )
    cast = {"double": float, "long": int, "string": str}[dtype]
    # a pandas frame is a local scan; a list of tuples runs Python-RDD tasks
    vals = pd.DataFrame({axis.name: [cast(v) for v in axis.values]})
    return spark.createDataFrame(vals, f"{axis.name} {dtype}")


def condition_grid_df(spark: SparkSession, axes: list[SweepAxis]) -> DataFrame:
    """The grid as a DataFrame: one row per condition, plus label + hash.

    Tiny by construction (axes are human-enumerated) — crossJoins of 1-column
    literal frames never shuffle; label/hash columns make conditions joinable
    against lineage config hashes.
    """
    grid = reduce(lambda a, b: a.crossJoin(b), (_axis_df(spark, a) for a in axes))
    label = F.concat_ws(
        ", ", *[F.concat(F.lit(f"{a.name}="), F.col(a.name).cast("string")) for a in axes]
    )
    return grid.withColumn("condition_label", label).withColumn(
        "condition_hash", F.sha2(label, 256)
    )


def run_sweep(spark: SparkSession, axes: list[SweepAxis], runner, trials: int = 1) -> DataFrame:
    """Driver loop over conditions × trials; ``runner(condition, trial) ->
    dict`` of scalar metrics. Returns one row per run with condition columns —
    aggregate with a plain groupBy (A17). The loop is over the *grid* (tiny),
    never over data rows."""
    rows = []
    for cond in build_condition_grid(axes):
        for t in range(trials):
            rows.append({**cond, "trial": t, **runner(cond, t)})
    return spark.createDataFrame(rows)
