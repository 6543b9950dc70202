"""Query inventory (driver contract).

Every implemented capability from SURVEY.md §2 registers here as a named
workload: a Spark callable ``(spark, sf_dir) -> DataFrame`` plus (where
SQL-expressible) an equivalent DuckDB oracle SQL string. ``__spark_entry__``
exposes this registry to the driver.

Float-parity rule (applies to every workload): float aggregates are computed
via EXACT integer/decimal accumulation and converted to double with the same
arithmetic expression on both the Spark and DuckDB side, so value hashes
match bit-for-bit regardless of accumulation order.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Workload:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, Workload] = {}


def workload(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator registering a workload under ``name``."""

    def deco(fn):
        REGISTRY[name] = Workload(name=name, fn=fn, oracle=oracle, tags=tags)
        return fn

    return deco


# Ordered so the modules whose queries had never been driver-verified before
# r03 (request/asof/sessionize/pipeline_sql/sinks/datagen/multimodal) register
# FIRST: the driver's correctness gate reads the registry in order, so if the
# registry ever grows past the gate window again, the historically-verified
# relational/window/ml/streaming queries are the ones that fall out last.
_MODULES = [
    "volga_spark.workloads.request",
    "volga_spark.workloads.asof",
    "volga_spark.workloads.sessionize",
    "volga_spark.workloads.pipeline_sql",
    "volga_spark.workloads.sinks",
    "volga_spark.workloads.datagen",
    "volga_spark.workloads.multimodal",
    "volga_spark.workloads.text",
    "volga_spark.workloads.retrieval",
    "volga_spark.workloads.packing",
    "volga_spark.workloads.curation",
    "volga_spark.workloads.conversations",
    "volga_spark.workloads.dedup",
    "volga_spark.workloads.similarity",
    "volga_spark.workloads.relational",
    "volga_spark.workloads.window",
    "volga_spark.workloads.ml_udafs",
    "volga_spark.workloads.streaming",
]


def load_all() -> dict[str, Workload]:
    """Import every workload module (idempotent) and return the registry."""
    for mod in _MODULES:
        importlib.import_module(mod)
    return REGISTRY
