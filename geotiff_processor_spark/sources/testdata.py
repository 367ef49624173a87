"""Readers for the driver-generated parquet tables (TESTDATA.md).

Columnar parquet scans — Catalyst pushes filters/projections into the
scan (``PushedFilters`` / ``ReadSchema``); never read columns you don't
need. Reference analog: directory scan + extension predicate,
``/root/reference/process.py:95-102``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
