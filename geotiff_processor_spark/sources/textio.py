"""Text source formats: JSONL and CSV schema-on-read paths.

Crawl-adjacent corpora arrive as JSON-lines and CSV at least as often
as parquet; these helpers stage the canonical pages table in both
formats (through ``synth.stage``, keyed on the events content) and read
them back with EXPLICIT schemas — schema inference is a scale
anti-pattern (it double-scans the input), so the read path pins
``.schema(...)`` + FAILFAST, the posture a production ingest runs with.
The round trip must be lossless: the differential oracle recomputes the
aggregates straight from the pages formulas, so any quoting/escaping/
timestamp-format bug in either direction breaks the hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .synth import build_pages_staged, stage

TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
PAGES_DDL = "url string, warc_ts timestamp, text string, lang string"


def _stage_text(spark: SparkSession, sf_dir: str, fmt: str) -> str:
    """Write pages once per input as JSONL or CSV; returns the staged
    path (``synth.stage``)."""
    def write(tmp: str) -> None:
        w = (build_pages_staged(spark, sf_dir, with_html=False)
             .repartition(8).write.mode("overwrite")
             .option("timestampFormat", TS_FMT))
        if fmt == "jsonl":
            w.json(tmp)
        else:
            w.option("header", "true").option("quoteAll", "true").csv(tmp)

    return stage(spark, sf_dir, f"textio_{fmt}", "v2", write)


def read_pages_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _stage_text(spark, sf_dir, "jsonl")
    return (spark.read.schema(PAGES_DDL)
            .option("timestampFormat", TS_FMT)
            .option("mode", "FAILFAST")
            .json(path))


def read_pages_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _stage_text(spark, sf_dir, "csv")
    return (spark.read.schema(PAGES_DDL)
            .option("header", "true")
            .option("timestampFormat", TS_FMT)
            .option("mode", "FAILFAST")
            .csv(path))


def pages_digest(pages: DataFrame) -> DataFrame:
    """Loss-detection rollup: per-lang count, total text bytes, url md5
    xor-surrogate (sum of 60-bit md5 prefixes) and the max timestamp —
    any field the format layer mangles shows up here."""
    from ..operators.dedup import sql_hash60

    # % 1e9+7 keeps the SUM inside bigint under ANSI at any row count
    h_url = f"({sql_hash60('url')} % 1000000007)"
    h_ts = f"({sql_hash60('cast(warc_ts as string)')} % 1000000007)"
    return (pages.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.sum(F.length("text")).alias("n_text_chars"),
        F.sum(F.expr(h_url)).alias("url_hash_sum"),
        F.sum(F.expr(h_ts)).alias("ts_hash_sum"),
    ))
