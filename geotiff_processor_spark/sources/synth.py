"""Deterministic synthetic inputs shared by the engine and the oracle.

The authoritative input shape comes from BASELINE.json ``input_hint``:
an Iceberg/parquet table of Common-Crawl-style web pages
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``.
This module synthesizes that table *deterministically from integers*
(row index ``i`` = ``events.event_id`` so row count scales with the sf
directory) using pure integer arithmetic — the same SQL text evaluates
bit-identically in Spark and DuckDB, which is what makes the spatial
operators differential-testable (driver's CORRECTNESS gate).

Geo layout: each page's text embeds its location as integer
milli-degrees (``loc=<lonm>/<latm>``) — the geocode stage extracts them.
5% of pages (i % 20 == 0) land in 3 "hot cities" (urban-skew analog,
north_rule: salting / AQE skew handling), the rest spread uniformly via
a Knuth-multiplicative hash.

Also defined here: the polygon layer (8x8 world grid + 3 hot-city boxes
— overlapping, so multi-membership is exercised), a synthetic
raster-as-table (256x256 DEM+RGB with a nodata hole and -10000
sentinels, FIXTURES.md F3, mirroring /root/reference/process.py:107-120)
and the kNN query points.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import uuid
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# hot cities in integer milli-degrees: Buenos Aires (reference locale),
# Paris, Tokyo
HOT_CITIES = [(-58400, -34600), (2350, 48850), (139770, 35680)]
HOT_BOX_MDEG = 200  # hot polygon half-width: jitter is +-50, so all inside
N_GRID_X, N_GRID_Y = 8, 8
RASTER_SIZE = 256
NO_DATA = -10000.0

# ---------------------------------------------------------------------------
# pages
# ---------------------------------------------------------------------------

_H1 = "((i * 2654435761) % 4294967296)"
_H2 = "((i * 2246822519) % 4294967296)"


def _sql_hot_pick(values: list[int]) -> str:
    v0, v1, v2 = values
    return (
        "(case cast(floor(i / 20) as bigint) % 3 "
        f"when 0 then {v0} when 1 then {v1} else {v2} end)"
    )


SQL_LONM = (
    "(case when i % 20 = 0 then "
    + _sql_hot_pick([c[0] for c in HOT_CITIES])
    + f" + (({_H1} % 100) - 50)"
    + f" else ({_H1} % 360000) - 180000 end)"
)
SQL_LATM = (
    "(case when i % 20 = 0 then "
    + _sql_hot_pick([c[1] for c in HOT_CITIES])
    + f" + (({_H2} % 100) - 50)"
    + f" else ({_H2} % 120000) - 60000 end)"
)
SQL_LANG = (
    "(case i % 4 when 0 then 'es' when 1 then 'en'"
    " when 2 then 'pt' else 'fr' end)"
)
SQL_KIND = "(case when i % 5 = 0 then 'dem' else 'rgb' end)"
SQL_REGISTROID = "cast(floor(i / 10) as bigint)"
SQL_URL = "concat('https://site', i % 1000, '.example/p/', i)"
# text embeds the geocodable location as integers (byte-identical across
# engines; the per-url byte-identical `text` invariant of BASELINE.json)
SQL_TEXT = (
    "concat('Page ', i, ' of registro ', " + SQL_REGISTROID + ", "
    "' kind ', " + SQL_KIND + ", "
    "' loc=', " + SQL_LONM + ", '/', " + SQL_LATM + ", "
    "' lang ', " + SQL_LANG + ", "
    "' the quick brown fox jumps over the lazy dog')"
)

# geocode extraction (runs on the engine side AND in the oracle — the
# pages table itself only carries url/warc_ts/html/text/lang).
# try_cast: a page without a parseable location geocodes to NULL instead
# of aborting the job under Spark 4's default ANSI mode.
# The ORACLE parses with a regexp; the ENGINE hot path uses the
# substring_index form below (~1.5x cheaper per row at local[32], less
# allocation) — tested equivalent row-by-row, and the differential gate
# then compares two INDEPENDENT parsers rather than one shared text.
SQL_GEO_LONM = "try_cast(regexp_extract(text, 'loc=(-?[0-9]+)/(-?[0-9]+)', 1) as bigint)"
SQL_GEO_LATM = "try_cast(regexp_extract(text, 'loc=(-?[0-9]+)/(-?[0-9]+)', 2) as bigint)"
_SQL_LOC_TOKEN = "substring_index(substring_index(text, ' loc=', -1), ' ', 1)"
SQL_GEO_LONM_FAST = (
    f"try_cast(substring_index({_SQL_LOC_TOKEN}, '/', 1) as bigint)")
SQL_GEO_LATM_FAST = (
    f"try_cast(substring_index({_SQL_LOC_TOKEN}, '/', -1) as bigint)")


def sql_warc_ts(dialect: str) -> str:
    if dialect == "duckdb":
        return "(TIMESTAMP '2025-01-01 00:00:00' + i * INTERVAL 1 SECOND)"
    return "(timestamp'2025-01-01 00:00:00' + make_interval(0,0,0,0,0,0,i))"


def pages_cte(dialect: str, source: str = "events") -> str:
    """CTE text producing the canonical pages table from `events`.

    Emits exactly the input_hint columns (html omitted in the oracle —
    binary columns are excluded from value-hash comparisons; the Spark
    builder adds it).
    """
    return f"""
p0 AS (SELECT event_id AS i FROM {source}),
pages AS (
  SELECT
    {SQL_URL} AS url,
    {sql_warc_ts(dialect)} AS warc_ts,
    {SQL_TEXT} AS text,
    {SQL_LANG} AS lang
  FROM p0
)"""


def build_pages(spark: SparkSession, sf_dir: str,
                with_html: bool = True) -> DataFrame:
    """Spark-side pages builder (same expressions via F.expr)."""
    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    p0 = events.select(F.col("event_id").alias("i"))
    pages = p0.select(
        F.expr(SQL_URL).alias("url"),
        F.expr(sql_warc_ts("spark")).alias("warc_ts"),
        F.expr(SQL_TEXT).alias("text"),
        F.expr(SQL_LANG).alias("lang"),
    )
    if with_html:
        pages = pages.withColumn(
            "html",
            F.encode(
                F.concat(F.lit("<html><body><p>"), F.col("text"),
                         F.lit("</p></body></html>")),
                "UTF-8",
            ),
        ).select("url", "warc_ts", "html", "text", "lang")
    return pages


def stage(spark: SparkSession, sf_dir: str, name: str, version: str,
          write: Callable[[str], None]) -> str:
    """Materialize an intermediate once per input and return its path.

    The reference stages its lazy intermediates the same way (tmp VRT,
    helpers.py:150-163): staging keeps downstream plans reading a real
    source, so synthesis expressions never fuse into (and blow up) a
    query stage's generated code, and repeated queries() calls never
    re-synthesize. The cache key folds in ``name``, ``version`` and a
    fingerprint of ``events.parquet`` (file names, sizes, mtimes), so a
    regenerated input at the same path never serves a stale stage;
    bump ``version`` when the writer's OUTPUT changes. ``write(tmp)``
    writes into a private ``.staging-<pid>-<uuid>`` directory that is
    published by an atomic rename, so concurrent cache-missing sessions
    never interleave writes and the loser's copy is discarded."""
    ev = os.path.join(sf_dir, "events.parquet")
    fps = []
    for p in ([ev] if os.path.isfile(ev) else
              sorted(os.path.join(ev, f) for f in os.listdir(ev))
              if os.path.isdir(ev) else []):
        st = os.stat(p)
        fps.append(f"{os.path.basename(p)}:{st.st_size}:{st.st_mtime_ns}")
    key = hashlib.sha256(
        f"{sf_dir}|{name}|{';'.join(fps)}|{version}".encode()).hexdigest()[:16]
    path = os.path.join(tempfile.gettempdir(), f"gps_{name}_{key}")
    if not os.path.exists(path):
        tmp = f"{path}.staging-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        write(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # concurrent writer won
    return path


def stage_parquet(spark: SparkSession, sf_dir: str, name: str, version: str,
                  build: Callable[[SparkSession, str], DataFrame]
                  ) -> DataFrame:
    """``stage`` for a builder's DataFrame, read back as parquet. The
    builder runs only on a cache miss (some builders run eager jobs)."""
    def write(tmp: str) -> None:
        (build(spark, sf_dir)
         .repartition(max(8, spark.sparkContext.defaultParallelism))
         .write.mode("overwrite").parquet(tmp))

    return spark.read.parquet(stage(spark, sf_dir, name, version, write))


def build_pages_staged(spark: SparkSession, sf_dir: str,
                       with_html: bool = True) -> DataFrame:
    """build_pages materialized once per sf_dir, read back columnar."""
    return stage_parquet(
        spark, sf_dir, "pages", f"v4-html={with_html}",
        lambda s, d: build_pages(s, d, with_html=with_html))


def geocode(pages: DataFrame, cell_levels: int = 12) -> DataFrame:
    """Geocode stage: extract integer milli-degrees from text, derive
    lon/lat doubles and the hierarchical cell id (native expressions;
    quadkey quotients computed once — see sql_cell_id_from_q)."""
    from ..functions.geo import sql_cell_id_from_q, sql_cell_xq, sql_cell_yq

    return (
        pages.withColumn("lonm", F.expr(SQL_GEO_LONM_FAST))
        .withColumn("latm", F.expr(SQL_GEO_LATM_FAST))
        .withColumn("lon", F.col("lonm") / F.lit(1000.0))
        .withColumn("lat", F.col("latm") / F.lit(1000.0))
        .withColumn("xq", F.expr(sql_cell_xq("lonm", cell_levels)))
        .withColumn("yq", F.expr(sql_cell_yq("latm", cell_levels)))
        .withColumn("cell_id",
                    F.expr(sql_cell_id_from_q("xq", "yq", cell_levels)))
        .drop("xq", "yq")
    )


def geocoded_cte(dialect: str, cell_levels: int = 12) -> str:
    """pages + geocode as oracle CTE (same formula text as `geocode`)."""
    from ..functions.geo import sql_cell_id_from_q, sql_cell_xq, sql_cell_yq

    return f"""{pages_cte(dialect)},
g0 AS (
  SELECT
    url, warc_ts, text, lang,
    {SQL_GEO_LONM} AS lonm,
    {SQL_GEO_LATM} AS latm
  FROM pages
),
g1 AS (
  SELECT *,
    {sql_cell_xq("lonm", cell_levels)} AS xq,
    {sql_cell_yq("latm", cell_levels)} AS yq
  FROM g0
),
geocoded AS (
  SELECT
    url, warc_ts, text, lang, lonm, latm,
    lonm / cast(1000 as double) AS lon,
    latm / cast(1000 as double) AS lat,
    {sql_cell_id_from_q("xq", "yq", cell_levels)} AS cell_id
  FROM g1
)"""


# ---------------------------------------------------------------------------
# polygons (vector layer — FIXTURES.md F2 analog, integer-mdeg boxes)
# ---------------------------------------------------------------------------

def polygon_rows() -> list[tuple]:
    """(polygon_id, zone, min_lonm, min_latm, max_lonm, max_latm).

    Max-exclusive membership: lonm in [min, max), latm in [min, max).
    The 64 grid boxes tile the full uniform domain; the 3 hot boxes
    overlap them (pages in cities match 2 polygons).
    """
    rows = []
    for pid in range(N_GRID_X * N_GRID_Y):
        gx, gy = pid % N_GRID_X, pid // N_GRID_X
        min_lonm = -180_000 + gx * 45_000
        min_latm = -60_000 + gy * 15_000
        rows.append((pid, "grid", min_lonm, min_latm,
                     min_lonm + 45_000, min_latm + 15_000))
    for j, (clonm, clatm) in enumerate(HOT_CITIES):
        rows.append((64 + j, "hot",
                     clonm - HOT_BOX_MDEG, clatm - HOT_BOX_MDEG,
                     clonm + HOT_BOX_MDEG, clatm + HOT_BOX_MDEG))
    return rows


POLYGON_COLS = ("polygon_id", "zone", "min_lonm", "min_latm",
                "max_lonm", "max_latm")


def build_polygons(spark: SparkSession) -> DataFrame:
    df = spark.createDataFrame(polygon_rows(), schema=list(POLYGON_COLS))
    return df.select(
        F.col("polygon_id").cast("bigint"),
        "zone",
        F.col("min_lonm").cast("bigint"),
        F.col("min_latm").cast("bigint"),
        F.col("max_lonm").cast("bigint"),
        F.col("max_latm").cast("bigint"),
    )


def polygons_cte() -> str:
    vals = ",\n    ".join(
        f"({pid}, '{zone}', {a}, {b}, {c}, {d})"
        for pid, zone, a, b, c, d in polygon_rows()
    )
    return (
        "polygons AS (\n  SELECT * FROM (VALUES\n    " + vals +
        "\n  ) AS t(polygon_id, zone, min_lonm, min_latm, max_lonm, max_latm)\n)"
    )


SQL_PIP_PREDICATE = (
    "g.lonm >= p.min_lonm AND g.lonm < p.max_lonm AND "
    "g.latm >= p.min_latm AND g.latm < p.max_latm"
)


def general_polygon_rows() -> list[dict]:
    """Non-rectilinear polygon layer for the general PIP path: a large
    triangle, a concave arrow (ray-cast parity genuinely exercised) and
    a small triangle inside the Paris hot box (skew path). Integer
    vertices; membership is the exact ray-cast rule of
    ``pip.sql_point_in_ring`` (identical in Spark and the oracle)."""
    return [
        {"polygon_id": 200, "zone": "tri",
         "xs": [-100000, -40001, -70003], "ys": [-50000, -49999, 10007]},
        {"polygon_id": 201, "zone": "arrow",  # concave notch at (50000, 0)
         "xs": [20000, 80000, 50000, 80001, 20001],
         "ys": [-30000, -30001, 0, 29999, 30000]},
        {"polygon_id": 202, "zone": "hot_tri",  # inside the Paris hot box
         "xs": [2300, 2400, 2351], "ys": [48800, 48801, 48900]},
    ]


# ---------------------------------------------------------------------------
# raster-as-table (FIXTURES.md F3)
# ---------------------------------------------------------------------------

def raster_cte(dialect: str) -> str:
    src = (
        "(SELECT range AS i FROM range(65536))" if dialect == "duckdb"
        else "(SELECT id AS i FROM range(65536))"
    )
    return f"""
r0 AS (
  SELECT
    cast(i % 256 as bigint) AS px,
    cast(floor(i / 256) as bigint) AS py
  FROM {src}
),
raster AS (
  SELECT
    'm0' AS map_id, px, py,
    (case when (px * 31 + py * 17) % 997 = 0 then cast(-10000 as double)
      else cast((px * 7 + py * 13) % 1000 as double)
        + ((px + py) % 10) / cast(10 as double) end) AS elev,
    cast((px * 7 + py * 13) % 1000 as bigint) AS elev_m,
    cast((px * 3 + py * 5) % 256 as bigint) AS r,
    cast((px * 11 + py * 7) % 256 as bigint) AS g,
    cast((px * 13 + py * 3) % 256 as bigint) AS b,
    (case when px between 100 and 120 and py between 50 and 90
      then 0 else 255 end) AS alpha
  FROM r0
)"""


def build_raster(spark: SparkSession) -> DataFrame:
    """Same raster via Spark's range TVF + identical expressions."""
    return spark.sql("WITH " + raster_cte("spark") + " SELECT * FROM raster")


# valid-data mask used by stats/pyramid (P6 nodata semantics:
# helpers.py:95-106 — drop sentinel AND negatives, disregard_values_less_than_0)
SQL_RASTER_VALID = "(elev <> cast(-10000 as double) AND elev >= 0)"


# ---------------------------------------------------------------------------
# kNN query points
# ---------------------------------------------------------------------------

def knn_query_rows() -> list[tuple]:
    return [
        (qid, -160_000 + qid * 21_000, -55_000 + qid * 7_000)
        for qid in range(16)
    ]


def build_knn_queries(spark: SparkSession) -> DataFrame:
    df = spark.createDataFrame(
        knn_query_rows(), schema=["query_id", "qlonm", "qlatm"])
    return df.select(
        F.col("query_id").cast("bigint"),
        F.col("qlonm").cast("bigint"),
        F.col("qlatm").cast("bigint"),
    )


def knn_queries_cte() -> str:
    vals = ",\n    ".join(f"({q}, {lo}, {la})" for q, lo, la in knn_query_rows())
    return (
        "knn_queries AS (\n  SELECT * FROM (VALUES\n    " + vals +
        "\n  ) AS t(query_id, qlonm, qlatm)\n)"
    )


# ---------------------------------------------------------------------------
# media table: REAL tiny PNG payloads (multimodal decode path)
# ---------------------------------------------------------------------------

MEDIA_SIZE = 8  # 8x8 RGB

# per-channel pixel formula (shared with the oracle): pure integer
# arithmetic in i (=event_id), x, y — so mean-RGB is SQL-expressible
MEDIA_CHANNEL_COEFS = ((7, 3, 5), (11, 5, 7), (13, 7, 3))


def sql_media_mean(channel: int) -> str:
    """Exact mean of one 8x8 channel as SQL over (i, x, y) rows:
    sum(int) / 64 is exact in double (power-of-two divisor)."""
    ci, cx, cy = MEDIA_CHANNEL_COEFS[channel]
    return (f"(cast(sum((i * {ci} + x * {cx} + y * {cy}) % 256) as double)"
            f" / {MEDIA_SIZE * MEDIA_SIZE})")


def _media_table(spark: SparkSession, sf_dir: str, column: str,
                 encode_id: Callable[[int], bytes]) -> DataFrame:
    """(url, <column>) — one synthesized payload per event: the
    skeleton every media builder shares. ``encode_id(i)`` returns the
    payload bytes of event id ``i``; it runs in the Arrow batches of
    a mapInPandas over the events table."""
    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    base = events.select(F.col("event_id").alias("i"),
                         F.expr(SQL_URL).alias("url"))

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame({"url": pdf["url"], column: [
                encode_id(i) for i in pdf["i"].tolist()]})

    return base.mapInPandas(gen, f"url string, {column} binary")


def build_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(url, png) — png is a REAL 8x8 RGB PNG (functions.png encoder)
    whose pixels derive from the event id with integer arithmetic, so
    the decode chain is end-to-end oracle-checkable: DuckDB recomputes
    the channel means straight from the formula while the engine gets
    them by actually decoding the bytes."""
    from ..functions.png import encode_png

    yy, xx = np.mgrid[0:MEDIA_SIZE, 0:MEDIA_SIZE]

    def encode(i: int) -> bytes:
        img = np.stack([(i * ci + xx * cx + yy * cy) % 256
                        for ci, cx, cy in MEDIA_CHANNEL_COEFS],
                       axis=-1).astype(np.uint8)
        # rotate the coding layout by id: filter None/Paeth x
        # sequential/Adam7-interlaced — decoded pixels are
        # layout-invariant (lossless), so the oracles stay blind to it
        # while every decode-path variant is exercised by the
        # oracle-checked rows
        v = i % 4
        return encode_png(img, filter_type=4 if v & 1 else 0,
                          interlace=bool(v & 2))

    return _media_table(spark, sf_dir, "png", encode)


def build_media_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """build_media materialized once per sf_dir (``stage_parquet``:
    payload synthesis never re-runs per query)."""
    return stage_parquet(spark, sf_dir, "media", "v2-adam7-paeth",
                         build_media)


# ---------------------------------------------------------------------------
# WAV media table: REAL RIFF/WAVE PCM16 payloads (functions/wav codec)
# ---------------------------------------------------------------------------

WAV_FRAMES = 200
WAV_RATE = 16_000

# sample formula: s(i, t, c) = ((i*31 + t*17 + c*7) % 4096) - 2048 —
# int16-ranged, exact through the lossless PCM round trip, and SQL-
# recomputable (the oracle derives mean|s| / max|s| from this directly)
WAV_COEFS = (31, 17, 7)


def sql_wav_channels() -> str:
    """Channel count per payload: 1 + (i % 2) (mono/stereo mix)."""
    return "(1 + (i % 2))"


def sql_wav_sample() -> str:
    a, b, c = WAV_COEFS
    return f"(((i * {a} + t * {b} + c * {c}) % 4096) - 2048)"


def build_media_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(url, wav) — wav is a REAL PCM16 RIFF/WAVE payload whose samples
    derive from the event id with integer arithmetic (lossless codec =>
    bit-exact oracle check of the full parse + feature extraction)."""
    from ..functions.wav import encode_wav

    a, b, c = WAV_COEFS
    t = np.arange(WAV_FRAMES, dtype=np.int64)[:, None]

    def encode(i: int) -> bytes:
        cs = np.arange(1 + i % 2, dtype=np.int64)[None, :]
        s = ((i * a + t * b + cs * c) % 4096) - 2048
        return encode_wav(s.astype(np.int16), WAV_RATE)

    return _media_table(spark, sf_dir, "wav", encode)


def build_media_wav_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """build_media_wav materialized once per sf_dir."""
    return stage_parquet(spark, sf_dir, "media_wav", "v1", build_media_wav)


# ---------------------------------------------------------------------------
# GIF media table: REAL GIF89a LZW payloads (functions/gif codec)
# ---------------------------------------------------------------------------

GIF_SIZE = 16

# index formula: idx(i, y, x) = (i*11 + y*17 + x*5) % 256; the global
# palette is itself a formula pal(c, ch) = (c*7 + ch*13 + 29) % 256, so
# the decoded RGB needs no table lookup in SQL: channel ch of pixel
# (y, x) is ((idx*7 + ch*13 + 29) % 256) — exact through the lossless
# LZW round trip
GIF_IDX_COEFS = (11, 17, 5)
GIF_PAL_COEFS = (7, 13, 29)


def sql_gif_channel(ch: int) -> str:
    a, b, c = GIF_IDX_COEFS
    p, q, r = GIF_PAL_COEFS
    idx = f"((i*{a} + y*{b} + x*{c}) % 256)"
    return f"(({idx}*{p} + {ch}*{q} + {r}) % 256)"


def build_media_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(url, gif) — gif is a REAL GIF89a payload (functions/gif LZW
    encoder) whose palette indices derive from the event id; LZW is
    lossless, so the full parse + palette mapping is oracle-exact."""
    from ..functions.gif import encode_gif

    a, b, c = GIF_IDX_COEFS
    p, q, r = GIF_PAL_COEFS
    y = np.arange(GIF_SIZE, dtype=np.int64)[:, None]
    x = np.arange(GIF_SIZE, dtype=np.int64)[None, :]
    cs = np.arange(256, dtype=np.int64)[:, None]
    ch = np.arange(3, dtype=np.int64)[None, :]
    pal = ((cs * p + ch * q + r) % 256).astype(np.uint8)

    def encode(i: int) -> bytes:
        idx = ((i * a + y * b + x * c) % 256).astype(np.uint8)
        # rotate the encoding layout by id: sequential/GCT, interlaced,
        # local-color-table, interlaced+LCT — the decoded pixels are
        # identical (same index formula and palette), so the oracle is
        # layout-blind while the decode query exercises every
        # descriptor path
        v = i % 4
        return encode_gif(idx, pal, interlace=bool(v & 1),
                          local_palette=bool(v & 2))

    return _media_table(spark, sf_dir, "gif", encode)


def build_media_gif_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """build_media_gif materialized once per sf_dir."""
    return stage_parquet(spark, sf_dir, "media_gif", "v2-interlace-lct",
                         build_media_gif)


# ---------------------------------------------------------------------------
# GeoTIFF media table: REAL strip-TIFF payloads (functions/tiff codec) —
# the reference's OWN product format (storageRGB/storageDEM GTiff)
# ---------------------------------------------------------------------------

TIFF_SIZE = 16
# channel formula: v(i, y, x, ch) = (i*13 + y*7 + x*3 + ch*31) % 256 —
# lossless through every supported compression, so the oracle recomputes
# decoded channel means with pure arithmetic
TIFF_COEFS = (13, 7, 3, 31)
# georeferencing formulas (millidegrees from the event id): the decode
# query surfaces the GeoTIFF tags, so the oracle checks the geo
# transform too, not just pixels
SQL_TIFF_LONM = "((i * 77 + 13) % 360000 - 180000)"
SQL_TIFF_LATM = "((i * 53 + 7) % 120000 - 60000)"


def sql_tiff_channel(ch: int) -> str:
    a, b, c, d = TIFF_COEFS
    return f"((i*{a} + y*{b} + x*{c} + {ch}*{d}) % 256)"


def build_media_tiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(url, tiff) — tiff is a REAL georeferenced strip-TIFF (RGB
    uint8) whose pixels derive from the event id. Layout rotates by id
    over {none, deflate, packbits, lzw, lzw+predictor2} x
    {multi-strip, single-strip} so one table exercises every codec
    path; pixels and geo tags are identical formulas either way, so
    the oracle is layout-blind."""
    from ..functions.tiff import encode_tiff

    a, b, c, d = TIFF_COEFS
    s = TIFF_SIZE
    y = np.arange(s, dtype=np.int64)[:, None, None]
    x = np.arange(s, dtype=np.int64)[None, :, None]
    ch = np.arange(3, dtype=np.int64)[None, None, :]
    grid = y * b + x * c + ch * d

    def encode(i: int) -> bytes:
        img = ((i * a + grid) % 256).astype(np.uint8)
        lonm = (i * 77 + 13) % 360000 - 180000
        latm = (i * 53 + 7) % 120000 - 60000
        return encode_tiff(
            img, compression=(1, 8, 32773, 5, 5)[i % 5],
            rows_per_strip=7 if i % 2 else s,
            pixel_scale=(0.001, 0.001),
            tiepoint=(lonm / 1000.0, latm / 1000.0), epsg=4326,
            predictor=2 if i % 5 == 4 else 1)

    return _media_table(spark, sf_dir, "tiff", encode)


def build_media_tiff_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """build_media_tiff materialized once per sf_dir."""
    return stage_parquet(spark, sf_dir, "media_tiff", "v2-lzw-predictor",
                         build_media_tiff)


# ---------------------------------------------------------------------------
# Y4M media table: REAL YUV4MPEG2 C444 video payloads (functions/y4m codec)
# ---------------------------------------------------------------------------

VIDEO_FRAMES = 6
VIDEO_SIZE = 8
VIDEO_FPS = 25

# pixel formula: v(i, f, y, x, p) = (i*19 + f*23 + y*5 + x*3 + p*29) % 251
# — uint8-ranged, exact through the lossless planar round trip, and
# SQL-recomputable (the oracle derives per-plane frame means from it)
VIDEO_COEFS = (19, 23, 5, 3, 29)


def sql_video_plane_px() -> str:
    """Pixel value as SQL over (i, f, y, x, p)."""
    a, b, c, d, e = VIDEO_COEFS
    return f"((i*{a} + f*{b} + y*{c} + x*{d} + p*{e}) % 251)"


def build_media_y4m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(url, y4m) — y4m is a REAL C444 YUV4MPEG2 payload whose pixels
    derive from the event id with integer arithmetic (lossless codec =>
    bit-exact oracle check of the full parse + frame sampling +
    feature extraction)."""
    from ..functions.y4m import encode_y4m

    a, b, c, d, e = VIDEO_COEFS
    n, s = VIDEO_FRAMES, VIDEO_SIZE
    f = np.arange(n, dtype=np.int64)[:, None, None, None]
    y = np.arange(s, dtype=np.int64)[None, :, None, None]
    x = np.arange(s, dtype=np.int64)[None, None, :, None]
    p = np.arange(3, dtype=np.int64)[None, None, None, :]
    grid = f * b + y * c + x * d + p * e

    def encode(i: int) -> bytes:
        return encode_y4m(((i * a + grid) % 251).astype(np.uint8),
                          (VIDEO_FPS, 1))

    return _media_table(spark, sf_dir, "y4m", encode)


def build_media_y4m_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """build_media_y4m materialized once per sf_dir."""
    return stage_parquet(spark, sf_dir, "media_y4m", "v1", build_media_y4m)


# ---------------------------------------------------------------------------
# JPEG media table: REAL baseline JPEG payloads (functions/jpeg codec)
# ---------------------------------------------------------------------------

JPEG_SIZE = 16  # 16x16 = 2x2 blocks of 8x8 per channel

# per-channel block-constant YCbCr formula in (i, bx, by): every 8x8
# block is constant per channel, so the JPEG round trip is BIT-EXACT
# (DC-only blocks, quant 8 divides 8*(v-128)) and DuckDB can recompute
# the decoded RGB straight from the formula + the shared YCbCr->RGB
# conversion text (functions/jpeg.sql_ycbcr_to_rgb)
JPEG_YCBCR_COEFS = ((7, 31, 17), (11, 13, 19), (13, 23, 29))


def sql_jpeg_plane(channel: int) -> str:
    """Block-constant YCbCr sample value as SQL over (i, bx, by)."""
    ci, cx, cy = JPEG_YCBCR_COEFS[channel]
    return f"((i * {ci} + bx * {cx} + by * {cy}) % 256)"


def sql_jpeg_plane_sub(channel: int) -> str:
    """The 4:2:0 chroma value seen at LUMA block (bx, by): the chroma
    plane stores one block per 2x2 luma blocks, constant at the formula
    evaluated at the chroma-block coordinates (bx//2, by//2); nearest
    upsampling replicates it across the quad (DuckDB dialect)."""
    ci, cx, cy = JPEG_YCBCR_COEFS[channel]
    return (f"((i * {ci} + (bx // 2) * {cx} + (by // 2) * {cy})"
            f" % 256)")


def build_media_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(url, jpg) — jpg is a REAL 16x16 baseline JPEG (functions/jpeg
    encoder) whose 8x8 blocks are constant YCbCr values derived from
    the event id, making the decode chain end-to-end oracle-checkable
    the same way build_media does for PNG: DuckDB recomputes the RGB
    means from the formula while the engine actually entropy-decodes,
    dequantizes, IDCTs and color-converts the bytes.

    The encoding layout rotates by id modulo 4 — the mixes a real
    crawl actually contains, all decoding to the SAME formula pixels
    so the oracle is layout-blind:
    - i%4 == 0: baseline 4:4:4
    - i%4 == 1: baseline 4:2:0 (chroma stored at half resolution,
      block-constant at the chroma grid, so the replication upsample
      is exact and the oracle evaluates the chroma formula at
      (bx//2, by//2))
    - i%4 == 2: PROGRESSIVE (SOF2) 4:4:4 — spectral selection +
      successive approximation; coefficients are bit-identical to the
      baseline encoder's, so the round trip stays exact
    - i%4 == 3: baseline 4:2:0 with a restart interval (DRI + RSTn
      every MCU)"""
    from ..functions.jpeg import encode_jpeg_planes, \
        encode_jpeg_progressive

    nb = JPEG_SIZE // 8

    def _plane(i: int, channel: int, n_blocks: int) -> np.ndarray:
        ci, cx, cy = JPEG_YCBCR_COEFS[channel]
        blk = np.arange(n_blocks, dtype=np.int64)
        vals = (i * ci + blk[None, :] * cx + blk[:, None] * cy) % 256
        return vals.astype(np.uint8).repeat(8, axis=0).repeat(8, axis=1)

    def encode(i: int) -> bytes:
        v = i % 4
        if v in (1, 3):  # 4:2:0 — chroma at half resolution
            planes = [_plane(i, 0, nb), _plane(i, 1, nb // 2),
                      _plane(i, 2, nb // 2)]
            return encode_jpeg_planes(planes, subsample="420",
                                      restart_interval=1 if v == 3 else 0)
        planes = [_plane(i, c, nb) for c in range(3)]
        if v == 2:
            return encode_jpeg_progressive(planes)
        return encode_jpeg_planes(planes)

    return _media_table(spark, sf_dir, "jpg", encode)


def build_media_jpeg_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """build_media_jpeg materialized once per sf_dir."""
    return stage_parquet(spark, sf_dir, "media_jpeg", "v3-progressive-dri",
                         build_media_jpeg)
