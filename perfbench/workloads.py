"""The benchmark's workloads and the correctness checks of their outputs.

A workload is a list of the engine's declared queries (keys of
``__spark_entry__.queries()``) over one generated ``events`` table,
plus the staging caches it fills during set-up. Every query reads
``n_events`` rows: one page or one media payload per event. Every
engine import happens inside a function, after ``run.py`` has set up
the environment.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import gen


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    n_events: int
    id_space: int
    staged: tuple[str, ...] = ()  # synth.build_*_staged fills in set-up


WORKLOADS = {w.name: w for w in (
    Workload(
        "spatial_scan",
        ("pip_count", "cell_encode", "tile_counts", "tile_pyramid", "knn",
         "zonal_stats", "radius_join", "hilbert_cells", "reproject_utm"),
        n_events=50_000, id_space=200_000,
        staged=("build_pages_staged",)),
    Workload(
        "media_decode",
        ("decode_jpeg", "decode_gif", "decode_geotiff", "decode_images",
         "image_dhash", "decode_audio", "decode_video"),
        n_events=1_000, id_space=4_000,
        staged=("build_media_jpeg_staged", "build_media_gif_staged",
                "build_media_tiff_staged", "build_media_staged",
                "build_media_wav_staged", "build_media_y4m_staged")),
)}

ALL_QUERIES = tuple(q for w in WORKLOADS.values() for q in w.queries)


def generate(wl: Workload, sf_dir: str, seed: int) -> int:
    return gen.write_events(sf_dir, seed, wl.n_events, wl.id_space)


def fill_staging(wl: Workload, spark, sf_dir: str) -> None:
    """Run the engine's staging builders once so that the caches they
    keep in the temp directory are filled before any query runs."""
    from geotiff_processor_spark.sources import synth

    for name in wl.staged:
        builder = getattr(synth, name)
        if name == "build_pages_staged":
            builder(spark, sf_dir, with_html=False)
        else:
            builder(spark, sf_dir)


# ---------------------------------------------------------------------------
# correctness
# ---------------------------------------------------------------------------

def duck_connection(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    path = os.path.join(sf_dir, "events.parquet")
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{path}'")
    return con


def expected(name: str, con, oracles: dict) -> tuple[list[str], list[tuple]]:
    res = con.execute(oracles[name])
    return [d[0] for d in res.description], res.fetchall()


def mismatch(cols, rows, exp_cols, exp_rows) -> str | None:
    """None when the two results are equal as ``scripts/diffcheck.py``
    compares them (``testing.norm_rows``), else the first difference."""
    from geotiff_processor_spark.testing import norm_rows

    a_cols, a = norm_rows(list(cols), [tuple(r) for r in rows])
    b_cols, b = norm_rows(list(exp_cols), [tuple(r) for r in exp_rows])
    if a_cols != b_cols:
        return f"columns {a_cols} != {b_cols}"
    if len(a) != len(b):
        return f"{len(a)} rows != {len(b)}"
    for x, y in zip(a, b):
        if x != y:
            return f"first difference {x} != {y}"
    return None


# ---------------------------------------------------------------------------
# the resumable tile pipeline (scripts/submit_pipeline.py)
# ---------------------------------------------------------------------------

PIPELINE_STAGES = ("geocoded", "pip", "zonal", "pyramid", "outline")


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def stage_listing(out_dir: str) -> dict[str, list[tuple[str, int]]]:
    """(relative path, size) of every data file of each committed stage;
    a rewrite shows as new part-file names."""
    out = {}
    for stage in PIPELINE_STAGES:
        root = os.path.join(out_dir, stage)
        out[stage] = sorted(
            (os.path.relpath(os.path.join(d, f), root),
             os.path.getsize(os.path.join(d, f)))
            for d, _, files in os.walk(root) for f in files
            if not f.startswith((".", "_")))
    return out


def check_pipeline(spark, out_dir: str, con, oracles: dict) -> list[str]:
    """Committed ``zonal`` and ``pyramid`` stages against the oracles of
    the ``zonal_stats`` and ``tile_pyramid`` queries."""
    failures = []
    for stage, query in (("zonal", "zonal_stats"),
                         ("pyramid", "tile_pyramid")):
        df = spark.read.parquet(os.path.join(out_dir, stage))
        exp_cols, exp_rows = expected(query, con, oracles)
        diff = mismatch(df.columns, df.collect(), exp_cols, exp_rows)
        if diff:
            failures.append(f"pipeline {stage}: {diff}")
    return failures
