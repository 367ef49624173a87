"""Codec kernels timed in-process, outside Spark.

The payloads are the ones the ``media_decode`` queries decode: a sample
of the payload column of each ``gps_media_*`` table that set-up staged
(``synth.build_media_*_staged``), read with pyarrow. Each codec is
timed through the function its operator calls (``decode_jpeg_batch``
for JPEG, one call per payload for the others). The figure is seconds
per 1000 payloads.
"""

from __future__ import annotations

import importlib
import statistics
import time
from urllib.parse import urlparse

N_PAYLOADS = 200
# codec -> (staging builder, payload column, decoder, batched)
CODECS = {
    "jpeg": ("build_media_jpeg_staged", "jpg", "decode_jpeg_batch", True),
    "gif": ("build_media_gif_staged", "gif", "decode_gif", False),
    "tiff": ("build_media_tiff_staged", "tiff", "decode_tiff", False),
    "png": ("build_media_staged", "png", "decode_png", False),
    "wav": ("build_media_wav_staged", "wav", "decode_wav", False),
    "y4m": ("build_media_y4m_staged", "y4m", "decode_y4m", False),
}


def staged_payloads(spark, sf_dir: str, builder: str, column: str,
                    n: int = N_PAYLOADS) -> list[bytes]:
    """The first ``n`` payloads, in file order, of the staged table."""
    import pyarrow.parquet as pq
    from geotiff_processor_spark.sources import synth

    files = sorted(urlparse(f).path for f in
                   getattr(synth, builder)(spark, sf_dir).inputFiles())
    out: list[bytes] = []
    for path in files:
        out.extend(pq.read_table(path, columns=[column])
                   .column(column).to_pylist()[:n - len(out)])
        if len(out) == n:
            break
    return out


def decode_seconds_per_1k(spark, sf_dir: str, staged: tuple[str, ...],
                          min_seconds: float = 0.25) -> dict[str, float]:
    """Median over repeated passes of seconds per 1000 decodes, for
    every codec whose table is among the ``staged`` builders (the
    others read 0)."""
    out = {}
    for codec, (builder, column, fn_name, batched) in CODECS.items():
        if builder not in staged:
            out[codec] = 0.0
            continue
        data = staged_payloads(spark, sf_dir, builder, column)
        decode = getattr(importlib.import_module(
            f"geotiff_processor_spark.functions.{codec}"), fn_name)
        per_pass = []
        t_end = time.perf_counter() + min_seconds
        while len(per_pass) < 3 or time.perf_counter() < t_end:
            t0 = time.perf_counter()
            if batched:
                decode(data)
            else:
                for blob in data:
                    decode(blob)
            per_pass.append(time.perf_counter() - t0)
        out[codec] = statistics.median(per_pass) * 1000 / len(data)
    return out
