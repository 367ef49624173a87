"""WARC (Web ARChive, ISO 28500) record source.

The ingest stage UPSTREAM of the pages table: Common-Crawl-style
corpora arrive as WARC files — many records per file, each a
CRLF-terminated header block (WARC-Target-URI, WARC-Date,
Content-Length, ...) followed by exactly Content-Length payload bytes
and a blank-line terminator. This module synthesizes deterministic
multi-record WARC blobs from the canonical pages formulas and parses
them back with an Arrow-batched walker, so the whole chain
(pack -> parse -> extract_text) is end-to-end oracle-checkable:
DuckDB recomputes every output field straight from the pages CTE while
the engine actually walks binary record boundaries.

Scale shape: blobs are opaque binary rows — parsing is mapInPandas
(embarrassingly parallel, no shuffle; payload bytes never shuffle
because the downstream query reduces them to extracted text/lengths in
the same stage). Reference analog: the reference ingests a directory
of GeoTIFFs (process.py scan); here the crawl-format equivalent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .synth import build_pages_staged, stage_parquet
from ..operators.dedup import sql_hash60

# records per blob (average) — the packer groups pages by a
# deterministic url-hash key sized for this (real WARCs hold
# thousands of records; 16 keeps the synthetic blobs multi-record
# while bounding the per-group Python-call overhead of the packer)
RECORDS_PER_BLOB = 16

WARC_DATE_FMT_SPARK = "yyyy-MM-dd'T'HH:mm:ss'Z'"
WARC_DATE_FMT_DUCK = "%Y-%m-%dT%H:%M:%SZ"


def build_warc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(grp, warc) — warc is a REAL multi-record WARC/1.0 blob packing
    ~RECORDS_PER_BLOB pages (grouped by url hash, records ordered by
    url within a blob)."""
    import pandas as pd

    pages = build_pages_staged(spark, sf_dir, with_html=True)
    n = pages.count()
    n_groups = max(n // RECORDS_PER_BLOB, 1)
    src = pages.select(
        (F.expr(sql_hash60("url")) % n_groups).alias("grp"),
        "url",
        F.date_format("warc_ts", WARC_DATE_FMT_SPARK).alias("wdate"),
        "html")

    def gen(key, pdf):
        pdf = pdf.sort_values("url")
        out = bytearray()
        for url, wdate, html in zip(pdf["url"], pdf["wdate"],
                                    pdf["html"]):
            payload = bytes(html)
            hdr = (f"WARC/1.0\r\n"
                   f"WARC-Type: response\r\n"
                   f"WARC-Target-URI: {url}\r\n"
                   f"WARC-Date: {wdate}\r\n"
                   f"Content-Length: {len(payload)}\r\n\r\n")
            out += hdr.encode("ascii") + payload + b"\r\n\r\n"
        return pd.DataFrame({"grp": [key[0]], "warc": [bytes(out)]})

    return src.groupBy("grp").applyInPandas(gen, "grp bigint, warc binary")


def build_warc_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """build_warc materialized once per sf_dir."""
    return stage_parquet(spark, sf_dir, "warc", "v2-16-per-blob", build_warc)


def _gzip_member(payload: bytes) -> bytes:
    """One deterministic gzip member (mtime=0, no name — zlib's gzip
    wrapper defaults), level 6."""
    import zlib

    c = zlib.compressobj(6, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    return c.compress(payload) + c.flush()


def _gunzip_members(b: bytes) -> bytes:
    """Inflate a concatenation of gzip members (the .warc.gz layout:
    one member per record; a single whole-blob member is the
    degenerate case)."""
    import zlib

    out = bytearray()
    view = b
    while view[:2] == b"\x1f\x8b":
        d = zlib.decompressobj(16 + zlib.MAX_WBITS)
        out += d.decompress(view)
        if not d.eof:
            raise ValueError("corrupt .warc.gz: truncated gzip member")
        view = d.unused_data
    if view:
        raise ValueError("corrupt .warc.gz: trailing non-gzip bytes")
    return bytes(out)


def build_warc_gz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(grp, warc) — the Common-Crawl on-disk convention: the SAME
    records as ``build_warc``, each compressed as its own gzip member,
    members concatenated per blob (random access by member offset is
    what makes real crawls splittable)."""
    plain = build_warc(spark, sf_dir)

    def gz(batches):
        import pandas as pd
        for pdf in batches:
            blobs = []
            for blob in pdf["warc"]:
                b = bytes(blob)
                out = bytearray()
                pos = 0
                while pos < len(b):
                    end = b.find(b"\r\n\r\n", pos)
                    head = b[pos:end].decode("ascii")
                    clen = next(int(l.split(":", 1)[1])
                                for l in head.split("\r\n")
                                if l.lower().startswith("content-length"))
                    rec_end = end + 4 + clen + 4
                    out += _gzip_member(b[pos:rec_end])
                    pos = rec_end
                blobs.append(bytes(out))
            yield pd.DataFrame({"grp": pdf["grp"], "warc": blobs})

    return plain.mapInPandas(gz, "grp bigint, warc binary")


def build_warc_gz_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """build_warc_gz materialized once per sf_dir."""
    return stage_parquet(spark, sf_dir, "warc_gz", "v1", build_warc_gz)


def parse_warc(df: DataFrame, blob_col: str = "warc") -> DataFrame:
    """Walk every record of every WARC blob: (url, warc_date, n_bytes,
    html). Arrow-batched, stateless per blob; malformed headers or a
    Content-Length pointing past the blob raise the documented
    ValueError family (strict — crawl QA wants loud corruption).

    Gzipped blobs (magic 1f 8b) are transparently inflated first —
    both whole-blob gzip and the Common-Crawl ``.warc.gz`` convention
    of one gzip MEMBER per record (concatenated members inflate to the
    concatenated record stream under the member walk)."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            urls, dates, lens, payloads = [], [], [], []
            for blob in pdf[blob_col]:
                b = bytes(blob)
                if b[:2] == b"\x1f\x8b":
                    b = _gunzip_members(b)
                pos = 0
                while pos < len(b):
                    end = b.find(b"\r\n\r\n", pos)
                    if end < 0:
                        raise ValueError("corrupt WARC: unterminated"
                                         " header block")
                    fields = {}
                    head = b[pos:end].decode("ascii", "strict")
                    lines = head.split("\r\n")
                    if not lines[0].startswith("WARC/"):
                        raise ValueError("corrupt WARC: bad version line")
                    for line in lines[1:]:
                        k, _, v = line.partition(":")
                        fields[k.strip().lower()] = v.strip()
                    try:
                        clen = int(fields["content-length"])
                    except (KeyError, ValueError):
                        raise ValueError("corrupt WARC: missing or bad"
                                         " Content-Length") from None
                    start = end + 4
                    if start + clen + 4 > len(b):
                        raise ValueError("corrupt WARC: payload"
                                         " truncated")
                    if b[start + clen:start + clen + 4] != b"\r\n\r\n":
                        raise ValueError("corrupt WARC: missing record"
                                         " terminator")
                    urls.append(fields.get("warc-target-uri", ""))
                    dates.append(fields.get("warc-date", ""))
                    lens.append(clen)
                    payloads.append(b[start:start + clen])
                    pos = start + clen + 4
            yield pd.DataFrame({"url": urls, "warc_date": dates,
                                "n_bytes": pd.array(lens, "int64"),
                                "html": payloads})

    return df.mapInPandas(
        gen, "url string, warc_date string, n_bytes bigint, html binary")
