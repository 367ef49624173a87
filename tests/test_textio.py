"""JSONL/CSV source paths (sources/textio.py): lossless round trip and
the FAILFAST posture on corrupt input."""

import pytest
from pyspark.sql import functions as F

from geotiff_processor_spark.sources import synth, textio


def test_round_trip_lossless(spark, sf_dir):
    base = synth.build_pages_staged(spark, sf_dir, with_html=False) \
        .select("url", "warc_ts", "text", "lang")
    want = {tuple(r) for r in base.collect()}
    got_j = {tuple(r) for r in
             textio.read_pages_jsonl(spark, sf_dir)
             .select("url", "warc_ts", "text", "lang").collect()}
    got_c = {tuple(r) for r in
             textio.read_pages_csv(spark, sf_dir)
             .select("url", "warc_ts", "text", "lang").collect()}
    assert got_j == want
    assert got_c == want


def test_failfast_raises_on_corrupt_jsonl(spark, tmp_path):
    p = tmp_path / "bad.jsonl"
    p.write_text('{"url": "u", "text": "ok", "lang": "en"}\n'
                 "this is not json\n")
    df = (spark.read.schema(textio.PAGES_DDL)
          .option("mode", "FAILFAST").json(str(p)))
    with pytest.raises(Exception, match="FAILFAST|Malformed|corrupt"):
        df.collect()


def test_digest_groups_all_langs(spark, sf_dir):
    out = textio.pages_digest(
        textio.read_pages_jsonl(spark, sf_dir)).collect()
    assert {r["lang"] for r in out} == {"en", "es", "fr", "pt"}
    assert all(r["n_pages"] > 0 and r["url_hash_sum"] > 0 for r in out)


def test_staged_text_follows_rewritten_events(spark, tmp_path, monkeypatch):
    """Rewriting events.parquet in place must invalidate the staged
    JSONL/CSV copies: the reads return the new rows, not the old."""
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()

    def write_events(n):
        pq.write_table(pa.table({"event_id": pa.array(range(n), pa.int64())}),
                       str(sf_dir / "events.parquet"))

    write_events(50)
    assert textio.read_pages_jsonl(spark, str(sf_dir)).count() == 50
    assert textio.read_pages_csv(spark, str(sf_dir)).count() == 50
    write_events(120)
    assert textio.read_pages_jsonl(spark, str(sf_dir)).count() == 120
    assert textio.read_pages_csv(spark, str(sf_dir)).count() == 120
