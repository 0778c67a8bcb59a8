"""Structured Streaming lane: incremental signature maintenance.

New documents landing in a directory are signed by the SAME kernels as the
batch pipeline and appended to a signatures table (SURVEY.md §2.8: the
engine is batch-first; this is the incremental-ingest composition point)."""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from qalsh_spark.config import DedupConfig
from qalsh_spark.datagen import corpus_to_table, generate_corpus
from qalsh_spark.streaming.incremental import incremental_signatures


def _stream_batch(path: str, texts: list[str], tag: str) -> None:
    """Write one micro-batch file: controlled texts, one shared event time
    (keeps every key inside the watermark window deterministically)."""
    import datetime

    import pyarrow as pa

    ts = datetime.datetime(2025, 3, 1, 12, 0, 0)
    pq.write_table(
        pa.table(
            {
                "url": [f"https://x.example/{tag}/{i}" for i in range(len(texts))],
                "warc_ts": pa.array([ts] * len(texts), pa.timestamp("us")),
                "html": pa.array([None] * len(texts), pa.binary()),
                "text": texts,
                "lang": ["en"] * len(texts),
            }
        ),
        path,
    )


def test_streaming_exact_dedup(spark, tmp_path):
    """dropDuplicatesWithinWatermark on (text_len, text_hash): duplicate
    texts — within a micro-batch AND across micro-batches via the state
    store — are dropped; unique texts pass through."""
    from qalsh_spark.streaming.incremental import streaming_exact_dedup

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    _stream_batch(
        os.path.join(in_dir, "b0.parquet"), ["A", "B", "C", "A wait", "A"], "b0"
    )

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = streaming_exact_dedup(spark, in_dir, out_dir, ckpt)
    q.awaitTermination(120)
    first = {r["text"] for r in spark.read.parquet(out_dir).collect()}
    assert first == {"A", "B", "C", "A wait"}  # in-batch dup "A" dropped
    assert spark.read.parquet(out_dir).count() == 4

    # restart from checkpoint: cross-batch dups hit the state store
    _stream_batch(
        os.path.join(in_dir, "b1.parquet"), ["A", "B", "D", "E", "D"], "b1"
    )
    q2 = streaming_exact_dedup(spark, in_dir, out_dir, ckpt)
    q2.awaitTermination(120)
    rows = spark.read.parquet(out_dir).collect()
    texts = [r["text"] for r in rows]
    assert sorted(texts) == ["A", "A wait", "B", "C", "D", "E"]
    # the survivor of each key is the FIRST arrival (b0's url, not b1's)
    by_text = {r["text"]: r["url"] for r in rows}
    assert "/b0/" in by_text["A"] and "/b0/" in by_text["B"]
    assert "/b1/" in by_text["D"]


def test_streaming_exact_dedup_html_only_rows(spark, tmp_path):
    """ADVICE r2: rows arriving with html but NULL text must be keyed on
    their EXTRACTED text, not on the shared NULL key (which silently dropped
    every html-only doc after the first)."""
    import datetime

    import pyarrow as pa

    from qalsh_spark.streaming.incremental import streaming_exact_dedup

    ts = datetime.datetime(2025, 3, 1, 12, 0, 0)
    htmls = [
        b"<p>alpha</p>",  # kept
        b"<p>beta</p>",  # kept: DIFFERENT text, was dropped pre-fix
        b"<p>alpha</p>",  # dup of row 0: dropped
    ]
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    pq.write_table(
        pa.table(
            {
                "url": [f"https://h.example/{i}" for i in range(len(htmls))],
                "warc_ts": pa.array([ts] * len(htmls), pa.timestamp("us")),
                "html": pa.array(htmls, pa.binary()),
                "text": pa.array([None] * len(htmls), pa.string()),
                "lang": ["en"] * len(htmls),
            }
        ),
        os.path.join(in_dir, "b0.parquet"),
    )
    out_dir = str(tmp_path / "out")
    q = streaming_exact_dedup(spark, in_dir, out_dir, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    rows = spark.read.parquet(out_dir).collect()
    assert sorted(r["text"] for r in rows) == ["alpha", "beta"]
    assert {r["url"] for r in rows} == {
        "https://h.example/0",
        "https://h.example/1",
    }


def test_incremental_signatures(spark, tmp_path):
    c = generate_corpus(50, seed=7)
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    tbl = corpus_to_table(c)
    pq.write_table(tbl.slice(0, 30), os.path.join(in_dir, "batch0.parquet"))

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = incremental_signatures(spark, in_dir, out_dir, ckpt, DedupConfig())
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir)
    assert got.count() == 30
    assert "minhash" in got.columns and "simhash" in got.columns

    # second micro-batch: only the NEW file is processed (checkpoint offsets)
    pq.write_table(tbl.slice(30, 20), os.path.join(in_dir, "batch1.parquet"))
    q2 = incremental_signatures(spark, in_dir, out_dir, ckpt, DedupConfig())
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == 50

    # streamed signatures match the batch signing of the same rows
    from qalsh_spark.functions.signatures import sign_documents
    from qalsh_spark.sources.catalog import read_documents

    import pyarrow.parquet as _pq

    full = str(tmp_path / "full")
    os.makedirs(full)
    _pq.write_table(tbl, os.path.join(full, "documents.parquet"))
    batch = sign_documents(read_documents(spark, full), DedupConfig())
    a = {r["doc_id"]: (tuple(r["minhash"]), r["simhash"])
         for r in batch.collect()}
    b = {r["doc_id"]: (tuple(r["minhash"]), r["simhash"])
         for r in spark.read.parquet(out_dir).collect()}
    assert a == b
