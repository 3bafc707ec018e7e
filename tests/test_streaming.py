"""Structured Streaming: library operators on a readStream frame, drained
once with availableNow, must equal their batch results on the same files."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from fixture_producers import run_stream_once


@pytest.fixture(scope="module")
def event_dir(spark):
    import datetime as dt

    src = tempfile.mkdtemp(prefix="events_src_")
    rows = [
        (i, dt.datetime(2024, 1, 1, 9 + (i % 3), i % 60, 0), i % 5, ["click", "view"][i % 2], float(i))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type", "value"])
    df.write.mode("overwrite").parquet(src)
    yield src
    shutil.rmtree(src, ignore_errors=True)


def test_stream_static_dim_join_matches_batch(spark, event_dir):
    """Stream-static enrichment: a streaming fact joined to a static
    broadcast dim must produce exactly the batch join's rows. The static
    side re-resolves per micro-batch — the standard pattern for slowly
    refreshed dims at scale (no state store involved)."""
    out = tempfile.mkdtemp(prefix="ss_out_")
    ckpt = tempfile.mkdtemp(prefix="ss_ckpt_")
    try:
        dim = spark.createDataFrame(
            [(i, f"tier_{i % 2}") for i in range(5)], ["user_id", "tier"]
        )
        schema = spark.read.parquet(event_dir).schema
        stream = (
            spark.readStream.schema(schema)
            .parquet(event_dir)
            .join(F.broadcast(dim), "user_id")
            .select("event_id", "user_id", "tier", "value")
        )
        run_stream_once(stream, out, ckpt)
        got = sorted(map(tuple, spark.read.parquet(out).collect()))
        batch = sorted(
            map(
                tuple,
                spark.read.parquet(event_dir)
                .join(dim, "user_id")
                .select("event_id", "user_id", "tier", "value")
                .collect(),
            )
        )
        assert got == batch
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_streaming_dedup_within_watermark(spark, event_dir):
    """Streaming exact dedup: dropDuplicatesWithinWatermark keyed on
    event_id — state expires with the watermark instead of growing forever
    (the streaming form of exact dedup; at scale the key is the content
    sha). Result must equal the batch distinct over the same files."""
    out = tempfile.mkdtemp(prefix="sd_out_")
    ckpt = tempfile.mkdtemp(prefix="sd_ckpt_")
    try:
        schema = spark.read.parquet(event_dir).schema
        doubled = spark.read.parquet(event_dir)
        dup_src = tempfile.mkdtemp(prefix="sd_src_")
        doubled.union(doubled).write.mode("overwrite").parquet(dup_src)

        stream = (
            spark.readStream.schema(schema)
            .parquet(dup_src)
            .withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["event_id"])
            .select("event_id", "user_id", "value")
        )
        run_stream_once(stream, out, ckpt)
        got = spark.read.parquet(out)
        assert got.count() == spark.read.parquet(event_dir).count()
        assert got.select("event_id").distinct().count() == got.count()
    finally:
        for d in (out, ckpt, dup_src):
            shutil.rmtree(d, ignore_errors=True)


def test_stateless_hygiene_ops_on_stream_match_batch(spark):
    """pii_scrub / token_count_expr / repetition-free textstats are stateless row
    expressions, so they compose with readStream unchanged: an availableNow
    drain must equal the batch result on the same files (widen() safely
    no-ops on streaming frames — the plan probe rejects them)."""
    import tempfile

    from etl_processes_spark.ops.textstats import pii_scrub, token_count_expr

    src = tempfile.mkdtemp(prefix="docs_src_")
    out = tempfile.mkdtemp(prefix="docs_out_")
    ckpt = tempfile.mkdtemp(prefix="docs_ckpt_")
    try:
        rows = [
            (0, "mail a@b.io or call 25-989-741-2988"),
            (1, "plain text document"),
            (2, "two mails a@b.io c@d.org"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        df.write.mode("overwrite").parquet(src)

        batch = spark.read.parquet(src)
        expect_pii = {
            r["doc_id"]: (r["clean_text"], r["n_emails"], r["n_phones"])
            for r in pii_scrub(batch, "doc_id", "text").collect()
        }
        expect_tok = {
            r["doc_id"]: r["n_tokens"]
            for r in batch.select(
                "doc_id", token_count_expr("text").alias("n_tokens")
            ).collect()
        }

        stream = spark.readStream.schema(batch.schema).parquet(src)
        sdf = pii_scrub(stream, "doc_id", "text")
        assert sdf.isStreaming
        run_stream_once(sdf, out, ckpt)
        got = {
            r["doc_id"]: (r["clean_text"], r["n_emails"], r["n_phones"])
            for r in spark.read.parquet(out).collect()
        }
        assert got == expect_pii
        # token_count_expr drains too
        out2 = tempfile.mkdtemp(prefix="docs_out2_")
        ckpt2 = tempfile.mkdtemp(prefix="docs_ckpt2_")
        tdf = stream.select("doc_id", token_count_expr("text").alias("n_tokens"))
        run_stream_once(tdf, out2, ckpt2)
        got_tok = {r["doc_id"]: r["n_tokens"] for r in spark.read.parquet(out2).collect()}
        assert got_tok == expect_tok
    finally:
        import shutil

        for d in (src, out, ckpt):
            shutil.rmtree(d, ignore_errors=True)


def test_stateless_assembly_ops_on_stream_match_batch(spark):
    """chunk_documents and mixture_sample are stateless row/explode
    expressions — they run on a readStream frame unchanged, and an
    availableNow drain equals the batch result (rates come from a BATCH
    mixture_rates pass: the frozen-LM/frozen-rates pattern for scoring an
    incoming stream against a fixed corpus)."""
    import shutil
    import tempfile

    from etl_processes_spark.ops.pack import chunk_documents, mixture_rates, mixture_sample

    src = tempfile.mkdtemp(prefix="asm_src_")
    out = tempfile.mkdtemp(prefix="asm_out_")
    ckpt = tempfile.mkdtemp(prefix="asm_ckpt_")
    out2 = tempfile.mkdtemp(prefix="asm_out2_")
    ckpt2 = tempfile.mkdtemp(prefix="asm_ckpt2_")
    try:
        rows = [(i, "tok " * (i + 1) + f"end{i}", "big" if i % 4 else "small")
                for i in range(24)]
        df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
        df.write.mode("overwrite").parquet(src)
        batch = spark.read.parquet(src)

        expect_ch = sorted(
            (r["doc_id"], r["chunk_id"], r["chunk_text"])
            for r in chunk_documents(batch, "doc_id", "text", 8, 6).collect()
        )
        rates = mixture_rates(batch, "lang", alpha=0.5)
        expect_mix = sorted(
            r["doc_id"] for r in mixture_sample(batch, "lang", rates, "doc_id").collect()
        )

        stream = spark.readStream.schema(batch.schema).parquet(src)
        ch = chunk_documents(stream, "doc_id", "text", 8, 6)
        assert ch.isStreaming
        run_stream_once(ch, out, ckpt)
        got_ch = sorted(
            (r["doc_id"], r["chunk_id"], r["chunk_text"])
            for r in spark.read.parquet(out).collect()
        )
        assert got_ch == expect_ch

        mx = mixture_sample(stream, "lang", rates, "doc_id")
        assert mx.isStreaming
        run_stream_once(mx, out2, ckpt2)
        got_mix = sorted(r["doc_id"] for r in spark.read.parquet(out2).collect())
        assert got_mix == expect_mix
    finally:
        for d in (src, out, ckpt, out2, ckpt2):
            shutil.rmtree(d, ignore_errors=True)


def test_incremental_ingest_stream_dedups_across_batches(spark, tmp_path):
    """foreachBatch ingest: per-micro-batch state accumulation — a doc
    arriving in a later file that duplicates an earlier batch's content is
    rejected, and the state tables grow by appended deltas only."""
    from etl_processes_spark.streaming.ingest import incremental_ingest_stream

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    a = "the quick brown fox jumps over the lazy dog tonight again"
    b = "a tall ship sails across the wide ocean to the old harbor"
    c = "music and painting are the arts people love most of all"
    # file 1: docs 0,1 ; file 2: doc 2 (dup of 0) + fresh doc 3 — placed as
    # PLAIN parquet files in the stream dir (a file source reads files, not
    # nested write.parquet directories)
    import glob
    import os
    import shutil as sh

    os.makedirs(src)
    for name, rows in (
        ("f1", [(0, a), (1, b)]),
        ("f2", [(2, a), (3, c)]),
    ):
        tmp = str(tmp_path / ("w_" + name))
        spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1)\
            .write.parquet(tmp)
        part = glob.glob(tmp + "/part-*.parquet")[0]
        sh.copy(part, os.path.join(src, name + ".parquet"))

    q = incremental_ingest_stream(
        spark, src, out, state, ckpt,
        max_files_per_trigger=1, shingle_k=3,
    )
    q.awaitTermination()

    got = spark.read.parquet(out)
    ids = sorted(r["doc_id"] for r in got.select("doc_id").collect())
    # 2 is a content dup of 0 — rejected in whichever batch ran second
    assert 3 in ids and len(ids) == 3
    assert (2 in ids) != (0 in ids) or (0 in ids and 2 not in ids)

    digests = spark.read.parquet(state + "/digests")
    assert digests.distinct().count() == 3  # one digest per unique text

    # restart over the same source: checkpoint says nothing new — no growth
    q2 = incremental_ingest_stream(
        spark, src, out, state, ckpt,
        max_files_per_trigger=1, shingle_k=3,
    )
    q2.awaitTermination()
    assert spark.read.parquet(out).count() == 3


def test_incremental_ingest_stream_line_state_flows(spark, tmp_path):
    """The line-frequency state must actually reach each micro-batch: a
    banner seen once per batch crosses max_doc_freq only via state."""
    import glob
    import os
    import shutil as sh

    from etl_processes_spark.streaming.ingest import incremental_ingest_stream

    src = str(tmp_path / "src"); os.makedirs(src)
    out = str(tmp_path / "out"); state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    banner = "subscribe to the newsletter now"
    for name, rows in (
        ("f1", [(0, banner + "\nthe quick brown fox jumps over the dog")]),
        ("f2", [(1, banner + "\na tall ship sails across the wide sea")]),
    ):
        tmp = str(tmp_path / ("w_" + name))
        spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.parquet(tmp)
        sh.copy(glob.glob(tmp + "/part-*.parquet")[0], os.path.join(src, name + ".parquet"))

    q = incremental_ingest_stream(
        spark, src, out, state, ckpt,
        max_files_per_trigger=1, shingle_k=3, line_dedup_max_df=1,
    )
    q.awaitTermination()
    texts = {r["doc_id"]: r["text"]
             for r in spark.read.parquet(out).select("doc_id", "text").collect()}
    # batch 1: banner df=1 (kept); batch 2: state df=1 + batch df=1 = 2 > 1
    # → stripped from doc 1 — only possible if state reached the batch
    assert "subscribe" in texts[0]
    assert "subscribe" not in texts[1]
    assert "tall ship" in texts[1]
