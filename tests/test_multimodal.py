"""Multimodal plumbing tests: Arrow-batch shapes, fan-out arithmetic
(operators/multimodal.py)."""
from __future__ import annotations

from pyspark.sql import functions as F

from cirro_annotation_spark.operators import multimodal as M
from cirro_annotation_spark.suites.util import t


def _media(spark, sf_dir, n=20):
    d = t(spark, sf_dir, "documents").limit(n)
    return M.attach_binary_payload(d, "text", "doc_id")


def test_frame_sample_fanout_and_lengths(spark, sf_dir):
    media = _media(spark, sf_dir)
    frames = M.frame_sample(media, n_frames=4)
    per_doc = (
        frames.groupBy("media_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("frame_len").alias("total"))
        .join(media.select("media_id", "n_bytes"), "media_id")
        .collect()
    )
    assert per_doc, "no media rows"
    for r in per_doc:
        assert r["n"] == 4  # one row per frame
        assert r["total"] == r["n_bytes"]  # frames tile the payload exactly


def test_frame_sample_deterministic(spark, sf_dir):
    media = _media(spark, sf_dir, n=5)
    a = sorted(map(tuple, M.frame_sample(media).collect()))
    b = sorted(map(tuple, M.frame_sample(media).collect()))
    assert a == b


def test_extract_features_drops_payload(spark, sf_dir):
    out = M.extract_features(_media(spark, sf_dir))
    assert "payload" not in out.columns  # blobs never travel past extract
    row = out.first()
    assert row["decoded_len"] == row["n_bytes"]
    assert 0 <= row["checksum"] < 997


def test_resize_payloads_decimates_bytes(spark, sf_dir):
    media = _media(spark, sf_dir, n=10)
    out = M.resize_payloads(media, factor=2)
    joined = (
        out.select("media_id", F.col("n_bytes").alias("resized_bytes"))
        .join(media.select("media_id", "n_bytes"), "media_id")
        .collect()
    )
    assert joined
    for r in joined:
        assert r["resized_bytes"] == (r["n_bytes"] + 1) // 2  # every 2nd byte
    row = out.first()
    assert isinstance(row["payload"], (bytes, bytearray))


def test_vad_segments_match_python_reference(spark, sf_dir):
    """Independent re-derivation: compute the maximal active-frame runs
    in plain Python from the raw text and require exact equality with
    the zero-shuffle fold (the DuckDB oracle checks the window
    formulation; this checks a third, imperative formulation)."""
    import duckdb

    from cirro_annotation_spark.registry import QUERIES, load_all_suites

    load_all_suites()
    docs = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    ).fetchall()
    want = set()
    for doc_id, text in docs:
        active = [
            (ord(text[k * 4]) if k * 4 < len(text) else 0) > 100
            for k in range(64)
        ]
        start = None
        for k in range(65):
            on = active[k] if k < 64 else False
            if on and start is None:
                start = k
            elif not on and start is not None:
                want.add((doc_id, start, k - 1, k - start))
                start = None
    got = {
        (r["media_id"], r["seg_start"], r["seg_end"], r["n_frames"])
        for r in QUERIES["multimodal_vad_segments"](spark, sf_dir).collect()
    }
    assert got == want and len(want) > 100


def test_vad_segments_flushes_open_run_and_skips_silent(spark, sf_dir):
    """A payload active through frame 63 must emit its final (open) run
    via the finish lambda; an all-silent payload emits nothing."""
    from cirro_annotation_spark.registry import QUERIES, load_all_suites

    load_all_suites()
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            [(1, "z" * 256), (2, "A" * 256), (3, "zzzzAAAA" + "z" * 248)],
            "doc_id long, text string",
        ).toPandas().to_parquet(os.path.join(tmp, "documents.parquet"))
        rows = {
            (r["media_id"], r["seg_start"], r["seg_end"])
            for r in QUERIES["multimodal_vad_segments"](spark, tmp).collect()
        }
    # doc1: one run 0..63 (flushed at finish); doc2: silent; doc3:
    # frame 0 ('z'), frame 1 ('A') silent, frames 2..63 active again.
    assert rows == {(1, 0, 63), (3, 0, 0), (3, 2, 63)}


def test_payload_dedup_full_clone_vs_prefix_collision(spark):
    """VERDICT r11 item 4: plant (a) a FULL-payload clone pair —
    identical entire text, the case real block stores reclaim — and
    (b) a prefix-only collision pair (same leading 128 bytes, different
    tails). Block-grain dedup must group BOTH (it hashes only the
    leading block), with exact copy counts and reclaimable bytes, and
    keep unique payloads out."""
    import os
    import tempfile

    from cirro_annotation_spark.registry import QUERIES, load_all_suites

    load_all_suites()
    clone = "C" * 200
    prefix = "P" * 128
    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(
            [
                (1, clone),             # full clone pair: ids 1, 2
                (2, clone),
                (3, prefix + "tailA"),  # prefix-only collision: ids 3, 4
                (4, prefix + "tailB"),
                (5, "unique " * 30),
            ],
            "doc_id long, text string",
        ).toPandas().to_parquet(os.path.join(tmp, "documents.parquet"))
        groups = {
            r["survivor_id"]: (r["n_copies"], r["n_bytes"], r["reclaimable_bytes"])
            for r in QUERIES["multimodal_payload_dedup"](spark, tmp).collect()
        }
    # both pairs collapse at the block grain; 128-byte blocks, 1 copy
    # reclaimed each; the unique doc forms no group
    assert groups == {1: (2, 128, 128), 3: (2, 128, 128)}


def test_null_payload_rows_survive_all_ops(spark):
    """A NULL payload (e.g. encode(NULL text)) must not kill the job:
    frame_sample skips it, resize/extract propagate NULLs
    (code-review r15)."""
    from cirro_annotation_spark.operators import multimodal as MM

    df = spark.createDataFrame(
        [(1, "image", bytearray(b"0123456789abcdef"), 16), (2, "image", None, None)],
        "media_id long, kind string, payload binary, n_bytes long",
    )
    frames = MM.frame_sample(df, n_frames=2).collect()
    assert {r["media_id"] for r in frames} == {1}

    resized = {r["media_id"]: r for r in MM.resize_payloads(df).collect()}
    assert resized[2]["payload"] is None and resized[2]["n_bytes"] is None
    assert resized[1]["n_bytes"] is not None

    feats = {r["media_id"]: r for r in MM.extract_features(df).collect()}
    assert feats[2]["decoded_len"] is None and feats[2]["checksum"] is None
    assert feats[1]["decoded_len"] == 16
