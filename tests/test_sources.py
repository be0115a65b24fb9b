"""Source-format robustness: ORC, compression codecs, corrupt-record
handling, output file-size control — the operational surface of a
100 TB ingest beyond the happy path."""
from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from cirro_annotation_spark.suites.util import t


def test_orc_roundtrip(spark, sf_dir, tmp_path):
    """ORC is the other columnar lakehouse format Spark speaks natively;
    the engine's scan/sink surface covers it with the same API."""
    target = str(tmp_path / "nation_orc")
    df = t(spark, sf_dir, "nation")
    df.write.mode("overwrite").orc(target)
    back = spark.read.orc(target)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_parquet_zstd_roundtrip(spark, sf_dir, tmp_path):
    """zstd is the default production codec choice (better ratio than
    snappy at similar speed); values must round-trip unchanged."""
    target = str(tmp_path / "region_zstd")
    df = t(spark, sf_dir, "region")
    df.write.mode("overwrite").option("compression", "zstd").parquet(target)
    files = glob.glob(os.path.join(target, "*.zstd.parquet"))
    assert files, os.listdir(target)
    back = spark.read.parquet(target)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


@pytest.fixture()
def dirty_jsonl(tmp_path):
    path = tmp_path / "dirty.jsonl"
    lines = [
        json.dumps({"id": 1, "v": "ok"}),
        "{this is not json",
        json.dumps({"id": 3, "v": "fine"}),
    ]
    path.write_text("\n".join(lines) + "\n")
    return str(path)


def test_permissive_mode_captures_corrupt_records(spark, dirty_jsonl):
    """Dirty data is the norm at corpus scale: PERMISSIVE mode must keep
    good rows AND surface bad ones in _corrupt_record for quarantine
    instead of failing the whole ingest."""
    df = spark.read.schema("id long, v string, _corrupt_record string").json(
        dirty_jsonl
    )
    rows = df.collect()
    good = {(r["id"], r["v"]) for r in rows if r["_corrupt_record"] is None}
    bad = [r["_corrupt_record"] for r in rows if r["_corrupt_record"] is not None]
    assert good == {(1, "ok"), (3, "fine")}
    assert len(bad) == 1 and bad[0].startswith("{this")


def test_failfast_mode_raises_on_corrupt_records(spark, dirty_jsonl):
    """FAILFAST is the validation-gate twin: any malformed record aborts.
    (The executor-side SparkException surfaces as a Py4J error wrapper,
    so assert on the failure reason, not the Python exception type.)"""
    df = spark.read.schema("id long, v string").option("mode", "FAILFAST").json(
        dirty_jsonl
    )
    with pytest.raises(Exception, match="FAILFAST|MALFORMED|Malformed"):
        df.collect()


def test_max_records_per_file_bounds_output_files(spark, sf_dir, tmp_path):
    """maxRecordsPerFile caps output file size without a repartition —
    the knob that stops one fat task from writing a 100 GB file."""
    target = str(tmp_path / "docs_chunked")
    d = t(spark, sf_dir, "documents").select("doc_id", "lang").coalesce(1)
    d.write.option("maxRecordsPerFile", 100).mode("overwrite").parquet(target)
    files = glob.glob(os.path.join(target, "part-*.parquet"))
    n = d.count()
    assert len(files) >= n // 100  # one writer still splits into ≤100-row files
    for f in files:
        assert spark.read.parquet(f).count() <= 100


def test_sniff_via_hadoop_fs_scheme_path(spark, tmp_path):
    """A scheme-qualified path ('file://...') must sniff through the
    Hadoop FileSystem API — the cloud-storage code path — and agree
    with the local-open result."""
    from cirro_annotation_spark.sources.dsv import sniff

    p = tmp_path / "t.tsv"
    p.write_text("a\tb\tc\n1\t2\t3\n")
    assert sniff(str(p)) == ("\t", ["a", "b", "c"])
    assert sniff("file://" + str(p), spark=spark) == ("\t", ["a", "b", "c"])


def test_sniff_scheme_path_without_session_raises(tmp_path, monkeypatch):
    """A head read of a scheme-qualified path uses the caller's session
    and never starts one of its own."""
    from cirro_annotation_spark import session
    from cirro_annotation_spark.sources.dsv import sniff

    def no_new_session(*args, **kwargs):
        raise AssertionError("a head read started a SparkSession")

    monkeypatch.setattr(session, "get_spark", no_new_session)
    p = tmp_path / "t.tsv"
    p.write_text("a\tb\n1\t2\n")
    with pytest.raises(ValueError, match="needs a SparkSession"):
        sniff("file://" + str(p))


def test_sniff_gz_truncation_tolerant(tmp_path):
    """gz sniffing decompresses a HEAD slice tolerantly (no EOFError on
    the truncated member) — pin with a file larger than the sniff
    window."""
    import gzip as _gzip

    from cirro_annotation_spark.sources.dsv import sniff

    p = tmp_path / "big.csv.gz"
    body = "x,y,z\n" + "\n".join(f"{i},{i},{i}" for i in range(200_000))
    with _gzip.open(p, "wt") as f:
        f.write(body)
    assert sniff(str(p)) == (",", ["x", "y", "z"])


def test_sniff_names_follow_spark_header_rules(tmp_path):
    """Names decided from the head read are the names Spark's CSV
    header gives, normalized: an empty name is ``_c<i>``, names that
    repeat case-insensitively get their index, blank lines before the
    header are skipped, and ``header=False`` names fields ``_c0..``."""
    from cirro_annotation_spark.sources.dsv import sniff

    p = tmp_path / "t.csv"
    p.write_text("\n,Gene,gene,Score \n1,a,b,2\n")
    assert sniff(str(p)) == (",", ["_c0", "gene1", "gene2", "score"])
    assert sniff(str(p), header=False) == (",", ["_c0", "_c1", "_c2", "_c3"])


def test_sniff_rejects_first_line_longer_than_head_bound(tmp_path, monkeypatch):
    """A first line that does not end within the head-read bound fails
    loudly instead of being cut into wrong column names."""
    from cirro_annotation_spark.sources import dsv

    monkeypatch.setattr(dsv, "MAX_HEAD_BYTES", 64 << 10)
    p = tmp_path / "wide.tsv"
    p.write_text("\t".join(f"col{i}" for i in range(20_000)) + "\n1\n")
    with pytest.raises(ValueError, match="first line"):
        dsv.sniff(str(p))


def test_harvest_columns_launches_no_spark_job(tmp_path):
    """The planner's column harvest is the head read alone: it never
    touches the session for local files."""
    from cirro_annotation_spark.sources.dsv import harvest_columns

    class NoSpark:
        def __getattr__(self, name):
            raise AssertionError(f"harvest_columns used spark.{name}")

    (tmp_path / "a.tsv").write_text("ID\tScore\n1\t2\n")
    (tmp_path / "b.csv").write_text("x,y\n1,2\n")
    assert harvest_columns(NoSpark(), str(tmp_path), ["a.tsv", "b.csv"]) == {
        "a.tsv": ["id", "score"],
        "b.csv": ["x", "y"],
    }
