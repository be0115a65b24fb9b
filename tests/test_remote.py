"""Remote dataset source (sources/remote.py) — parity with the reference's
get_dataset (annotation/commands/run_annotate.py:69-101): catalog walk,
name-or-id resolution, extension filter, deterministic cache dir with the
skip-if-nonempty idempotency rule, and the Spark-first direct-read path.
"""

from __future__ import annotations

import json
import os

import pytest

from cirro_annotation_spark.sources.remote import (
    LocalFsCatalog,
    cache_dataset,
    dataset_cache_dir,
    read_dataset,
    resolve_dataset_files,
    resolve_id,
)


@pytest.fixture()
def portal(tmp_path):
    """Two projects; proj-a/ds1 carries meta.json giving it portal-style
    distinct id/name/process fields, ds2 and proj-b/other use directory
    names as ids (process 'local')."""
    root = tmp_path / "portal"
    ds1 = root / "proj-a" / "ds1"
    (ds1 / "data" / "nested").mkdir(parents=True)
    (ds1 / "meta.json").write_text(
        json.dumps({"id": "d-111", "name": "experiment one", "process_id": "nf-core"})
    )
    (ds1 / "data" / "counts.csv").write_text("sample,val\ns1,1\ns2,2\n")
    (ds1 / "data" / "nested" / "extra.tsv").write_text("a\tb\n1\t2\n")
    (ds1 / "data" / "readme.md").write_text("not a data file\n")
    (ds1 / "data" / "old.csv.gz").write_bytes(b"\x1f\x8b")

    ds2 = root / "proj-a" / "ds2"
    (ds2 / "data").mkdir(parents=True)
    (ds2 / "data" / "only.txt").write_text("x\n1\n")

    other = root / "proj-b" / "other"
    (other / "data").mkdir(parents=True)
    (other / "data" / "b.csv").write_text("c\n9\n")
    return str(root)


def test_list_projects_and_datasets(portal):
    cat = LocalFsCatalog(portal)
    projects = cat.list_projects()
    assert [p.id for p in projects] == ["proj-a", "proj-b"]
    datasets = cat.find_datasets("proj-a")
    assert {(d.id, d.name, d.process_id) for d in datasets} == {
        ("d-111", "experiment one", "nf-core"),
        ("ds2", "ds2", "local"),
    }


def test_resolve_id_name_or_id(portal):
    cat = LocalFsCatalog(portal)
    datasets = cat.find_datasets("proj-a")
    # id match wins, name resolves, miss raises (SDK get_id_from_name contract)
    assert resolve_id(datasets, "d-111") == "d-111"
    assert resolve_id(datasets, "experiment one") == "d-111"
    with pytest.raises(KeyError):
        resolve_id(datasets, "no-such-dataset")


def test_resolve_id_ambiguous():
    from cirro_annotation_spark.sources.remote import ProjectRef

    refs = [ProjectRef("p1", "dup"), ProjectRef("p2", "dup")]
    with pytest.raises(ValueError, match="ambiguous"):
        resolve_id(refs, "dup")
    # an exact id still resolves even when names collide
    assert resolve_id(refs, "p2") == "p2"


def test_extension_filter_matches_reference(portal):
    """run_annotate.py:94 keeps name-endswith matches — .csv also admits
    .csv.gz only when .gz is asked for explicitly."""
    cat = LocalFsCatalog(portal)
    _ref, files = resolve_dataset_files(cat, "proj-a", "d-111", [".csv", ".tsv"])
    assert [f.name for f in files] == ["counts.csv", "nested/extra.tsv"]
    _ref, files = resolve_dataset_files(cat, "proj-a", "d-111", [".csv.gz"])
    assert [f.name for f in files] == ["old.csv.gz"]
    # .md never offered
    _ref, files = resolve_dataset_files(cat, "proj-a", "experiment one", [".md"])
    assert [f.name for f in files] == ["readme.md"]


def test_cache_dataset_layout_and_idempotency(portal, tmp_path):
    cat = LocalFsCatalog(portal)
    cache_root = str(tmp_path / "temp")
    out = cache_dataset(cat, "proj-a", "experiment one", [".csv", ".tsv"], cache_root)
    # reference cache path temp/{process}/{project}/{dataset} (:88)
    assert out == os.path.join(cache_root, "nf-core", "proj-a", "d-111")
    assert sorted(
        os.path.relpath(os.path.join(dp, f), out)
        for dp, _dn, fns in os.walk(out)
        for f in fns
    ) == ["counts.csv", "nested/extra.tsv"]

    # idempotency (:90): a non-empty cache short-circuits the fetch even
    # if upstream changed
    src = os.path.join(portal, "proj-a", "ds1", "data", "counts.csv")
    with open(src, "a") as f:
        f.write("s3,3\n")
    out2 = cache_dataset(cat, "proj-a", "d-111", [".csv", ".tsv"], cache_root)
    assert out2 == out
    with open(os.path.join(out, "counts.csv")) as f:
        assert "s3,3" not in f.read()


def test_read_dataset_direct_scan(portal, spark):
    """The scale path: spark.read over resolved URIs, no download hop."""
    cat = LocalFsCatalog(portal)
    df = read_dataset(
        spark, cat, "proj-a", "d-111", [".csv"], format="csv", header=True
    )
    rows = {(r["sample"], r["val"]) for r in df.collect()}
    assert rows == {("s1", "1"), ("s2", "2")}


def test_read_dataset_parquet(portal, spark, tmp_path):
    pq_ds = os.path.join(portal, "proj-b", "pq")
    data = os.path.join(pq_ds, "data")
    spark.range(10).withColumnRenamed("id", "k").coalesce(1).write.parquet(
        os.path.join(data, "part0")
    )
    df = read_dataset(spark, LocalFsCatalog(portal), "proj-b", "pq", [".parquet"])
    assert df.count() == 10
    assert df.columns == ["k"]


def test_read_dataset_directory_with_brackets(portal, spark):
    """A dataset directory ``d[1]`` is read as itself, not as a glob
    (which would match ``d1``, or nothing)."""
    for name, rows in (("d[1]", "s,1\n"), ("d1", "wrong,9\n")):
        data = os.path.join(portal, "proj-b", name, "data")
        os.makedirs(data)
        with open(os.path.join(data, "x.csv"), "w") as f:
            f.write("k,v\n" + rows)
    df = read_dataset(
        spark, LocalFsCatalog(portal), "proj-b", "d[1]", [".csv"], format="csv", header=True
    )
    assert [tuple(r) for r in df.collect()] == [("s", "1")]


def test_read_dataset_empty_resolution_raises(portal, spark):
    with pytest.raises(ValueError, match="no files matching"):
        read_dataset(spark, LocalFsCatalog(portal), "proj-a", "ds2", [".parquet"])


def test_missing_project_and_dataset_raise(portal):
    cat = LocalFsCatalog(portal)
    with pytest.raises(KeyError):
        cat.find_datasets("nope")
    with pytest.raises(KeyError):
        cat.list_files("proj-a", "nope")


def test_missing_data_subtree_is_loud(portal):
    """A dataset dir without data/ raises instead of listing [] — an
    empty listing would be blamed on the extension filter downstream."""
    os.makedirs(os.path.join(portal, "proj-b", "hollow"))
    with pytest.raises(KeyError, match="data/ subtree"):
        LocalFsCatalog(portal).list_files("proj-b", "hollow")


def test_warm_cache_skips_file_listing(portal, tmp_path):
    """Reference run_annotate.py:90 — a non-empty cache short-circuits
    the (expensive) file listing, not just the download."""
    cat = LocalFsCatalog(portal)
    cache_root = str(tmp_path / "temp")
    cache_dataset(cat, "proj-a", "d-111", [".csv"], cache_root)

    calls = []
    orig = LocalFsCatalog.list_files
    cat.list_files = lambda *a: calls.append(a) or orig(cat, *a)
    out = cache_dataset(cat, "proj-a", "d-111", [".csv"], cache_root)
    assert calls == [] and os.path.isdir(out)


def test_partial_fetch_failure_leaves_no_cache(portal, tmp_path):
    """All-or-nothing staging: a fetch that dies mid-way must not leave
    a non-empty cache dir a later call would mistake for complete."""
    cat = LocalFsCatalog(portal)
    cache_root = str(tmp_path / "temp")

    fetched = []

    def failing_fetch(file, target):
        if fetched:  # first file lands, second blows up
            raise OSError("simulated network failure")
        fetched.append(file.name)
        LocalFsCatalog.fetch_file(cat, file, target)

    cat.fetch_file = failing_fetch
    with pytest.raises(OSError, match="simulated"):
        cache_dataset(cat, "proj-a", "d-111", [".csv", ".tsv"], cache_root)
    assert fetched  # the failure really was mid-fetch
    expected = os.path.join(cache_root, "nf-core", "proj-a", "d-111")
    assert not os.path.exists(expected) and not os.path.exists(
        expected + ".staging"
    )

    # recovery: a clean catalog retries from scratch and completes
    cat.fetch_file = lambda f, t: LocalFsCatalog.fetch_file(cat, f, t)
    out = cache_dataset(cat, "proj-a", "d-111", [".csv", ".tsv"], cache_root)
    assert sorted(os.listdir(out)) == ["counts.csv", "nested"]


def test_catalog_supplied_paths_are_sanitized(portal, tmp_path):
    """A malicious/malformed catalog must not steer writes outside the
    cache root — neither via file names nor via dataset/process ids."""
    from cirro_annotation_spark.sources.remote import (
        DatasetRef,
        FileRef,
        dataset_cache_dir,
    )

    cat = LocalFsCatalog(portal)
    evil_name = FileRef(name="../escape.csv", uri="file:///dev/null")
    cat.list_files = lambda *a: [evil_name]
    with pytest.raises(ValueError, match="unsafe file name"):
        cache_dataset(cat, "proj-a", "d-111", [".csv"], str(tmp_path / "t"))

    for bad in ("..", "a/b", "/abs", ""):
        with pytest.raises(ValueError, match="unsafe"):
            dataset_cache_dir(
                str(tmp_path), DatasetRef(id=bad, name="x", project_id="p", process_id="q")
            )
    abs_file = FileRef(name="/etc/passwd", uri="file:///etc/passwd")
    cat.list_files = lambda *a: [abs_file]
    with pytest.raises(ValueError, match="unsafe file name"):
        cache_dataset(cat, "proj-a", "d-111", ["passwd"], str(tmp_path / "t2"))
