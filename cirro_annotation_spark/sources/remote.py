"""Remote dataset source — the reference's ``get_dataset``
(``annotation/commands/run_annotate.py:69-101``).

Reference semantics, step by step: list projects (``:71-75``), resolve the
chosen project *name* back to its id (``:78``, the SDK's
``get_id_from_name``), enumerate the project's datasets and the processes
that produced them (``:79-82``), narrow to one process and one dataset
(``:83-86``), build a deterministic cache directory
``temp/{process}/{project}/{dataset}`` (``:88``), and — only when that
cache is empty (``:90``) — list the dataset's files, drop those whose name
doesn't end with a wanted extension (``:94``), download the survivors
(``:96-99``), and return the directory.

Spark-first inversion: at 100 TB the download-then-read shape is the
anti-pattern — the engine resolves the same catalog walk to a list of
storage URIs and hands them straight to ``spark.read``
(:func:`read_dataset`), letting Spark's data source framework do the
ranged, parallel, executor-side IO against ``s3a://`` / ``gs://`` /
``abfss://`` / ``file://``. The scan stays column-pruned and
filter-pushed because nothing is copied out of the columnar source first.
The local cache path (:func:`cache_dataset`) survives for what it is
actually good for — small control-plane files (data dictionaries,
manifests) a driver re-reads often — with the reference's exact
idempotency rule: skip the fetch when the cache dir is non-empty.

Catalog access is pluggable (:class:`Catalog`): :class:`LocalFsCatalog`
is the implementation over a mounted directory layout
(``root/<project>/<dataset>/data/**`` — the same ``data/`` subtree the
reference's ``get_file_list`` walks at ``run_annotate.py:54-66``). A
portal client implements the same protocol.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from typing import Protocol

from pyspark.sql import DataFrame, SparkSession

from cirro_annotation_spark.sources.discovery import escape_glob

__all__ = [
    "ProjectRef",
    "DatasetRef",
    "FileRef",
    "Catalog",
    "LocalFsCatalog",
    "resolve_id",
    "resolve_dataset_ref",
    "resolve_dataset_files",
    "dataset_cache_dir",
    "cache_dataset",
    "read_dataset",
]


@dataclass(frozen=True)
class ProjectRef:
    """A project the portal lists (reference ``cirro.project.list()``)."""

    id: str
    name: str


@dataclass(frozen=True)
class DatasetRef:
    """A dataset within a project, tagged with the process that produced
    it (reference ``cirro.dataset.find_by_project`` + ``process_id``
    grouping at ``run_annotate.py:80-86``)."""

    id: str
    name: str
    project_id: str
    process_id: str


@dataclass(frozen=True)
class FileRef:
    """One dataset file: portal-relative name plus a resolvable URI.

    The reference's download filter matches on ``file.name`` endings
    (``run_annotate.py:94``); ``uri`` is what ``spark.read`` consumes
    directly — the two are distinct on purpose (object-store keys vs
    access URIs).
    """

    name: str
    uri: str
    size: int = 0


class Catalog(Protocol):
    """The minimal portal surface ``get_dataset`` exercises."""

    def list_projects(self) -> list[ProjectRef]: ...

    def find_datasets(self, project_id: str) -> list[DatasetRef]: ...

    def list_files(self, project_id: str, dataset_id: str) -> list[FileRef]: ...

    def fetch_file(self, file: FileRef, target_path: str) -> None: ...


def _safe_component(value: str, what: str) -> str:
    """Validate a single catalog-supplied path component: no separators,
    no '..', not absolute. The catalog is REMOTE input — a malicious or
    malformed portal must not be able to steer local writes outside the
    cache root (code-review r15)."""
    if (
        not value
        or value in (".", "..")
        or "/" in value
        or "\\" in value
        or os.path.isabs(value)
    ):
        raise ValueError(f"unsafe {what} from catalog: {value!r}")
    return value


def _safe_relpath(name: str) -> str:
    """Validate a catalog-supplied file name as a strictly-descending
    relative path (subdirs allowed, traversal not)."""
    if os.path.isabs(name) or "\\" in name:
        raise ValueError(f"unsafe file name from catalog: {name!r}")
    parts = name.split("/")
    if any(p in ("", ".", "..") for p in parts):
        raise ValueError(f"unsafe file name from catalog: {name!r}")
    return name


def resolve_id(refs, name_or_id: str) -> str:
    """Name-or-id → id, the SDK's ``get_id_from_name`` contract
    (``run_annotate.py:78``): an exact id match wins, else an exact name
    match; ambiguity and no-match both raise (the reference surfaces the
    SDK's lookup failure rather than guessing)."""
    by_id = [r for r in refs if r.id == name_or_id]
    if by_id:
        return by_id[0].id
    by_name = [r for r in refs if r.name == name_or_id]
    if len(by_name) == 1:
        return by_name[0].id
    if len(by_name) > 1:
        raise ValueError(
            f"name {name_or_id!r} is ambiguous across {len(by_name)} entries; "
            "pass the id"
        )
    raise KeyError(f"no project/dataset named {name_or_id!r}")


class LocalFsCatalog:
    """Catalog over a mounted directory tree — the tested implementation.

    Layout: ``root/<project>/<dataset>/data/**`` (the ``data/`` subtree
    mirrors the reference's ``get_file_list`` walk root,
    ``run_annotate.py:56``). Ids default to the directory names; a
    dataset directory may carry a ``meta.json`` (``{"id": ..., "name":
    ..., "process_id": ...}``) to model the portal's distinct id/name/
    process fields — absent one, ``process_id`` is ``"local"``.

    Listing is driver-side metadata traffic, same as Spark's own file
    listing before a scan plans; for 10M+-file datasets the production
    catalog answers from its index, not a walk — this class is the
    correctness model of that contract, not the scale path itself.
    """

    def __init__(self, root: str):
        self.root = root

    def _meta(self, path: str) -> dict:
        meta_path = os.path.join(path, "meta.json")
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                return json.load(f)
        return {}

    def list_projects(self) -> list[ProjectRef]:
        out = []
        for name in sorted(os.listdir(self.root)):
            path = os.path.join(self.root, name)
            if not os.path.isdir(path):
                continue
            meta = self._meta(path)
            out.append(ProjectRef(id=meta.get("id", name), name=meta.get("name", name)))
        return out

    def _project_dir(self, project_id: str) -> str:
        for name in sorted(os.listdir(self.root)):
            path = os.path.join(self.root, name)
            if not os.path.isdir(path):
                continue
            if self._meta(path).get("id", name) == project_id:
                return path
        raise KeyError(f"no project with id {project_id!r}")

    def find_datasets(self, project_id: str) -> list[DatasetRef]:
        proj = self._project_dir(project_id)
        out = []
        for name in sorted(os.listdir(proj)):
            path = os.path.join(proj, name)
            if not os.path.isdir(path):
                continue
            meta = self._meta(path)
            out.append(
                DatasetRef(
                    id=meta.get("id", name),
                    name=meta.get("name", name),
                    project_id=project_id,
                    process_id=meta.get("process_id", "local"),
                )
            )
        return out

    def _dataset_dir(self, project_id: str, dataset_id: str) -> str:
        proj = self._project_dir(project_id)
        for name in sorted(os.listdir(proj)):
            path = os.path.join(proj, name)
            if not os.path.isdir(path):
                continue
            if self._meta(path).get("id", name) == dataset_id:
                return path
        raise KeyError(f"no dataset with id {dataset_id!r} in project {project_id!r}")

    def list_files(self, project_id: str, dataset_id: str) -> list[FileRef]:
        data_root = os.path.join(self._dataset_dir(project_id, dataset_id), "data")
        if not os.path.isdir(data_root):
            # loud, not [] — an empty listing here would be blamed on the
            # caller's extension filter downstream (code-review r15)
            raise KeyError(
                f"dataset {dataset_id!r} has no data/ subtree at {data_root}"
            )
        out: list[FileRef] = []
        for dirpath, _dirnames, filenames in os.walk(data_root):
            for fn in filenames:
                full = os.path.join(dirpath, fn)
                out.append(
                    FileRef(
                        name=os.path.relpath(full, data_root),
                        uri="file://" + full,
                        size=os.path.getsize(full),
                    )
                )
        out.sort(key=lambda f: f.name)
        return out

    def fetch_file(self, file: FileRef, target_path: str) -> None:
        src = file.uri.removeprefix("file://")
        os.makedirs(os.path.dirname(target_path), exist_ok=True)
        shutil.copyfile(src, target_path)


def _extension_filter(files: list[FileRef], extensions: list[str]) -> list[FileRef]:
    """The reference's download filter (``run_annotate.py:94``):
    keep files whose *name* ends with any wanted extension."""
    return [f for f in files if any(f.name.endswith(ext) for ext in extensions)]


def resolve_dataset_ref(
    catalog: Catalog, project: str, dataset: str
) -> DatasetRef:
    """Project name-or-id → id (``:78``), dataset name-or-id → ref
    (``:79-86``) — the cheap catalog walk, no file listing."""
    project_id = resolve_id(catalog.list_projects(), project)
    datasets = catalog.find_datasets(project_id)
    dataset_id = resolve_id(datasets, dataset)
    return next(d for d in datasets if d.id == dataset_id)


def resolve_dataset_files(
    catalog: Catalog,
    project: str,
    dataset: str,
    extensions: list[str],
) -> tuple[DatasetRef, list[FileRef]]:
    """The catalog walk of ``get_dataset`` minus the download: project
    name-or-id → id (``:78``), dataset name-or-id → ref (``:79-86``),
    file listing filtered by extension (``:91-94``)."""
    ref = resolve_dataset_ref(catalog, project, dataset)
    files = _extension_filter(catalog.list_files(ref.project_id, ref.id), extensions)
    return ref, files


def dataset_cache_dir(cache_root: str, ref: DatasetRef) -> str:
    """The reference's deterministic cache path
    ``temp/{process}/{project}/{dataset}`` (``run_annotate.py:88``).
    Each component is validated — ids come from the (remote) catalog."""
    return os.path.join(
        cache_root,
        _safe_component(ref.process_id, "process_id"),
        _safe_component(ref.project_id, "project_id"),
        _safe_component(ref.id, "dataset id"),
    )


def cache_dataset(
    catalog: Catalog,
    project: str,
    dataset: str,
    extensions: list[str],
    cache_root: str,
) -> str:
    """``get_dataset`` end-to-end for the small-file control plane:
    resolve, then fetch into the deterministic cache dir — but ONLY when
    the dir is absent/empty (the reference's idempotency check at
    ``:90``; a warm cache short-circuits the file listing AND the
    download — only the cheap project/dataset resolution runs).
    Returns the cache directory path (``:101``).

    The fetch is ALL-OR-NOTHING: files land in a staging dir that is
    renamed into place only after every fetch succeeds, so a partial
    failure can never leave a non-empty cache that later calls would
    mistake for complete (code-review r15)."""
    ref = resolve_dataset_ref(catalog, project, dataset)
    data_dir = dataset_cache_dir(cache_root, ref)
    if os.path.isdir(data_dir) and len(os.listdir(data_dir)) > 0:
        return data_dir
    files = _extension_filter(catalog.list_files(ref.project_id, ref.id), extensions)
    staging = data_dir + ".staging"
    if os.path.isdir(staging):
        shutil.rmtree(staging)
    os.makedirs(staging)
    try:
        for f in files:
            catalog.fetch_file(f, os.path.join(staging, _safe_relpath(f.name)))
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    if os.path.isdir(data_dir):  # the empty dir a prior run left behind
        os.rmdir(data_dir)
    os.replace(staging, data_dir)
    return data_dir


def read_dataset(
    spark: SparkSession,
    catalog: Catalog,
    project: str,
    dataset: str,
    extensions: list[str],
    format: str = "parquet",
    **options,
) -> DataFrame:
    """The scale path: resolve the dataset to URIs and let ``spark.read``
    scan them in place, each as itself, not as a glob — no download hop,
    so predicate pushdown, column pruning, and split planning all act on
    the original columnar files.
    Raises on an empty resolution (a silent empty scan would mask a bad
    extension filter — the reference would download nothing and then fail
    downstream; we fail at the source)."""
    _ref, files = resolve_dataset_files(catalog, project, dataset, extensions)
    if not files:
        raise ValueError(
            f"dataset {dataset!r} has no files matching extensions {extensions}"
        )
    reader = spark.read.format(format)
    if options:
        reader = reader.options(**options)
    return reader.load([escape_glob(f.uri) for f in files])
