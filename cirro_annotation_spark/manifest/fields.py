"""Fields-dictionary resolution — both generations of the reference's
column dictionary (SURVEY.md §1.1):

- RICH form (json/example/fields.json:3-75): entries carry an alias list
  (``"column": ["p.value", "pvalue", "p-value"]``) and per-scope metadata
  records (``{"process": "*", "file": "*", "name": ..., "desc": ...}``) so
  one dictionary serves many pipelines/files.
- FLAT form (json/example/gpt/fields.json:2-6): ``[{col, name, desc}]``.
- MAPPING form (internal convenience): ``{col: {name, desc}}``.

Scope matching: a metadata record applies when its process/file patterns
match the query (exact or ``*`` wildcard; fnmatch-style globs accepted
since the reference uses ``*``). More-specific records win: exact beats
wildcard, process specificity beats file specificity (process is the
outer scope in the reference's layout). Aliases and queried columns are
matched under the sniffer's column-name rule, ``dsv.normalize_name``.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from dataclasses import dataclass
from fnmatch import fnmatchcase

from cirro_annotation_spark.sources.dsv import normalize_name


@dataclass(frozen=True)
class ScopedMeta:
    process: str
    file: str
    name: str
    desc: str

    def matches(self, process: str, file: str) -> bool:
        return _match(self.process, process) and _match(self.file, file)

    def specificity(self) -> int:
        # exact process outranks exact file; both-exact is highest.
        return (0 if self.process == "*" else 2) + (0 if self.file == "*" else 1)


def _match(pattern: str, value: str) -> bool:
    if pattern == "*" or pattern == value:
        return True
    return fnmatchcase(value, pattern)


class FieldsDictionary:
    """Alias-aware, scope-aware column dictionary."""

    def __init__(self) -> None:
        self._by_alias: dict[str, list[ScopedMeta]] = {}

    def add(self, aliases: Sequence[str], metas: Sequence[ScopedMeta]) -> None:
        for alias in aliases:
            self._by_alias.setdefault(normalize_name(alias), []).extend(metas)

    def resolve(
        self, column: str, process: str = "*", file: str = "*"
    ) -> dict[str, str] | None:
        """Best-scope {name, desc} for a column, or None if unknown.
        Empty name/desc records (the reference uses them as 'known but
        undescribed here' placeholders, fields.json:19-24) lose to any
        record with content at equal specificity."""
        metas = self._by_alias.get(normalize_name(column))
        if not metas:
            return None
        applicable = [m for m in metas if m.matches(process, file)]
        if not applicable:
            return None
        best = max(applicable, key=lambda m: (m.specificity(), bool(m.name or m.desc)))
        return {"name": best.name, "desc": best.desc}

    def __contains__(self, column: str) -> bool:
        return normalize_name(column) in self._by_alias


def load_fields_dictionary(obj) -> FieldsDictionary:
    """Build a FieldsDictionary from any of the three shapes."""
    d = FieldsDictionary()
    if isinstance(obj, FieldsDictionary):
        return obj
    if isinstance(obj, Mapping):
        # {col: {name, desc}}
        for col, meta in obj.items():
            d.add(
                [col],
                [
                    ScopedMeta(
                        "*", "*", meta.get("name", col), meta.get("desc", "")
                    )
                ],
            )
        return d
    for entry in obj:  # list forms
        if "column" in entry:  # rich form
            aliases = entry["column"]
            if isinstance(aliases, str):
                aliases = [aliases]
            metas = [
                ScopedMeta(
                    m.get("process", "*"),
                    m.get("file", "*"),
                    m.get("name", ""),
                    m.get("desc", ""),
                )
                for m in entry.get("metadata", [])
            ]
            d.add(aliases, metas)
        else:  # flat form {col, name, desc}
            d.add(
                [entry["col"]],
                [ScopedMeta("*", "*", entry.get("name", ""), entry.get("desc", ""))],
            )
    return d
