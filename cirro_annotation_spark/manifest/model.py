"""Manifest data model — one canonical schema for the reference's IR.

The reference emits ``{"commands": [...]}`` (run_annotate.py:314-319) but
ships a JSON-Schema describing an older ``{files, columns}`` shape
(manifest.schema.json — a real drift bug, SURVEY.md §5). We define ONE
canonical dataclass model matching what run_annotate actually emits
(run_annotate.py:187-197, 226-234), with a loader that checks every
field as it parses it.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field


@dataclass(frozen=True)
class ColumnSpec:
    """Dictionary-resolved column: source name + display metadata
    (run_annotate.py:183-184; fields.json entries {col, name, desc})."""

    col: str
    name: str = ""
    desc: str = ""


@dataclass(frozen=True)
class MeltSpec:
    """Wide→long spec (run_annotate.py:202-211): the key/value column
    names+descriptions; value columns = every non-id column in ``cols``
    that belongs to the variable group."""

    key_name: str
    value_name: str
    value_cols: tuple[str, ...]
    key_desc: str = ""
    value_desc: str = ""


@dataclass(frozen=True)
class ReadOptions:
    """Per-file read kwargs (transform.json:16-19)."""

    sep: str | None = None  # None → sniff
    header: bool = True
    index_col: str | None = None  # kept as a normal column; recorded as row identity


@dataclass(frozen=True)
class TransformCommand:
    """One ``hot.Parquet`` command (run_annotate.py:187-197)."""

    source: str  # path or token template, e.g. data/mageck/[gene]/rra.txt
    target: str  # output parquet path
    name: str = ""
    desc: str = ""
    cols: tuple[ColumnSpec, ...] = ()
    tokens: tuple[str, ...] = ()  # the reference's ``concat`` token list
    melt: MeltSpec | None = None
    read: ReadOptions = field(default_factory=ReadOptions)


@dataclass(frozen=True)
class Manifest:
    commands: tuple[TransformCommand, ...]

    def to_json(self) -> str:
        def enc(o):
            if isinstance(o, TransformCommand):
                d = {
                    "command": "hot.Parquet",
                    "params": {
                        "source": o.source,
                        "target": o.target,
                        "name": o.name,
                        "desc": o.desc,
                        "cols": [vars(c) for c in o.cols],
                    },
                }
                if o.tokens:
                    d["params"]["concat"] = list(o.tokens)
                if o.melt:
                    d["params"]["melt"] = {
                        "key": {"name": o.melt.key_name, "desc": o.melt.key_desc},
                        "value": {"name": o.melt.value_name, "desc": o.melt.value_desc},
                        "value_cols": list(o.melt.value_cols),
                    }
                kw = {}
                if o.read.sep is not None:
                    kw["sep"] = o.read.sep
                if o.read.header is not True:
                    # header=False must round-trip: load_manifest defaults
                    # the key to True, so omitting it would re-read the
                    # first data row as a header (code-review r15).
                    kw["header"] = o.read.header
                if o.read.index_col is not None:
                    kw["index_col"] = o.read.index_col
                if kw:
                    d["params"]["kwargs"] = {"read": kw}
                return d
            raise TypeError(type(o))

        return json.dumps(
            {"commands": [enc(c) for c in self.commands]}, indent=2
        )


class ManifestValidationError(ValueError):
    """Malformed manifest — raised at LOAD time with a path to the bad
    field, instead of an opaque failure deep inside Spark (the reference
    ships manifest.schema.json but never validates against it — a drift
    bug we fix rather than replicate, SURVEY.md §5)."""


def _check(ok: bool, where: str, what: str) -> None:
    if not ok:
        raise ManifestValidationError(f"{where}: {what}")


def _obj(d: dict, key: str, where: str) -> dict:
    """``d[key]`` as an object; absent or null reads as ``{}``."""
    v = d.get(key)
    _check(v is None or isinstance(v, dict), f"{where}.{key}", "must be an object")
    return v or {}


def _str(d: dict, key: str, where: str, default: str | None = "") -> str | None:
    """``d[key]`` as a string; absent or null reads as ``default``."""
    v = d.get(key)
    if v is None:
        return default
    _check(isinstance(v, str), f"{where}.{key}", "must be a string")
    return v


def _strs(d: dict, key: str, where: str) -> tuple[str, ...]:
    v = d.get(key, [])
    _check(isinstance(v, list), f"{where}.{key}", "must be a list of strings")
    for i, item in enumerate(v):
        _check(isinstance(item, str), f"{where}.{key}[{i}]", "must be a string")
    return tuple(v)


def _parse_command(d, where: str) -> TransformCommand:
    """One command, every field checked as it is read, so a malformed
    manifest fails at load time with the path of the bad field instead
    of deep inside Spark."""
    _check(isinstance(d, dict), where, f"command must be an object, got {type(d).__name__}")
    command = d.get("command", "hot.Parquet")
    _check(
        command == "hot.Parquet", f"{where}.command",
        f"unknown command {command!r} (only hot.Parquet is declared, run_annotate.py:188)",
    )
    p = d.get("params", d)
    where = f"{where}.params"
    _check(isinstance(p, dict), where, "must be an object")
    for req in ("source", "target"):
        _check(isinstance(p.get(req), str) and p[req] != "", f"{where}.{req}", "required non-empty string")

    raw_cols = p.get("cols", [])
    _check(isinstance(raw_cols, list), f"{where}.cols", "must be a list")
    cols = []
    for i, c in enumerate(raw_cols):
        at = f"{where}.cols[{i}]"
        _check(isinstance(c, dict) and "col" in c, at, "needs a 'col' key")
        _check(isinstance(c["col"], str), f"{at}.col", "must be a string")
        cols.append(ColumnSpec(c["col"], _str(c, "name", at), _str(c, "desc", at)))

    melt = None
    m = _obj(p, "melt", where)
    if m:
        at = f"{where}.melt"
        key, value = _obj(m, "key", at), _obj(m, "value", at)
        melt = MeltSpec(
            key_name=_str(key, "name", f"{at}.key", "variable"),
            value_name=_str(value, "name", f"{at}.value", "value"),
            value_cols=_strs(m, "value_cols", at),
            key_desc=_str(key, "desc", f"{at}.key"),
            value_desc=_str(value, "desc", f"{at}.value"),
        )

    kw = _obj(_obj(p, "kwargs", where), "read", f"{where}.kwargs")
    at = f"{where}.kwargs.read"
    header = kw.get("header", True)
    _check(isinstance(header, bool), f"{at}.header", "must be true or false")
    return TransformCommand(
        source=p["source"],
        target=p["target"],
        name=_str(p, "name", where),
        desc=_str(p, "desc", where),
        cols=tuple(cols),
        tokens=_strs(p, "concat", where),
        melt=melt,
        read=ReadOptions(
            sep=_str(kw, "sep", at, None),
            header=header,
            index_col=_str(kw, "index_col", at, None),
        ),
    )


def load_manifest(obj: str | dict) -> Manifest:
    """Parse a manifest from JSON text or dict; flattens the reference's
    nested command groups (commands is a list of lists at
    run_annotate.py:314-319)."""
    if isinstance(obj, str):
        obj = json.loads(obj)
    if not isinstance(obj, dict) or not isinstance(obj.get("commands", []), list):
        raise ManifestValidationError("manifest root must be {'commands': [...]}")
    raw = obj.get("commands", [])
    flat: list[dict] = []
    for item in raw:
        if isinstance(item, list):
            flat.extend(item)
        else:
            flat.append(item)
    return Manifest(
        commands=tuple(_parse_command(c, f"commands[{i}]") for i, c in enumerate(flat))
    )
