"""Property-based tests (hypothesis) for the token-template rule — the
reference's core path algebra (run_annotate.py:133-136): for ANY
template and token values, glob/regex/extraction must agree, and over a
generated tree the compiler's listing must pick what the planner's walk
picks. Literals, token values and the data directory's name draw glob
and regex metacharacters too.
"""
from __future__ import annotations

import fnmatch
import gzip
import os
import re
import tempfile

from hypothesis import given, settings
from hypothesis import strategies as st

from cirro_annotation_spark.manifest import compiler
from cirro_annotation_spark.manifest.compiler import (
    compile_command,
    template_members,
    token_template_to_glob,
    token_template_to_regex,
)
from cirro_annotation_spark.manifest.model import TOKEN_RE, TransformCommand, extract_tokens

_META = "[]{}*?+% "


def _segment(alphabet: str, min_size: int = 1):
    """One path segment: never '.' or '..', never a ``[token]``."""
    return st.text(alphabet=st.sampled_from(alphabet), min_size=min_size, max_size=8).filter(
        lambda s: s not in (".", "..") and not TOKEN_RE.search(s)
    )


_literal = _segment("abcdefghij_0123456789.-" + _META)
_prefix = _segment("abc_-" + _META, min_size=0)
_token_name = st.text(
    alphabet=st.sampled_from("abcdefghijklmnopqrstuvwxyz"), min_size=1, max_size=6
)
_token_value = _segment("ABCDEFxyz0123456789_-." + _META)


@st.composite
def template_and_values(draw, min_tokens=1):
    """``(template, {token: value})``: '/'-separated segments, each token
    alone in its segment after an optional literal prefix, and a file
    name Spark does not skip as hidden (no leading '.' or '_')."""
    n = draw(st.integers(min_value=min_tokens, max_value=3))
    names = draw(st.lists(_token_name, min_size=n, max_size=n, unique=True))
    parts = [draw(_literal)]
    for name in names:
        parts.append(f"{draw(_prefix)}[{name}]")
        parts.append(draw(_literal))
    parts[-1] = "f" + parts[-1]
    template = "/".join(parts)
    values = {name: draw(_token_value) for name in names}
    return template, values


def _plant(template: str, values: dict[str, str]) -> str:
    for name, val in values.items():
        template = template.replace(f"[{name}]", val, 1)
    return template


@given(template_and_values())
@settings(max_examples=200, deadline=None)
def test_template_regex_extracts_planted_values(tv):
    template, values = tv
    tokens = extract_tokens(template)
    assert tokens == list(values)
    path = _plant(template, values)
    regex = token_template_to_regex(template)
    # positional groups, in token order; a family's .gz member too
    for member in (path, path + ".gz"):
        m = re.fullmatch(regex, member)
        assert m, (template, member)
        assert list(m.groups()) == [values[t] for t in tokens]


@given(template_and_values())
@settings(max_examples=100, deadline=None)
def test_glob_accepts_whatever_regex_accepts(tv):
    """Every path the regex accepts must also match the glob (the glob is
    the coarse pre-filter; it must never drop a regex match)."""
    template, values = tv
    path = _plant(template, values)
    glob = token_template_to_glob(template)
    assert fnmatch.fnmatchcase(path, glob)
    assert fnmatch.fnmatchcase(path + ".gz", glob)


@given(template_and_values(), _token_value)
@settings(max_examples=100, deadline=None)
def test_token_never_crosses_path_segments(tv, evil):
    """A token must match exactly one path segment: injecting a '/' into
    a token position must NOT fullmatch."""
    template, values = tv
    first = next(iter(values))
    path = _plant(template, {**values, first: f"{evil}/{evil}"})
    assert not re.fullmatch(token_template_to_regex(template), path)


@st.composite
def trees(draw, min_tokens=0):
    """``(data directory name, template, planted value sets)``."""
    template, values = draw(template_and_values(min_tokens=min_tokens))
    names = list(values)
    value_sets = draw(
        st.lists(
            st.tuples(*(_token_value for _ in names)), min_size=1, max_size=3, unique=True
        )
    )
    return draw(_literal), template, [dict(zip(names, vs)) for vs in value_sets]


def _write(root: str, rel: str, text: str) -> None:
    path = os.path.join(root, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    if rel.endswith(".gz"):
        with gzip.open(path, "wt") as f:
            f.write(text)
    else:
        with open(path, "w") as f:
            f.write(text)


def _walk(root: str) -> list[str]:
    return [
        os.path.relpath(os.path.join(d, f), root)
        for d, _, files in os.walk(root)
        for f in files
    ]


@given(trees())
@settings(max_examples=60, deadline=None)
def test_listing_picks_what_the_walk_and_the_rule_pick(spark, tree):
    """Over a generated tree, one listing per source plus the template's
    rule gives the members the planner's walk gives, for a local and a
    ``file://`` data directory. A family's ``.gz`` member is a member;
    a standard file's ``.gz`` sibling, a file name with a suffix after
    the template and a token value spanning two segments are not."""
    name, template, value_sets = tree
    family = bool(value_sets[0])
    with tempfile.TemporaryDirectory() as tmp:
        root = os.path.join(tmp, name)
        planted = [_plant(template, vs) for vs in value_sets]
        members = [rel + ".gz" if family and i == 1 else rel for i, rel in enumerate(planted)]
        for rel in members:
            _write(root, rel, "id\n1\n")
        _write(root, planted[0] + ("x" if family else ".gz"), "id\n2\n")
        if family:
            first = next(iter(value_sets[0]))
            _write(root, _plant(template, {**value_sets[0], first: "p/q"}), "id\n3\n")
        assert template_members(template, _walk(root)) == sorted(members)
        for data_directory in (root, "file://" + root):
            listed = compiler._list(spark, data_directory, template)
            assert template_members(template, listed) == sorted(members), data_directory


@given(trees(min_tokens=1))
@settings(max_examples=10, deadline=None)
def test_compiled_tokens_are_the_planted_values(spark, tree):
    """The one regex, anchored at the '/' before the template, extracts
    the planted values from Spark's ``input_file_name()`` (Java regex,
    percent-decoded path), whatever characters the data directory and
    the members' paths hold."""
    name, template, value_sets = tree
    with tempfile.TemporaryDirectory() as tmp:
        root = os.path.join(tmp, name)
        for i, vs in enumerate(value_sets):
            _write(root, _plant(template, vs), f"id\n{i}\n")
        cmd = TransformCommand(source=f"$data_directory/{template}", target="t.parquet")
        rows = compile_command(spark, cmd, root).collect()
    tokens = extract_tokens(template)
    assert sorted((r["id"], *(r[t] for t in tokens)) for r in rows) == [
        (i, *(vs[t] for t in tokens)) for i, vs in enumerate(value_sets)
    ]
