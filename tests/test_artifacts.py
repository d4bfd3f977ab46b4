"""The persisted-artifact lifecycle (``artifacts.py``): the publish_dir
contract every index, epoch fixture, stream state and connector cache
relies on, plus a source scan that keeps every rename/replace/uuid tmp
name inside that one module."""

from __future__ import annotations

import ast
import json
import os
from pathlib import Path

import pytest

from elasticsearch_hbase_river_spark import artifacts
from elasticsearch_hbase_river_spark.artifacts import (
    publish_dir,
    read_json,
    swap_dir,
    write_json_atomic,
)

MARKER = "_meta.json"


def _siblings(path) -> list[str]:
    return sorted(p.name for p in Path(path).parent.iterdir())


def _write_part(tmp: str) -> None:
    with open(os.path.join(tmp, "part"), "w") as f:
        f.write("data")


def test_publish_dir_stamps_marker_last_and_merges_build_meta(tmp_path):
    dest = tmp_path / "idx"
    seen = {}

    def build(tmp: str) -> dict:
        seen["marker_during_build"] = os.path.exists(
            os.path.join(tmp, MARKER))
        _write_part(tmp)
        return {"n": 3}

    publish_dir(str(dest), MARKER, {"layout": 1}, build)
    assert seen == {"marker_during_build": False}
    assert read_json(str(dest / MARKER)) == {"layout": 1, "n": 3}
    assert (dest / "part").read_text() == "data"
    assert _siblings(dest) == ["idx"]


def test_raising_build_leaves_no_destination_and_no_tmp(tmp_path):
    dest = tmp_path / "idx"

    def build(tmp: str) -> None:
        _write_part(tmp)
        raise RuntimeError("executor lost")

    with pytest.raises(RuntimeError, match="executor lost"):
        publish_dir(str(dest), MARKER, {}, build)
    assert not dest.exists()
    assert _siblings(dest) == []


def test_second_publish_to_marked_path_is_a_noop(tmp_path):
    dest = tmp_path / "idx"
    publish_dir(str(dest), MARKER, {"v": 1}, _write_part)

    def must_not_run(tmp: str) -> None:
        raise AssertionError("build ran for an already-published path")

    publish_dir(str(dest), MARKER, {"v": 2}, must_not_run)
    assert read_json(str(dest / MARKER)) == {"v": 1}
    assert _siblings(dest) == ["idx"]


def test_preexisting_unmarked_destination_raises(tmp_path):
    dest = tmp_path / "idx"
    dest.mkdir()
    (dest / "foreign").write_text("x")
    built = []
    with pytest.raises(FileExistsError):
        publish_dir(str(dest), MARKER, {}, built.append)
    assert built == []
    assert sorted(p.name for p in dest.iterdir()) == ["foreign"]
    assert _siblings(dest) == ["idx"]


def test_lost_race_is_conceded_to_the_marked_winner(tmp_path):
    """A concurrent builder publishes the same path while this build runs:
    the rename fails, the winner's marker is there, so the loser discards
    its tmp directory and returns."""
    dest = tmp_path / "idx"

    def build(tmp: str) -> None:
        publish_dir(str(dest), MARKER, {"winner": True}, _write_part)
        _write_part(tmp)

    publish_dir(str(dest), MARKER, {"winner": False}, build)
    assert read_json(str(dest / MARKER)) == {"winner": True}
    assert _siblings(dest) == ["idx"]


def test_interrupted_json_write_keeps_the_old_content(tmp_path, monkeypatch):
    path = str(tmp_path / "m.json")
    write_json_atomic(path, {"v": 1})

    def torn(obj, f, **kw):
        f.write('{"v": ')
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", torn)
    with pytest.raises(OSError):
        write_json_atomic(path, {"v": 2})
    monkeypatch.undo()
    assert read_json(path) == {"v": 1}
    assert os.listdir(tmp_path) == ["m.json"]
    assert read_json(str(tmp_path / "absent.json")) is None


def test_swap_dir_replaces_content_and_cleans_up(tmp_path):
    live = tmp_path / "bands"
    live.mkdir()
    (live / "old").write_text("x")

    def rewrite(tmp: str) -> int:
        os.makedirs(tmp)
        _write_part(tmp)
        return 7

    assert swap_dir(str(live), rewrite) == 7
    assert sorted(p.name for p in live.iterdir()) == ["part"]
    assert _siblings(live) == ["bands"]

    def broken(tmp: str) -> int:
        os.makedirs(tmp)
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError):
        swap_dir(str(live), broken)
    assert sorted(p.name for p in live.iterdir()) == ["part"]
    assert _siblings(live) == ["bands"]


#: The only places allowed to rename files or mint uuid tmp names: the
#: helper module itself and the two per-task executor writers, which run
#: where the package may not be importable.
_PKG = Path(artifacts.__file__).parent
_ALLOWED = {
    ("artifacts.py", None),
    ("sources/bulksink.py", "_write_bulks"),
    ("sources/cellstore.py", "_write_region_files"),
}
_GUARDED = {"os.rename", "os.replace", "uuid.uuid4"}


def _guarded_uses(tree: ast.Module) -> list[tuple[str | None, int, str]]:
    """(top-level function, line, name) of every os.rename / os.replace /
    uuid.uuid4 reference, resolving ``import x as y`` and
    ``from x import y`` aliases."""
    alias: dict[str, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                alias[a.asname or a.name] = a.name
        elif isinstance(node, ast.ImportFrom) and node.module:
            for a in node.names:
                alias[a.asname or a.name] = f"{node.module}.{a.name}"

    def hits(node: ast.AST, owner: str | None):
        for child in ast.iter_child_nodes(node):
            if owner is None and isinstance(
                    child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from hits(child, child.name)
                continue
            name = None
            if (isinstance(child, ast.Attribute)
                    and isinstance(child.value, ast.Name)
                    and child.value.id in alias):
                name = f"{alias[child.value.id]}.{child.attr}"
            elif isinstance(child, ast.Name) and child.id in alias:
                name = alias[child.id]
            if name in _GUARDED:
                yield owner, child.lineno, name
            yield from hits(child, owner)

    return list(hits(tree, None))


def test_renames_and_tmp_names_live_only_in_the_helper():
    offenders = []
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG).as_posix()
        if (rel, None) in _ALLOWED:
            continue
        for owner, line, name in _guarded_uses(ast.parse(path.read_text())):
            if (rel, owner) not in _ALLOWED:
                offenders.append(f"{rel}:{line} {name} in {owner}")
    assert offenders == []


def test_source_scan_sees_aliased_and_nested_uses():
    tree = ast.parse(
        "import os as _os\nfrom uuid import uuid4\n"
        "def f():\n    def g():\n        _os.replace('a', 'b')\n"
        "    return uuid4()\n")
    assert sorted(n for _, _, n in _guarded_uses(tree)) == [
        "os.replace", "uuid.uuid4"]
    assert {o for o, _, _ in _guarded_uses(tree)} == {"f"}
