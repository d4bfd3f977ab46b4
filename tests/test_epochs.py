"""The epoch-delta layout lives in one module: ``streaming/epochs.py``.

Pins the writer/lister contract and scans the package source so no other
module builds ``epoch=`` paths, sets an ``availableNow`` trigger or builds
a parquet ``readStream`` by hand."""

from __future__ import annotations

import ast
import os
from pathlib import Path

import elasticsearch_hbase_river_spark as pkg
import pytest
from pyspark.sql import functions as F

from elasticsearch_hbase_river_spark.sources.formats import CELLS_SCHEMA
from elasticsearch_hbase_river_spark.streaming.epochs import (
    epoch_ids,
    write_epoch,
)
from elasticsearch_hbase_river_spark.streaming.river_stream import (
    index_epoch_parts,
    nested_epoch_parts,
)


def test_write_epoch_overwrites_each_part_and_lister_sees_it(spark, tmp_path):
    root = str(tmp_path / "root")
    three = spark.range(3).toDF("k")
    write_epoch(root, 0, {"a": three, "b": three})
    write_epoch(root, 0, {"a": spark.range(2).toDF("k")})
    write_epoch(root, 4, {"a": three})
    assert epoch_ids(root, "a") == {0, 4}
    assert epoch_ids(root, "b") == {0}
    assert epoch_ids(root, "absent") == set()
    assert spark.read.parquet(os.path.join(root, "a", "epoch=0")).count() == 2

    flat = str(tmp_path / "flat")
    write_epoch(flat, 7, {"": three})
    assert epoch_ids(flat) == {7}
    assert [tuple(r) for r in spark.read.parquet(flat)
            .groupBy("epoch").count().collect()] == [(7, 3)]


def test_doc_manifest_commits_after_the_data_parts(spark, tmp_path):
    """Readers arbitrate on the ``docs`` manifest, so an epoch whose data
    write fails must not have committed its manifest: the builders put
    ``docs`` last and ``write_epoch`` writes in order."""
    docs = spark.createDataFrame([(1, "spark join")], "doc_id long, text string")
    assert list(index_epoch_parts(docs))[-1] == "docs"
    cells = spark.createDataFrame([], CELLS_SCHEMA)
    assert list(nested_epoch_parts(cells))[-1] == "docs"

    root = str(tmp_path / "idx")
    write_epoch(root, 0, index_epoch_parts(docs))
    parts = index_epoch_parts(docs)
    parts["postings"] = spark.range(1).select(
        F.when(F.col("id") >= 0, F.raise_error(F.lit("postings write failed")))
        .otherwise(F.col("id")).alias("term"))
    with pytest.raises(Exception, match="postings write failed"):
        write_epoch(root, 1, parts)
    assert epoch_ids(root, "docs") == {0}


_PKG = Path(pkg.__file__).parent
_OWNER = "streaming/epochs.py"


def _layout_uses(tree: ast.Module) -> list[tuple[int, str]]:
    """(line, what) of every ``epoch=`` string outside a docstring or other
    bare string statement, every ``availableNow=`` keyword and every
    ``readStream…parquet(…)`` call chain."""
    exempt = {id(n.value) for n in ast.walk(tree)
              if isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant)}
    out = []
    for node in ast.walk(tree):
        if (isinstance(node, ast.Constant) and isinstance(node.value, str)
                and "epoch=" in node.value and id(node) not in exempt):
            out.append((node.lineno, "epoch= path"))
        elif isinstance(node, ast.Call):
            if any(k.arg == "availableNow" for k in node.keywords):
                out.append((node.lineno, "availableNow trigger"))
            f = node.func
            if isinstance(f, ast.Attribute) and f.attr == "parquet":
                chain = f.value
                while isinstance(chain, (ast.Call, ast.Attribute)):
                    if (isinstance(chain, ast.Attribute)
                            and chain.attr == "readStream"):
                        out.append((node.lineno, "readStream parquet feed"))
                        break
                    chain = (chain.func if isinstance(chain, ast.Call)
                             else chain.value)
    return out


def test_epoch_layout_lives_only_in_the_epochs_module():
    offenders = []
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG).as_posix()
        if rel == _OWNER:
            continue
        for line, what in _layout_uses(ast.parse(path.read_text())):
            offenders.append(f"{rel}:{line} {what}")
    assert offenders == []


def test_layout_scan_sees_paths_triggers_and_feeds():
    tree = ast.parse(
        '"""docstring epoch=N is exempt"""\n'
        "def f(w, spark, root, n):\n"
        '    """so is this epoch=N"""\n'
        '    a = f"{root}/docs/epoch={n}"\n'
        '    b = name.startswith("epoch=")\n'
        "    w.trigger(availableNow=True)\n"
        "    return (spark.readStream.schema(s)\n"
        '            .option("maxFilesPerTrigger", 1).parquet(root))\n'
        "def g(bulk, batch_id):\n"
        "    bulk.publish(epoch=batch_id)\n"
        "    return spark.read.parquet(root)\n")
    assert sorted(_layout_uses(tree)) == [
        (4, "epoch= path"), (5, "epoch= path"),
        (6, "availableNow trigger"), (7, "readStream parquet feed")]
