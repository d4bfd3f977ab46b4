"""Publish-and-marker lifecycle for every persisted artifact.

The reference keeps its state inside Elasticsearch (HBaseRiver.java:223-261,
HBaseParser.java:258-280); the rebuild keeps it in directories — indexes,
live epochs, stream state, band tables, connector manifests — each carrying
a small JSON marker. This module owns only the I/O mechanics they share;
version, layout and mode policy stays with each artifact's module.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Callable
from typing import Any


def fingerprint(sf_dir: str, table: str) -> str:
    """``"{size}-{mtime_ns}"`` of ``<sf_dir>/<table>.parquet``: keys derived
    directories so a regenerated table never serves a stale artifact."""
    st = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
    return f"{st.st_size}-{st.st_mtime_ns}"


def artifact_path(root: str, sf_dir: str, table: str, prefix: str = "",
                  suffix: str = "") -> str:
    """``<root>/<prefix><sf_dir basename>-<fingerprint><suffix>``: where an
    artifact derived from ``table`` of ``sf_dir`` is published."""
    name = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(
        root, f"{prefix}{name}-{fingerprint(sf_dir, table)}{suffix}")


def _sibling(path: str, tag: str) -> str:
    return f"{path}.{tag}-{uuid.uuid4().hex}"


def write_json_atomic(path: str, obj: Any) -> None:
    """Replace ``path`` whole (unique tmp + ``os.replace``): readers see the
    old or the new content, and an interrupted write leaves the old file."""
    tmp = _sibling(path, "tmp")
    try:
        with open(tmp, "w") as f:
            json.dump(obj, f)
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise


def read_json(path: str) -> dict | None:
    """The JSON object at ``path``, or ``None`` when there is no file."""
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def publish_dir(path: str, marker: str, meta: dict,
                build: Callable[[str], dict | None]) -> None:
    """Publish the immutable directory ``path`` once.

    Returns at once when ``path/marker`` exists; a ``path`` without the
    marker is foreign content and is refused before any work. Otherwise
    ``build(tmp)`` fills a fresh ``path.tmp-<uuid>``, the marker (``meta``
    updated with any dict ``build`` returns) is written last, and tmp
    renames into place. A failed build removes tmp before re-raising. A
    failed rename is conceded only as a lost race — ``path`` now carries
    the marker of a concurrent builder; anything else re-raises."""
    if os.path.exists(os.path.join(path, marker)):
        return
    if os.path.exists(path):
        raise FileExistsError(
            f"{path} exists but carries no {marker}; refusing to publish "
            "over a directory this engine did not write")
    tmp = _sibling(path, "tmp")
    os.makedirs(tmp)
    try:
        write_json_atomic(os.path.join(tmp, marker),
                          {**meta, **(build(tmp) or {})})
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, path)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(os.path.join(path, marker)):
            raise


def swap_dir(path: str, build: Callable[[str], Any]) -> Any:
    """Replace the mutable directory ``path`` with what ``build(tmp)``
    writes, and return ``build``'s result. The live directory moves aside
    to ``path.old-<uuid>`` before the rebuild renames in, so a crash
    between the two renames leaves that sibling (and no ``path``) for the
    owner to detect. Single writer only."""
    tmp = _sibling(path, "compact")
    try:
        out = build(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    old = _sibling(path, "old")
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    return out
