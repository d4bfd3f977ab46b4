"""River pipeline configuration.

Mirrors the reference's config surface and validation:
- knobs + defaults: HBaseRiver.java:136-166 (ctor reads ``hbase.*`` settings)
- required keys throw: HBaseRiver.java:176-183
- validation floors (interval >= 1 ms, batchSize >= 1): HBaseRiver.java:159-165
- example config: import.sh:4-15
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_DDL_FIELD = re.compile(r"\s*(`(?:[^`]|``)*`|[^\s:`]+)\s*:?\s*(\w+)")


def _ddl_fields(ddl: str) -> list[tuple[str, str]]:
    """(name, type keyword) of each top-level field of a Spark DDL schema
    string such as ``"a BIGINT, s STRUCT<x: INT>, d DECIMAL(10,2)"``: the
    string splits at commas outside ``<>``/``()`` nesting and backquotes,
    and a backquoted name is unquoted. Parsed here, not by Spark, so a
    config validates without a session."""
    parts, depth, quoted, start = [], 0, False, 0
    for i, ch in enumerate(ddl):
        if ch == "`":
            quoted = not quoted
        elif not quoted and ch in "<(":
            depth += 1
        elif not quoted and ch in ">)":
            depth -= 1
        elif not quoted and ch == "," and depth == 0:
            parts.append(ddl[start:i])
            start = i + 1
    parts.append(ddl[start:])
    out = []
    for part in parts:
        m = _DDL_FIELD.match(part)
        if m:
            name = m.group(1)
            if name.startswith("`"):
                name = name[1:-1].replace("``", "`")
            out.append((name, m.group(2)))
    return out


@dataclass(frozen=True)
class RiverConfig:
    """Typed river configuration with the reference's defaults.

    Required (HBaseRiver.java:176-183): ``table``, ``index``, ``type_name``.
    """

    table: str
    index: str
    type_name: str

    # Scan restriction (HBaseRiver.java:76-85,154-156).
    family: str | None = None
    qualifiers: tuple[str, ...] = field(default=())

    # Throughput knobs (HBaseRiver.java:54-62,149-150; import.sh:11,13).
    batch_size: int = 100
    interval_ms: int = 600_000

    # Document shaping (HBaseRiver.java:87-122,151-157).
    id_field: str | None = None
    column_separator: str | None = None
    normalize_fields: bool = True

    # Source truncation (HBaseRiver.java:124-127,152).
    delete_old: bool = False

    # Custom sink mapping passthrough (HBaseRiver.java:118-122 reads a
    # user-supplied mapping JSON; :250-261 applies it as the index DDL).
    # Here: a Spark DDL schema string (e.g. "doc_id STRING, doc_json STRING")
    # applied to the assembled documents at sink-write time — parquet is
    # schema-on-write, so the projection IS the DDL.
    custom_mapping: str | None = None

    def __post_init__(self) -> None:
        for key in ("table", "index", "type_name"):
            if not getattr(self, key):
                # HBaseRiver.java:176-183 throws InvalidParameterException
                raise ValueError(f"config key {key!r} is required and must be non-empty")
        if self.interval_ms <= 0:
            # HBaseRiver.java:159-162
            raise ValueError("interval_ms must be > 0")
        if self.batch_size <= 0:
            # HBaseRiver.java:163-165
            raise ValueError("batch_size must be > 0")
        if self.qualifiers and not self.family:
            # setQualifier requires setFamily (HBaseParser.java:94-98 guard)
            raise ValueError("qualifiers filter requires a family filter")
        if self.custom_mapping and not any(
                name == "doc_ts_ms" and typ.upper() in ("BIGINT", "LONG")
                for name, typ in _ddl_fields(self.custom_mapping)):
            # The incremental watermark is max(doc_ts_ms) over the sink — a
            # mapping that drops, renames or retypes it breaks every later
            # tick (the reference's equivalent: its facet watermark query
            # needs _timestamp enabled, HBaseRiver.java:223-231 +
            # HBaseParser.java:258-280).
            raise ValueError("custom_mapping must declare a top-level "
                             "doc_ts_ms BIGINT column (the incremental "
                             "watermark column)")
