"""Property-based tests (hypothesis) for the pure transform twins —
SURVEY.md §5(c): cheap invariants the ported unit tests can't sweep.

These pin the tricky reference semantics (normalization alphabet,
empty-sub-qualifier collapse, last-write-wins) over arbitrary inputs, and
check the pure-Python twins agree with what the relational twins assume
(e.g. normalization is idempotent, paths are normalize-stable), without
needing a SparkSession — they run in milliseconds.
"""

from __future__ import annotations

import re
import string

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from elasticsearch_hbase_river_spark.functions.normalize import normalize_field_py
from elasticsearch_hbase_river_spark.functions.qualifier import (
    effective_path,
    find_key_in_data_tree,
    read_data_tree,
)

#: printable-ish text incl. the separator chars the reference ships with
FIELD = st.text(
    alphabet=string.ascii_letters + string.digits + "-_:.&* é",
    max_size=30,
)
SEP = st.sampled_from(["::", ".", "|", None])


def _cell_interior(lo: float, span: float):
    """Coordinates constructed to sit strictly INSIDE a geohash cell: draw
    an integer cell index plus an interior offset in [0.05, 0.95] of the
    cell width. Every drawn example is valid by construction — the old
    strategy drew arbitrary floats and ``assume()``-rejected near-edge
    ones, which failed hypothesis's filter_too_much health check whenever
    the shrinker drifted to round numbers (the round-5 flake)."""
    from elasticsearch_hbase_river_spark.operators.esdsl3 import (
        GEOHASH_PRECISION,
    )

    cells = 2 ** (GEOHASH_PRECISION * 5 // 2)
    return st.builds(
        lambda i, f: lo + (i + f) * span / cells,
        st.integers(min_value=0, max_value=cells - 1),
        st.floats(min_value=0.05, max_value=0.95))


@settings(max_examples=60, deadline=None)
@given(_cell_interior(-90.0, 180.0), _cell_interior(-180.0, 360.0))
@example(90.0, 180.0)       # inclusive upper boundary (least() clamp)
@example(-90.0, -180.0)     # lower corner
@example(0.0, 0.0)          # exact cell edge: floor and >=-bisection agree
@example(90.0, -180.0)
@example(-90.0, 180.0)
def test_geohash_sql_matches_bisection_reference(lat, lon):
    """The bit-interleave geohash encoder (shared SQL text, evaluated
    here through DuckDB) must equal the canonical bisection encoding for
    cell-interior coordinates and the exact domain boundaries. Within a
    float-ulp of a cell edge the multiply-based encoding (Lucene's own)
    and pure bisection legitimately disagree about which side absorbs the
    rounding — the strategy generates interior points by construction, so
    the guard below should never reject (and cannot starve the run)."""
    import duckdb
    from hypothesis import assume

    from elasticsearch_hbase_river_spark.operators.esdsl3 import (
        GEOHASH_PRECISION,
        _GEOHASH32,
        _geohash_sql,
    )

    cells = 2 ** (GEOHASH_PRECISION * 5 // 2)
    for v, span, lo in ((lat, 180.0, -90.0), (lon, 360.0, -180.0)):
        frac = (v - lo) / span * cells
        assume(abs(frac - round(frac)) > 1e-6 or frac == round(frac))

    got = duckdb.sql(
        f"SELECT {_geohash_sql('//')} AS g FROM "
        f"(SELECT {lat!r}::DOUBLE AS lat, {lon!r}::DOUBLE AS lon)"
    ).fetchone()[0]

    lat_i, lon_i = (-90.0, 90.0), (-180.0, 180.0)
    bits, even = [], True
    while len(bits) < GEOHASH_PRECISION * 5:
        if even:
            mid = (lon_i[0] + lon_i[1]) / 2
            bits.append(1 if lon >= mid else 0)
            lon_i = (mid, lon_i[1]) if lon >= mid else (lon_i[0], mid)
        else:
            mid = (lat_i[0] + lat_i[1]) / 2
            bits.append(1 if lat >= mid else 0)
            lat_i = (mid, lat_i[1]) if lat >= mid else (lat_i[0], mid)
        even = not even
    want = "".join(
        _GEOHASH32[int("".join(map(str, bits[i * 5:i * 5 + 5])), 2)]
        for i in range(GEOHASH_PRECISION))
    assert got == want, (lat, lon, got, want)


#: Engine-independent golden vectors for the geo cell encoders. The
#: q_geohash_grid / q_geotile_grid oracles share their generated SQL text
#: between Spark and DuckDB (esdsl3.py), so engine-vs-oracle parity cannot
#: catch an encoder bug — these constants anchor the shared text to
#: known-good PUBLIC values instead.
#:
#: Geohash strings are the published reference examples: geohash.org's
#: canonical demo coordinate (42.605, -5.603) -> "ezs42" and Wikipedia's
#: worked example (57.64911, 10.40744) -> "u4pruydqqvj", truncated to the
#: engine's precision 4; the corners/origin follow from the alphabet
#: definition (all-zero bits -> '0', all-one bits -> 'z', 0N/0E splits
#: upper halves -> 's').
GEOHASH_GOLDEN = (
    (42.605, -5.603, "ezs4"),
    (57.64911, 10.40744, "u4pr"),
    (0.0, 0.0, "s000"),
    (90.0, 180.0, "zzzz"),
    (-90.0, -180.0, "0000"),
)

#: Slippy-map tiles at the engine's zoom 4 (GEO_ZOOM_N = 16), from the
#: OpenStreetMap "Slippy map tilenames" formula evaluated by hand for the
#: wiki's own example coordinate (41.85, -87.65 -> tile 4/5 at z=4), the
#: Wikipedia geohash coordinate, and the origin (0,0 -> the 8/8 tile — the
#: first tile south-east of the equator/meridian crossing).
GEOTILE_GOLDEN = (
    (41.85, -87.65, 4, 5),
    (57.64911, 10.40744, 8, 4),
    (0.0, 0.0, 8, 8),
)


def test_geo_cell_sql_matches_public_golden_vectors():
    """The generated geohash/geotile SQL (the text BOTH engines run) must
    reproduce published known-good cell assignments — the independent
    anchor the shared-implementation oracles need."""
    import duckdb

    from elasticsearch_hbase_river_spark.operators.esdsl3 import (
        _geohash_sql,
        _tile_sql,
    )

    for lat, lon, want in GEOHASH_GOLDEN:
        got = duckdb.sql(
            f"SELECT {_geohash_sql('//')} FROM "
            f"(SELECT {lat!r}::DOUBLE AS lat, {lon!r}::DOUBLE AS lon)"
        ).fetchone()[0]
        assert got == want, (lat, lon, got, want)

    tx, ty = _tile_sql()
    for lat, lon, wx, wy in GEOTILE_GOLDEN:
        gx, gy = duckdb.sql(
            f"SELECT {tx}, {ty} FROM "
            f"(SELECT {lat!r}::DOUBLE AS lat, {lon!r}::DOUBLE AS lon)"
        ).fetchone()
        assert (gx, gy) == (wx, wy), (lat, lon, gx, gy, wx, wy)


@given(FIELD, SEP)
def test_normalize_is_idempotent(name, sep):
    once = normalize_field_py(name, sep)
    assert normalize_field_py(once, sep) == once


@given(FIELD, SEP)
def test_normalize_output_alphabet(name, sep):
    out = normalize_field_py(name, sep)
    allowed = set("abcdefghijklmnopqrstuvwxyz0123456789-_") | set(sep or "")
    assert set(out) <= allowed


@given(FIELD)
def test_normalize_none_separator_matches_reference_truth_table(name):
    # same regex the reference documents: lowercase, keep [a-z0-9\-_]
    assert normalize_field_py(name, None) == re.sub(
        r"[^a-z0-9\-_]", "", name.lower())


@given(st.lists(st.tuples(st.sampled_from(["f1", "f2"]),
                          FIELD.filter(lambda s: normalize_field_py(s, "::")),
                          st.text(max_size=10)),
                min_size=1, max_size=8))
@settings(max_examples=50)
def test_data_tree_last_write_wins(cells):
    """Replaying the same cell list twice gives the same tree, and the last
    value written to any (family, path) is the one visible."""
    tree1 = read_data_tree(cells, "::")
    tree2 = read_data_tree(cells + cells, "::")
    assert tree1 == tree2  # replay idempotence == LWW


@given(FIELD.filter(lambda s: normalize_field_py(s, "::")), st.text(max_size=5))
@settings(max_examples=50)
def test_effective_path_matches_tree_walk(qualifier, value):
    """The flattened ``effective_path`` must agree with where
    ``read_data_tree`` actually places the scalar, whenever the path has no
    empty interior components (those create nested collisions by design)."""
    path = effective_path(qualifier, "::")
    if not all(path):
        return  # interior empty component: reference nests under "" keys
    tree = read_data_tree([("fam", qualifier, value)], "::")
    node = tree["fam"]
    for part in path[:-1]:
        if not isinstance(node, dict):
            return
        node = node[part]
    assert node[path[-1]] == value


@given(st.text(alphabet="ab:", min_size=1, max_size=12))
@settings(max_examples=100)
def test_find_key_round_trip(qualifier):
    """Any scalar placed by read_data_tree at a clean path is findable via
    find_key_in_data_tree with the same separator path."""
    path = effective_path(qualifier, "::")
    if not all(path):
        return
    tree = read_data_tree([("f", qualifier, "v")], "::")
    assert find_key_in_data_tree(tree["f"], "::".join(path), "::") == "v"


def test_karp_rabin_gram_hashes_agree_across_engines_on_edge_inputs(spark):
    """The round-4 integer gram hashing (md5-hex-prefix token hash + Horner
    fold) must produce BIT-IDENTICAL values in Spark and DuckDB on inputs
    beyond the fixture vocabulary: unicode (md5 runs over UTF-8 bytes in
    both), empty/short texts (the whole-text fallback gram), repeated
    tokens, and long texts."""
    import duckdb

    from elasticsearch_hbase_river_spark.operators.dedup import (
        _GH_SQL, _TH_SQL, _gram_hash_df,
    )

    texts = ["", "a", "a b", "a b c", "über straße größe viel",
             "emoji 🎉 test ok done", "x " * 400 + "y",
             "dup dup dup dup", "tab\tin token here"]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: sorted(r["gh"])
           for r in _gram_hash_df(df).collect()}

    con = duckdb.connect()
    values = ", ".join(
        f"({i}, '{t}')" for i, t in rows if "'" not in t)
    sql = f"""
    WITH docs(doc_id, text) AS (VALUES {values}),
    thq AS (SELECT doc_id, text, {_TH_SQL} AS th FROM docs),
    ghq AS (SELECT doc_id, {_GH_SQL} AS gh FROM thq)
    SELECT doc_id, gh FROM ghq"""
    want = {r[0]: sorted(r[1]) for r in con.execute(sql).fetchall()}
    assert got == want


@st.composite
def _river_history(draw):
    """(cells, tick cut points). Each row version re-emits ALL of its
    row's cells at one ts, distinct across versions — the shape under
    which incremental ticks and one big tick must agree."""
    rows = draw(st.lists(st.sampled_from("abcdef"), min_size=1, max_size=4,
                         unique=True))
    layout = {r: draw(st.lists(st.tuples(st.sampled_from(["f1", "f2"]),
                                         st.sampled_from(["q", "x::y", "z"])),
                               min_size=1, max_size=3, unique=True))
              for r in rows}
    extra = draw(st.lists(st.sampled_from(rows), max_size=4))
    owners = rows + extra
    stamps = draw(st.lists(st.integers(1, 1000), min_size=len(owners),
                           max_size=len(owners), unique=True))
    cells = [(r, fam, q, draw(st.text(alphabet="xyz\"", max_size=3)), ts)
             for r, ts in zip(owners, stamps) for fam, q in layout[r]]
    cuts = sorted(draw(st.lists(st.sampled_from(stamps), max_size=3,
                                unique=True)))
    return cells, cuts


def _latest(spark, sink: str) -> dict:
    """doc_id -> (doc_ts_ms, doc_json) of the newest row per id in a sink;
    empty for a sink with no data file."""
    from elasticsearch_hbase_river_spark.plans.pipeline import data_files

    best = {}
    if not data_files(sink):
        return best
    for r in spark.read.parquet(sink).collect():
        if r.doc_id not in best or r.doc_ts_ms > best[r.doc_id][0]:
            best[r.doc_id] = (r.doc_ts_ms, r.doc_json)
    return best


@settings(max_examples=5, deadline=None)
@given(_river_history())
def test_incremental_ticks_match_one_tick(spark, history):
    """1-4 ``run_once`` ticks over a growing source leave a sink whose
    latest-wins view per doc_id equals one tick over all the cells."""
    import tempfile

    from pyspark.sql import functions as F

    from elasticsearch_hbase_river_spark.config import RiverConfig
    from elasticsearch_hbase_river_spark.plans.pipeline import run_once

    cells, cuts = history
    df = spark.createDataFrame(
        cells, "row_key string, family string, qualifier string, "
               "value string, ts_ms long")
    cfg = RiverConfig(table="t", index="i", type_name="d",
                      column_separator="::")

    with tempfile.TemporaryDirectory() as d:
        ticked, single = f"{d}/ticked", f"{d}/single"
        for cut in cuts:
            run_once(spark, df.filter(F.col("ts_ms") <= cut), cfg, ticked)
        run_once(spark, df, cfg, ticked)
        run_once(spark, df, cfg, single)
        assert _latest(spark, ticked) == _latest(spark, single)


#: How a landed slice's parquet file is written: pyarrow's defaults, no
#: min/max statistics (the footer cannot answer; the column is read), one
#: row group per cell, or next to a row whose one cell has a null
#: ``ts_ms`` (the footer's min then cannot vouch for every cell).
_LAND_STYLES = ("plain", "no_stats", "row_groups", "nulls")

_SCOPES = {"unscoped": {}, "family": {"family": "f1"},
           "id_field": {"id_field": "f1::q"}}


def _land(src: str, rows: list, style: str) -> None:
    """Write ``rows`` of cells as the next parquet file under ``src``."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([("row_key", pa.string()), ("family", pa.string()),
                        ("qualifier", pa.string()), ("value", pa.string()),
                        ("ts_ms", pa.int64())])
    if style == "nulls" and rows:
        rows = rows + [("n", "f1", "q", "n", None)]
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema)
    path = os.path.join(src, f"part-{len(os.listdir(src)):05d}.parquet")
    pq.write_table(table, path, write_statistics=style != "no_stats",
                   row_group_size=1 if style == "row_groups" else None)


#: Four slices, so every landing style occurs, with a row version at
#: exactly one millisecond past the first cut.
_FOUR_SLICES = ([("a", "f1", "q", "x", 5), ("a", "f2", "z", "y", 5),
                 ("b", "f1", "q", "y", 6), ("b", "f1", "x::y", "z", 6),
                 ("a", "f1", "q", "z", 9), ("a", "f2", "z", "x", 9),
                 ("c", "f2", "q", "x", 12)], [5, 6, 9])


@pytest.mark.parametrize("scope", sorted(_SCOPES))
@settings(max_examples=3, deadline=None)
@given(history=_river_history(), order=st.permutations(_LAND_STYLES),
       at=st.tuples(st.integers(0, 4), st.integers(0, 4)),
       drains=st.lists(st.booleans(), min_size=6, max_size=6))
@example(history=_FOUR_SLICES, order=_LAND_STYLES[::-1], at=(1, 3),
         drains=[True] * 6)
# cuts out of order: (6, 12] lands after (5, 9] and re-lands the cells at
# 9, a replay whose file straddles the watermark 10
@example(history=(_FOUR_SLICES[0], [5, 9, 6]),
         order=("nulls", "no_stats", "row_groups", "plain"), at=(4, 4),
         drains=[False] * 6)
def test_landed_file_ticks_match_probe_path_and_one_tick(spark, scope,
                                                         history, order, at,
                                                         drains):
    """Each cut of the history lands as its own parquet file, among them a
    file without statistics, one of several row groups, one with null
    ``ts_ms`` next to new values, one whose ``ts_ms`` is all null and an
    empty one; an explicit example lands a file straddling the watermark.
    A tick after every landing, over ``read_cells`` (the footer-pruned
    scan), returns the same ``TickResult`` as the same tick over a
    projected view of those cells (the emptiness-probe path), and leaves
    the latest-wins view of one tick over all the cells. So does the
    streaming river, drained after a drawn subset of the landings (always
    the last), each micro-batch holding the files landed since the last
    drain.

    Under ``id_field`` the id cell's value is a function of the row, with
    two rows sharing each id: a row whose id changed between versions
    would keep its old document in an append-only sink, so incremental
    and one-tick views could not agree."""
    import os
    import tempfile

    from elasticsearch_hbase_river_spark.config import RiverConfig
    from elasticsearch_hbase_river_spark.plans.pipeline import run_once
    from elasticsearch_hbase_river_spark.sources.formats import read_cells
    from elasticsearch_hbase_river_spark.streaming.river_stream import (
        start_river_stream,
    )

    cells, cuts = history
    if scope == "id_field":
        cells = [(r, f, q, "AB"[r > "c"] if (f, q) == ("f1", "q") else v, ts)
                 for r, f, q, v, ts in cells]
    cfg = RiverConfig(table="t", index="i", type_name="d",
                      column_separator="::", **_SCOPES[scope])
    bounds = [0, *cuts, max(ts for *_, ts in cells)]
    landings = [(style, [c for c in cells if lo < c[4] <= hi])
                for style, lo, hi in zip(
                    (order * 2)[:len(bounds) - 1], bounds, bounds[1:])]
    landings.insert(min(at[0], len(landings)), (
        "plain", [(r, f, q, v, None) for r, f, q, v, _ in cells[:3]]))
    landings.insert(min(at[1], len(landings)), ("plain", []))

    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "landed %25 cells")
        os.makedirs(src)
        pruned, probed, single, stream, ckpt = (
            os.path.join(d, s)
            for s in ("pruned", "probed", "single", "stream", "ckpt"))

        def tick():
            scan = read_cells(spark, src)
            got = run_once(spark, scan, cfg, pruned)
            assert got == run_once(spark, scan.select(*scan.columns), cfg,
                                   probed)
            return got

        for i, (style, rows) in enumerate(landings):
            _land(src, rows, style)
            tick()
            if drains[i] or i == len(landings) - 1:
                q = start_river_stream(spark, cfg, src, stream, ckpt,
                                       available_now=True)
                assert q.awaitTermination(120), "stream did not drain"
        assert tick().rows_indexed == 0
        run_once(spark, spark.createDataFrame(
            cells, "row_key string, family string, qualifier string, "
                   "value string, ts_ms long"), cfg, single)
        assert _latest(spark, pruned) == _latest(spark, single)
        assert _latest(spark, stream) == _latest(spark, single)
