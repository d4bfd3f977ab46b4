"""Ports of the reference's unit tests — the behavioral spec for the
transform semantics (SURVEY.md §5).

- ReadQualifierStructureTest  -> HBaseParserTest.java:31-160
- ReadDataTreeTest            -> HBaseParserTest.java:162-228
- FindKeyInDataTreeTest       -> HBaseParserTest.java:230-283
- normalizeField truth table  -> HBaseRiverTest.java:37-47

These run against the pure-Python twins; test_qualifier_relational pins the
relational (path-array) form to the same semantics.
"""

from __future__ import annotations

from hypothesis import given
from hypothesis import strategies as st

from elasticsearch_hbase_river_spark.functions.normalize import normalize_field_py
from elasticsearch_hbase_river_spark.functions.qualifier import (
    effective_path,
    find_key_in_data_tree,
    read_data_tree,
    read_qualifier_structure,
)


def _fold(pairs, separator, normalize=False):
    result: dict = {}
    for q, v in pairs:
        read_qualifier_structure(result, q, v, separator, normalize)
    return result


BASE_PAIRS = [
    ("data::set1::category1", "test1"),
    ("data::set1::category2", "test2"),
    ("data::set1::category3", "test3"),
    ("data::set2::category1", "test4"),
    ("data::set2::category2", "test5"),
]


class TestReadQualifierStructure:
    def test_base(self):  # HBaseParserTest.java:59-76
        result = _fold(BASE_PAIRS, "::")
        assert result["data"]["set1"] == {
            "category1": "test1", "category2": "test2", "category3": "test3"}
        assert result["data"]["set2"] == {
            "category1": "test4", "category2": "test5"}

    def test_null_separator(self):  # HBaseParserTest.java:79-96
        result = _fold(BASE_PAIRS, None)
        assert result == dict(BASE_PAIRS)

    def test_empty_separator(self):  # HBaseParserTest.java:99-116
        result = _fold(BASE_PAIRS, "")
        assert result == dict(BASE_PAIRS)

    def test_empty_sub_qualifier_overwrites(self):  # HBaseParserTest.java:120-138
        pairs = BASE_PAIRS[:4] + [("data::set2::", "test5")]
        result = _fold(pairs, "::", normalize=True)
        assert result["data"]["set1"]["category1"] == "test1"
        assert result["data"]["set1"]["category2"] == "test2"
        assert result["data"]["set1"]["category3"] == "test3"
        # the empty trailing sub-qualifier collapses to a scalar at the
        # parent and OVERWRITES the earlier {category1: test4} subtree
        assert result["data"]["set2"] == "test5"

    def test_wrong_separator_with_normalize(self):  # HBaseParserTest.java:141-159
        result = _fold(BASE_PAIRS[:3], "--")
        result2: dict = {}
        for q, v in BASE_PAIRS[3:]:
            read_qualifier_structure(result2, q, v, "--", normalize=True)
        assert result["data::set1::category1"] == "test1"
        assert result["data::set1::category2"] == "test2"
        assert result["data::set1::category3"] == "test3"
        assert result2["dataset2category1"] == "test4"
        assert result2["dataset2category2"] == "test5"


class TestReadDataTree:
    def test_base(self):  # HBaseParserTest.java:190-220
        cells = [
            ("family1", "category1", "value1"),
            ("family1", "category2", "value2"),
            ("family1", "category3", "value3"),
            ("family2", "category1", "value4"),
            ("family2", "category4", "value5"),
            ("family3", "category5", "value6"),
            ("family2", "category6", "value7"),
        ]
        out = read_data_tree(cells, separator=None, normalize=True)
        assert out["family1"] == {
            "category1": "value1", "category2": "value2", "category3": "value3"}
        assert out["family2"] == {
            "category1": "value4", "category4": "value5", "category6": "value7"}
        assert out["family3"] == {"category5": "value6"}


class TestFindKeyInDataTree:
    def test_base(self):  # HBaseParserTest.java:258-269
        tree = {"aBranch": {"theId": "TheValue"}}
        assert find_key_in_data_tree(tree, "aBranch::theId", "::") == "TheValue"

    def test_dot_separator(self):  # HBaseParserTest.java:271-282
        tree = {"aBranch": {"theId": "TheValue"}}
        assert find_key_in_data_tree(tree, "aBranch.theId", ".") == "TheValue"

    def test_missing_intermediate(self):  # HBaseParser.java:193 returns null
        assert find_key_in_data_tree({"aBranch": "scalar"}, "aBranch::x", "::") is None


class TestNormalizeField:
    def test_truth_table(self):  # HBaseRiverTest.java:37-47, separator "::"
        cases = {
            "": "", " ": "", "a": "a", "A": "a", "Aa": "aa",
            "a-b": "a-b", "a_b": "a_b", "90aS": "90as",
            '&*($@#!ui^&$(#"8ui': "ui8ui",
            "bl%^&*ah::blubb": "blah::blubb",
        }
        for raw, want in cases.items():
            assert normalize_field_py(raw, "::") == want, raw
        assert normalize_field_py(None, "::") is None

    def test_normalize_off_passthrough(self):  # HBaseRiver.java:315-317
        assert normalize_field_py("A&B", "::", normalize=False) == "A&B"


class TestEffectivePath:
    """Path-array form must agree with the recursive dict fold."""

    def test_collapse_cases(self):
        assert effective_path("data::set1::category1", "::") == ["data", "set1", "category1"]
        assert effective_path("data::set2::", "::") == ["data", "set2"]
        assert effective_path("a::::b", "::") == ["a", "", "b"]
        assert effective_path("a::::", "::") == ["a", ""]
        assert effective_path("plain", "::") == ["plain"]
        assert effective_path("UPPER::Case!", "::") == ["upper", "case"]

    @given(st.lists(st.text(alphabet="ab:-_X!", min_size=0, max_size=6),
                    min_size=1, max_size=4))
    def test_path_matches_recursive_fold(self, parts):
        """For any qualifier, placing a value via the recursive reference fold
        and walking the tree along ``effective_path`` finds that value (or the
        tree ends in a scalar exactly at the path)."""
        qualifier = "::".join(parts)
        tree: dict = {}
        read_qualifier_structure(tree, qualifier, "V", "::", normalize=True)
        node = tree
        path = effective_path(qualifier, "::", normalize=True)
        for comp in path[:-1]:
            assert isinstance(node, dict)
            node = node[comp]
        assert isinstance(node, dict)
        assert node[path[-1]] == "V"


class TestSparkTwinAgreement:
    """The Spark Column implementations must agree with the pure-Python
    reference-semantics twins on adversarial inputs. One batched DataFrame
    per test keeps this fast (no per-example Spark jobs)."""

    # covers separators, empties, doubled separators, dirty chars, unicode,
    # case folding, dash/underscore preservation
    CASES = [
        "data::set1::category1", "data::set2::", "a::::b", "a::::", "",
        "plain", "UPPER::Case!", "a-b_c::d", "x&*y::z#", "::", "::::",
        "Ünïcode::Straße", "tab\there", "sp ace::q", "a::b::c::d::e",
        "trailing::::", "-_-", "123::456", "a::B!::c?::",
    ]

    def test_qualifier_split_column_matches_python(self, spark):
        from elasticsearch_hbase_river_spark.functions.qualifier import (
            split_qualifier_col,
        )
        from pyspark.sql import functions as F

        df = spark.createDataFrame([(q,) for q in self.CASES], ["q"])
        got = {r.q: r.path for r in df.select(
            "q", split_qualifier_col(F.col("q"), "::").alias("path")).collect()}
        for q in self.CASES:
            assert got[q] == effective_path(q, "::", normalize=True), q

    def test_normalize_column_matches_python(self, spark):
        from elasticsearch_hbase_river_spark.functions.normalize import (
            normalize_field_col, normalize_field_py,
        )
        from pyspark.sql import functions as F

        df = spark.createDataFrame([(q,) for q in self.CASES if q], ["q"])
        got = {r.q: r.n for r in df.select(
            "q", normalize_field_col(F.col("q"), "::").alias("n")).collect()}
        for q in self.CASES:
            if q:
                assert got[q] == normalize_field_py(q, "::"), q
