"""ES|QL — Elasticsearch's piped query language, compiled to DataFrames.

The reference ships rows into Elasticsearch so users can query them there
(`HBaseParser.java:135-162` is the indexing side); modern Elasticsearch's
primary query surface for that data is ES|QL — a piped, composable language
(``FROM idx | WHERE .. | STATS .. BY .. | SORT .. | LIMIT ..``). This module
closes that surface natively: a recursive-descent parser for a documented
ES|QL subset and a compiler that folds each pipe command into the idiomatic
DataFrame operation, so Catalyst plans the physical execution (pushdown,
pruning, broadcast, whole-stage codegen) exactly as if the user had written
the DataFrame calls by hand.

Design notes (100 TB stance):

- The compiler emits ONLY declarative DataFrame transformations — never
  collects, never RDDs, never Python row loops. A ``WHERE`` lands above the
  scan and reaches parquet ``PushedFilters`` through Catalyst; ``STATS``
  becomes a partial-aggregable ``groupBy``; ``LOOKUP JOIN`` / ``ENRICH``
  broadcast the lookup side (they are dimension joins by construction —
  that is what ES|QL's lookup indexes are).
- ``SORT | LIMIT`` pairs collapse into ``TakeOrderedAndProject`` via
  Catalyst's LimitPushDown — top-k never globally sorts.
- Everything stays JVM-side: every supported function maps to a built-in
  ``pyspark.sql.functions`` expression (``GROK``/``DISSECT`` compile to
  anchored ``regexp_extract`` patterns, not UDFs).

Supported subset (documented; anything else raises ``ESQLError`` with the
source position):

Source commands
  ``FROM t1[, t2, ..] [METADATA _index[, _score]]`` (multi-index unions
  by field name with null padding, ES semantics; ``_index`` carries the
  source table; ``_score`` arms relevance tracking — it starts at 0 and
  every scored WHERE stage ADDS its contribution: a ``WHERE
  MATCH(field, "query")`` whose call is the entire predicate both
  filters (OR over analyzed terms) and adds the Lucene-BM25 score
  (k1=1.2, b=0.75; row-local array tf over one tokenization + a
  broadcast 1-row stats aggregate — no postings shuffle), and ``WHERE
  KNN(field, [query vector], k)`` keeps the k nearest rows by cosine
  via TakeOrderedAndProject and adds the similarity; chain WHERE stages
  to combine, or FORK + FUSE for hybrid ranking),
  ``ROW name = literal, ...``, ``SHOW INFO`` (the engine/Spark
  version row),
  ``TS table`` (time-series source; TS STATS averages — inner
  ``AVG_OVER_TIME`` and the outer combine ``AVG`` — use an ORDER-FREE
  exact-decimal form: samples quantize to a fixed grid (1e-6 inner,
  1e-9 outer, portable floor rounding), sum associatively in decimal,
  divide once — so a continuously-maintained rollup is bit-identical
  across engines, partitionings, and epoch merges; the table's registered
  ``TimeSeriesSpec`` — timestamp + dimension columns, the DataFrame
  analog of TSDB mappings — arms the next ``STATS`` with per-series
  inner aggregates ``AVG_OVER_TIME MAX_OVER_TIME MIN_OVER_TIME
  SUM_OVER_TIME COUNT_OVER_TIME FIRST_OVER_TIME LAST_OVER_TIME RATE
  INCREASE IRATE DELTA``
  wrapped by an outer aggregate, e.g.
  ``TS m | STATS qps = SUM(RATE(req)) BY host, tb = BUCKET(ts, 1 hour)``;
  RATE is Prometheus-style increase / uniform bucket width, resets
  contribute the post-reset value)
Processing commands
  ``WHERE``, ``EVAL``, ``STATS .. [BY ..]``, ``INLINESTATS .. [BY ..]``
  (stats joined back onto the rows; computed BY keys materialize as
  named columns), ``SORT`` (ASC/DESC, NULLS
  FIRST/LAST), ``LIMIT``, ``KEEP`` (wildcards), ``DROP`` (wildcards),
  ``RENAME old AS new``, ``MV_EXPAND``,
  ``DISSECT`` (incl. ``%{+key}`` append + ``APPEND_SEPARATOR``,
  ``%{?name}`` named skips, ``%{key->}`` right padding), ``GROK``,
  ``LOOKUP JOIN table ON f1[, f2, ..]`` (multi-key),
  ``ENRICH policy ON field [WITH f, ..]`` (``match`` and ``range``
  policy types; range bounds are half-open ``[lo, hi)``),
  ``FORK ( .. ) ( .. )`` (branch pipelines unioned with ``_fork``),
  ``FUSE [rrf|linear]`` (hybrid-ranking fusion of FORK branches keyed by
  ``_id``: rrf = sum of 1/(60 + per-branch rank by ``_score``), linear =
  raw score sum; other columns merge by MAX),
  ``CHANGE_POINT value ON key [AS type, pvalue]`` (the detector family:
  a step-change candidate — cumulative-split argmax, two-sided z-test,
  marks the first key of the new regime, the ES convention — competes
  with a spike/dip candidate — leave-one-out argmax of the single most
  deviant point — and the smaller raw p-value wins, ties prefer
  step_change; both argmax metrics are exact decimal so the choice is
  engine-exact),
  ``SAMPLE probability`` (DETERMINISTIC content-hash Bernoulli — a
  documented deviation from ES's random coin: same keep probability,
  reproducible across runs and engines),
  ``COMPLETION name = prompt_expr`` (no inference endpoints in this
  engine, so the documented stand-in is deterministic EXTRACTIVE
  completion: the prompt's first sentence),
  ``RERANK "query" ON field`` (second-stage re-scoring under METADATA
  _score; no inference model runs here, so the documented stand-in
  REPLACES _score with the fraction of analyzed query terms present —
  row-local over the already-bounded candidate set)
Expressions
  literals (string/number/bool/null), multivalue literals ``[1, 2, 3]``,
  fields (backquotes for odd names),
  ``+ - * / %``, ``== != < <= > >=``, ``AND OR NOT``, ``IN (..)``,
  ``LIKE`` (``*``/``?`` wildcards), ``RLIKE``, ``IS [NOT] NULL``,
  ``field : "query"`` (the match-operator shorthand for MATCH, scored
  semantics included),
  time spans (``1 day``) as ``DATE_TRUNC``'s first argument or in
  datetime arithmetic (``ts + 3 hours``, ``NOW() - 90 day``).
Scalar functions
  ABS CEIL FLOOR ROUND SQRT POW LOG10 EXP GREATEST LEAST LENGTH SUBSTRING
  CONCAT TO_UPPER TO_LOWER TRIM LTRIM RTRIM REPLACE SPLIT STARTS_WITH
  ENDS_WITH LEFT RIGHT COALESCE CASE TO_STRING TO_LONG TO_INT TO_DOUBLE
  TO_DATETIME DATE_TRUNC DATE_EXTRACT DATE_DIFF DATE_FORMAT DATE_PARSE
  BUCKET LOG SIGNUM LOCATE REVERSE REPEAT HASH CIDR_MATCH TO_IP IP_PREFIX
  MV_COUNT MV_MIN MV_MAX MV_DEDUPE MV_SORT MV_SLICE (incl. negative
  end-relative bounds) MV_SUM MV_AVG MV_MEDIAN MV_FIRST MV_LAST
  MV_CONCAT MV_APPEND MV_ZIP MV_PERCENTILE
  MV_MEDIAN_ABSOLUTE_DEVIATION
  SIN COS TAN ASIN ACOS ATAN ATAN2 SINH COSH TANH CBRT HYPOT PI TAU E
  TO_DEGREES TO_RADIANS MD5 SHA1 SHA256 TO_BASE64 FROM_BASE64
  BIT_LENGTH BYTE_LENGTH SPACE TO_BOOLEAN
  ST_POINT TO_GEOPOINT ST_X ST_Y ST_DISTANCE (geo_point =
  struct<lon, lat>, WKT "POINT (lon lat)"; ST_DISTANCE returns
  great-circle meters on the same sphere as the DSL geo pack)
  ST_INTERSECTS ST_WITHIN ST_CONTAINS ST_DISJOINT (point vs literal
  TO_GEOSHAPE POLYGON — incl. holes — or MULTIPOLYGON: even-odd ray
  cast XOR-combined over rings, division-free — the literal shape
  folds each edge's slope sign at compile time, so the predicate is
  multiply/subtract only and bit-identical across engines; see
  functions/geoshape.py)
  ST_ENVELOPE ST_XMIN ST_XMAX ST_YMIN ST_YMAX (literal-shape bounding
  box as struct<xmin, xmax, ymin, ymax>)
  CATEGORIZE (log-line grouping by alphabetic skeleton — deterministic
  stand-in for ES's ML categorizer, documented in the function)
  ROUND_TO (round down to explicit literal points)
  MATCH (full-text predicate under the standard analyzer; OR operator
  by default, MATCH(field, query, "and") pins AND — the subset
  spelling of the {"operator"} options map)
  TERM (exact term against the analyzed field, query side verbatim)
  MATCH_PHRASE (consecutive analyzed-token containment)
  QSTR (Lucene query-string subset: ``[+|-]field:term`` clauses,
  trailing ``*`` wildcard, quoted phrases ``field:"a b"``,
  parenthesized OR groups ``field:(a OR b*)``; should-clauses are
  boost-only beside a must)
  KQL (Kibana Query Language subset: ``field:value`` term/prefix/phrase
  match, numeric ranges, ``AND OR NOT`` with parentheses)
  NOW (the query-start instant, constant per query; injectable via
  ``esql(..., now=...)`` for reproducible pipelines)
  MV_PSERIES_WEIGHTED_SUM (Σ value_i / i^p over 1-based positions)
  CHUNK_TEXT(field, size, overlap) (RAG word-window chunker to a
  multivalue column; EVAL-only — the word array stages as an attribute
  so the text splits once per row, the SPARK-36715 discipline)
  TEXT_EMBEDDING(field, dims) (deterministic feature-hashing embedding
  — signed md5-bucket token counts, the documented inference stand-in;
  EVAL-only, token pairs staged before the per-dimension fold)
Aggregate functions (inside STATS; scalar wrappers allowed, e.g.
``ROUND(SUM(x), 4)``; per-aggregate filters via
``STATS n = COUNT(*) WHERE cond BY g``)
  COUNT COUNT_DISTINCT SUM AVG MIN MAX MEDIAN PERCENTILE WEIGHTED_AVG
  VALUES STD_DEV VARIANCE SKEWNESS KURTOSIS (all population; the
  moment family computes from raw power sums so both engines agree)
  TOP(field, limit, "asc"|"desc")
  MEDIAN_ABSOLUTE_DEVIATION (exact interpolated percentiles over the
  group's collected values) SAMPLE(field, limit) (DETERMINISTIC
  content-hash-ordered draw — the SAMPLE command precedent)
  ST_CENTROID_AGG (order-free exact-decimal mean point)
  ST_EXTENT_AGG (bounding box of a geo_point column)

Cross-engine determinism: ``ROUND`` compiles to the engine's portable
``floor(x*10^d + 0.5)/10^d`` rounding (`functions/determinism.py`) so ES|QL
results hash-match their DuckDB oracle twins; ES|QL's own semantics do not
specify IEEE tie behavior, so this is a legal (and testable) choice.

ES|QL null-ordering contract: nulls sort LAST under ASC and FIRST under
DESC ("null is larger than any value"); the compiler emits
``asc_nulls_last`` / ``desc_nulls_first`` accordingly unless the query says
``NULLS FIRST/LAST``.
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Any, Callable, Optional

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from elasticsearch_hbase_river_spark.functions.determinism import roundn_col
from elasticsearch_hbase_river_spark.sources.tables import TABLES, load_table


class ESQLError(ValueError):
    """Parse or compile error, with the offending source position."""

    def __init__(self, msg: str, pos: int = -1, text: str = ""):
        loc = ""
        if pos >= 0 and text:
            line = text.count("\n", 0, pos) + 1
            col = pos - (text.rfind("\n", 0, pos) + 1) + 1
            loc = f" (line {line}, col {col})"
        super().__init__(f"ES|QL: {msg}{loc}")
        self.pos = pos


# ---------------------------------------------------------------------------
# Lexer


@dataclass
class Tok:
    kind: str  # IDENT STRING NUMBER OP EOF
    value: Any
    pos: int


_OPS = ("==", "!=", "<=", ">=", "|", ",", "(", ")", "[", "]", "=",
        "<", ">", "+", "-", "*", "/", "%", ":")

_IDENT_RE = re.compile(r"[A-Za-z_@][A-Za-z0-9_.@]*")
_NUM_RE = re.compile(r"\d+(\.\d+)?([eE][+-]?\d+)?")


def _tokenize(text: str) -> list[Tok]:
    toks: list[Tok] = []
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c in " \t\r\n":
            i += 1
            continue
        if text.startswith("//", i):
            j = text.find("\n", i)
            i = n if j < 0 else j
            continue
        if c == '"':
            j, buf = i + 1, []
            while j < n and text[j] != '"':
                if text[j] == "\\" and j + 1 < n:
                    esc = text[j + 1]
                    # unknown escapes KEEP the backslash (a regex or LIKE
                    # pattern like "\d+" / "\*" must survive the lexer)
                    buf.append({"n": "\n", "t": "\t", '"': '"',
                                "\\": "\\"}.get(esc, "\\" + esc))
                    j += 2
                else:
                    buf.append(text[j])
                    j += 1
            if j >= n:
                raise ESQLError("unterminated string literal", i, text)
            toks.append(Tok("STRING", "".join(buf), i))
            i = j + 1
            continue
        if c == "`":
            j = text.find("`", i + 1)
            if j < 0:
                raise ESQLError("unterminated backquoted identifier", i, text)
            toks.append(Tok("IDENT", text[i + 1:j], i))
            i = j + 1
            continue
        m = _NUM_RE.match(text, i)
        if m and c.isdigit():
            s = m.group(0)
            toks.append(Tok("NUMBER",
                            float(s) if ("." in s or "e" in s or "E" in s)
                            else int(s), i))
            i = m.end()
            continue
        m = _IDENT_RE.match(text, i)
        if m:
            toks.append(Tok("IDENT", m.group(0), i))
            i = m.end()
            continue
        for op in _OPS:
            if text.startswith(op, i):
                toks.append(Tok("OP", op, i))
                i += len(op)
                break
        else:
            raise ESQLError(f"unexpected character {c!r}", i, text)
    toks.append(Tok("EOF", None, n))
    return toks


# ---------------------------------------------------------------------------
# Parser → command list (each command a dict) with expression ASTs (tuples)

_TIME_UNITS = {"millisecond", "second", "minute", "hour", "day", "week",
               "month", "quarter", "year"}

_CMDS = ("FROM", "ROW", "WHERE", "EVAL", "STATS", "INLINESTATS", "SORT",
         "LIMIT", "KEEP", "DROP", "RENAME", "MV_EXPAND", "DISSECT", "GROK",
         "LOOKUP", "ENRICH", "FORK", "FUSE", "CHANGE_POINT", "SAMPLE",
         "RERANK", "COMPLETION")


class _Parser:
    def __init__(self, text: str):
        self.text = text
        self.toks = _tokenize(text)
        self.i = 0

    # -- token helpers ------------------------------------------------------
    def peek(self) -> Tok:
        return self.toks[self.i]

    def peek2(self) -> Tok:
        """One-token lookahead, clamped to the trailing EOF token so a
        truncated query (``.. | STATS``) errors as ESQLError, never
        IndexError."""
        return self.toks[min(self.i + 1, len(self.toks) - 1)]

    def next(self) -> Tok:
        t = self.toks[self.i]
        self.i += 1
        return t

    def err(self, msg: str, tok: Optional[Tok] = None):
        raise ESQLError(msg, (tok or self.peek()).pos, self.text)

    def kw(self, t: Tok) -> str:
        return t.value.upper() if t.kind == "IDENT" else ""

    def accept_kw(self, word: str) -> bool:
        if self.kw(self.peek()) == word:
            self.next()
            return True
        return False

    def expect_kw(self, word: str):
        if not self.accept_kw(word):
            self.err(f"expected {word}")

    def accept_op(self, op: str) -> bool:
        t = self.peek()
        if t.kind == "OP" and t.value == op:
            self.next()
            return True
        return False

    def expect_op(self, op: str):
        if not self.accept_op(op):
            self.err(f"expected {op!r}")

    def ident(self) -> str:
        t = self.next()
        if t.kind != "IDENT":
            self.err("expected identifier", t)
        return t.value

    # -- grammar ------------------------------------------------------------
    def parse(self) -> list[dict]:
        cmds = [self.source_cmd()]
        while self.accept_op("|"):
            cmds.append(self.proc_cmd())
        if self.peek().kind != "EOF":
            self.err("unexpected trailing input")
        return cmds

    def source_cmd(self) -> dict:
        t = self.next()
        k = self.kw(t)
        if k == "FROM":
            names = [self.ident()]
            while self.accept_op(","):
                names.append(self.ident())
            metadata: list[str] = []
            if self.accept_kw("METADATA"):
                while True:
                    fld = self.ident()
                    if fld not in ("_index", "_score"):
                        self.err("only METADATA _index and _score are "
                                 "supported")
                    metadata.append(fld)
                    if not self.accept_op(","):
                        break
            return {"cmd": "FROM", "table": names[0], "tables": names,
                    "metadata": metadata, "pos": t.pos}
        if k == "TS":
            return {"cmd": "TS", "table": self.ident(), "pos": t.pos}
        if k == "SHOW":
            self.expect_kw("INFO")
            return {"cmd": "SHOW", "pos": t.pos}
        if k == "ROW":
            cols = []
            while True:
                name = self.ident()
                self.expect_op("=")
                cols.append((name, self.expr()))
                if not self.accept_op(","):
                    break
            return {"cmd": "ROW", "cols": cols, "pos": t.pos}
        self.err("query must start with FROM, TS, ROW or SHOW", t)

    def proc_cmd(self) -> dict:
        t = self.next()
        k = self.kw(t)
        if k not in _CMDS or k in ("FROM", "ROW"):
            self.err(f"unknown command {t.value!r}", t)
        if k == "WHERE":
            return {"cmd": "WHERE", "expr": self.expr(), "pos": t.pos}
        if k == "EVAL":
            cols = []
            while True:
                name = self.ident()
                self.expect_op("=")
                cols.append((name, self.expr()))
                if not self.accept_op(","):
                    break
            return {"cmd": "EVAL", "cols": cols, "pos": t.pos}
        if k in ("STATS", "INLINESTATS"):
            aggs = []
            while True:
                name = None
                nxt = self.peek2()
                if (self.peek().kind == "IDENT"
                        and nxt.kind == "OP" and nxt.value == "="):
                    name = self.ident()
                    self.next()  # '='
                e = self.expr()
                # ES|QL per-aggregate filter: `agg_expr WHERE condition`
                cond = self.expr() if self.accept_kw("WHERE") else None
                aggs.append((name, e, cond))
                if not self.accept_op(","):
                    break
            groups = []
            if self.accept_kw("BY"):
                while True:
                    name = None
                    nxt = self.peek2()
                    if (self.peek().kind == "IDENT"
                            and nxt.kind == "OP" and nxt.value == "="):
                        name = self.ident()
                        self.next()
                    groups.append((name, self.expr()))
                    if not self.accept_op(","):
                        break
            return {"cmd": k, "aggs": aggs, "by": groups, "pos": t.pos}
        if k == "SORT":
            keys = []
            while True:
                e = self.expr()
                desc = False
                if self.accept_kw("DESC"):
                    desc = True
                else:
                    self.accept_kw("ASC")
                nulls = None
                if self.accept_kw("NULLS"):
                    if self.accept_kw("FIRST"):
                        nulls = "first"
                    elif self.accept_kw("LAST"):
                        nulls = "last"
                    else:
                        self.err("expected FIRST or LAST after NULLS")
                keys.append((e, desc, nulls))
                if not self.accept_op(","):
                    break
            return {"cmd": "SORT", "keys": keys, "pos": t.pos}
        if k == "LIMIT":
            t2 = self.next()
            if t2.kind != "NUMBER" or not isinstance(t2.value, int):
                self.err("LIMIT expects an integer literal", t2)
            return {"cmd": "LIMIT", "n": t2.value, "pos": t.pos}
        if k == "SAMPLE":
            t2 = self.next()
            if t2.kind != "NUMBER" or not 0 < float(t2.value) < 1:
                self.err("SAMPLE expects a probability literal in (0, 1)",
                         t2)
            return {"cmd": "SAMPLE", "p": float(t2.value), "pos": t.pos}
        if k in ("KEEP", "DROP"):
            pats = [self.pattern()]
            while self.accept_op(","):
                pats.append(self.pattern())
            return {"cmd": k, "patterns": pats, "pos": t.pos}
        if k == "RENAME":
            pairs = []
            while True:
                old = self.ident()
                self.expect_kw("AS")
                pairs.append((old, self.ident()))
                if not self.accept_op(","):
                    break
            return {"cmd": "RENAME", "pairs": pairs, "pos": t.pos}
        if k == "MV_EXPAND":
            return {"cmd": "MV_EXPAND", "field": self.ident(), "pos": t.pos}
        if k in ("DISSECT", "GROK"):
            fld = self.ident()
            pat = self.next()
            if pat.kind != "STRING":
                self.err(f"{k} expects a quoted pattern", pat)
            sep = ""
            if k == "DISSECT" and self.accept_kw("APPEND_SEPARATOR"):
                self.expect_op("=")
                st = self.next()
                if st.kind != "STRING":
                    self.err("APPEND_SEPARATOR expects a quoted string", st)
                sep = st.value
            return {"cmd": k, "field": fld, "pattern": pat.value,
                    "sep": sep, "pos": t.pos}
        if k == "LOOKUP":
            self.expect_kw("JOIN")
            table = self.ident()
            self.expect_kw("ON")
            keys = [self.ident()]
            while self.accept_op(","):
                keys.append(self.ident())
            return {"cmd": "LOOKUP", "table": table, "on": keys,
                    "pos": t.pos}
        if k == "FORK":
            branches = []
            while self.accept_op("("):
                cmds = [self.proc_cmd()]
                while self.accept_op("|"):
                    cmds.append(self.proc_cmd())
                self.expect_op(")")
                branches.append(cmds)
            if len(branches) < 2:
                self.err("FORK needs at least two ( .. ) branches", t)
            return {"cmd": "FORK", "branches": branches, "pos": t.pos}
        if k == "FUSE":
            method = "rrf"
            if self.peek().kind == "IDENT" and self.kw(self.peek()) in (
                    "RRF", "LINEAR"):
                method = self.kw(self.next()).lower()
            return {"cmd": "FUSE", "method": method, "pos": t.pos}
        if k == "CHANGE_POINT":
            val = self.ident()
            self.expect_kw("ON")
            key = self.ident()
            names = ("type", "pvalue")
            if self.accept_kw("AS"):
                tname = self.ident()
                self.expect_op(",")
                names = (tname, self.ident())
            return {"cmd": "CHANGE_POINT", "value": val, "on": key,
                    "names": names, "pos": t.pos}
        if k == "RERANK":
            q = self.next()
            if q.kind != "STRING":
                self.err("RERANK expects a quoted query", q)
            self.expect_kw("ON")
            return {"cmd": "RERANK", "query": q.value,
                    "field": self.ident(), "pos": t.pos}
        if k == "COMPLETION":
            name = self.ident()
            self.expect_op("=")
            return {"cmd": "COMPLETION", "name": name,
                    "prompt": self.expr(), "pos": t.pos}
        if k == "ENRICH":
            policy = self.ident()
            self.expect_kw("ON")
            fld = self.ident()
            with_fields = []
            if self.accept_kw("WITH"):
                with_fields.append(self.ident())
                while self.accept_op(","):
                    with_fields.append(self.ident())
            return {"cmd": "ENRICH", "policy": policy, "on": fld,
                    "with": with_fields, "pos": t.pos}
        self.err(f"unhandled command {k}", t)

    def pattern(self) -> str:
        """KEEP/DROP item: identifier, possibly with ``*`` wildcards."""
        parts = [self.ident() if self.peek().kind == "IDENT" else ""]
        if parts == [""]:
            self.expect_op("*")
            parts = ["*"]
        while True:
            t = self.peek()
            if t.kind == "OP" and t.value == "*":
                self.next()
                parts.append("*")
            elif (t.kind == "IDENT" and parts[-1] == "*"
                  and t.pos == self.toks[self.i - 1].pos + 1):
                parts.append(self.next().value)
            else:
                break
        return "".join(parts)

    # -- expressions (precedence climbing) ----------------------------------
    def expr(self):
        return self.or_expr()

    def or_expr(self):
        e = self.and_expr()
        while self.accept_kw("OR"):
            e = ("bin", "or", e, self.and_expr())
        return e

    def and_expr(self):
        e = self.not_expr()
        while self.accept_kw("AND"):
            e = ("bin", "and", e, self.not_expr())
        return e

    def not_expr(self):
        if self.accept_kw("NOT"):
            return ("not", self.not_expr())
        return self.cmp_expr()

    def cmp_expr(self):
        e = self.add_expr()
        t = self.peek()
        if t.kind == "OP" and t.value in ("==", "!=", "<", "<=", ">", ">="):
            self.next()
            return ("bin", t.value, e, self.add_expr())
        if t.kind == "OP" and t.value == ":":
            # ES|QL match operator shorthand: `field : "query"` ≡
            # MATCH(field, "query") — including scored semantics when it
            # is the entire WHERE predicate under METADATA _score
            self.next()
            q = self.next()
            if q.kind != "STRING":
                self.err('the ":" match operator expects a quoted query',
                         q)
            if e[0] != "field":
                self.err('the ":" match operator needs a field on its '
                         'left', t)
            return ("call", "MATCH", [e, ("lit", q.value)], t.pos)
        negate = False
        if (self.kw(t) == "NOT"
                and self.kw(self.toks[self.i + 1]) in ("IN", "LIKE", "RLIKE")):
            self.next()
            negate = True
            t = self.peek()
        k = self.kw(t)
        out = None
        if k == "IN":
            self.next()
            self.expect_op("(")
            items = [self.expr()]
            while self.accept_op(","):
                items.append(self.expr())
            self.expect_op(")")
            out = ("in", e, items)
        elif k in ("LIKE", "RLIKE"):
            self.next()
            pat = self.next()
            if pat.kind != "STRING":
                self.err(f"{k} expects a quoted pattern", pat)
            out = (k.lower(), e, pat.value)
        elif k == "IS":
            self.next()
            neg = self.accept_kw("NOT")
            self.expect_kw("NULL")
            out = ("isnull", e, neg)
        if out is None:
            if negate:
                self.err("expected IN, LIKE or RLIKE after NOT")
            return e
        return ("not", out) if negate else out

    def add_expr(self):
        e = self.mul_expr()
        while True:
            t = self.peek()
            if t.kind == "OP" and t.value in ("+", "-"):
                self.next()
                e = ("bin", t.value, e, self.mul_expr())
            else:
                return e

    def mul_expr(self):
        e = self.unary()
        while True:
            t = self.peek()
            if t.kind == "OP" and t.value in ("*", "/", "%"):
                self.next()
                e = ("bin", t.value, e, self.unary())
            else:
                return e

    def unary(self):
        if self.accept_op("-"):
            return ("neg", self.unary())
        return self.primary()

    def primary(self):
        t = self.next()
        if t.kind == "NUMBER":
            # time-span literal: NUMBER unit (only DATE_TRUNC consumes it)
            u = self.kw(self.peek()).lower().rstrip("s")
            if self.peek().kind == "IDENT" and u in _TIME_UNITS:
                self.next()
                return ("span", t.value, u)
            return ("lit", t.value)
        if t.kind == "STRING":
            return ("lit", t.value)
        if t.kind == "OP" and t.value == "(":
            e = self.expr()
            self.expect_op(")")
            return e
        if t.kind == "OP" and t.value == "[":
            # ES|QL multivalue literal: [e1, e2, ...]
            items = []
            if not self.accept_op("]"):
                items.append(self.expr())
                while self.accept_op(","):
                    items.append(self.expr())
                self.expect_op("]")
            if not items:
                self.err("empty [] literal has no type", t)
            return ("arr", items)
        if t.kind == "OP" and t.value == "*":
            return ("star",)
        if t.kind == "IDENT":
            k = t.value.upper()
            if k == "NULL":
                return ("lit", None)
            if k == "TRUE":
                return ("lit", True)
            if k == "FALSE":
                return ("lit", False)
            if self.accept_op("("):
                args = []
                if not self.accept_op(")"):
                    args.append(self.expr())
                    while self.accept_op(","):
                        args.append(self.expr())
                    self.expect_op(")")
                return ("call", k, args, t.pos)
            return ("field", t.value)
        self.err("expected expression", t)


def parse(text: str) -> list[dict]:
    """Parse ES|QL text into a command list (exposed for tests)."""
    return _Parser(text).parse()


# ---------------------------------------------------------------------------
# Compiler

def _like_to_sql(pat: str) -> str:
    """ES|QL LIKE uses ``*``/``?`` wildcards with ``\\*``/``\\?`` escapes
    for the literal characters; translate to SQL ``%``/``_``, escaping any
    literal ``%``/``_``/``\\`` already in the pattern."""
    out, i, n = [], 0, len(pat)
    while i < n:
        c = pat[i]
        if c == "\\" and i + 1 < n and pat[i + 1] in "*?\\":
            nxt = pat[i + 1]
            out.append("\\\\" if nxt == "\\" else nxt)  # literal * ? \
            i += 2
            continue
        if c == "*":
            out.append("%")
        elif c == "?":
            out.append("_")
        elif c in "%_":
            out.append("\\" + c)
        elif c == "\\":
            out.append("\\\\")
        else:
            out.append(c)
        i += 1
    return "".join(out)


def _fn_round(args, raw):
    d = 0
    if len(args) == 2:
        if raw[1][0] != "lit" or not isinstance(raw[1][1], int):
            raise ESQLError("ROUND decimals must be an integer literal")
        d = raw[1][1]
    elif len(args) != 1:
        raise ESQLError("ROUND takes 1 or 2 arguments")
    return roundn_col(args[0], d)


def _grid_floor(ts: Column, width_secs: int) -> Column:
    """Epoch-anchored grid floor for uniform multi-unit spans — tz-free
    NTZ arithmetic (a cast through LTZ would smuggle the session tz in).
    Shared by multi-unit DATE_TRUNC and BUCKET so their grids cannot
    drift apart."""
    zero = F.to_timestamp_ntz(F.lit("1970-01-01 00:00:00"))
    epoch = F.timestamp_diff("SECOND", zero, ts)
    grid = (F.floor(epoch / F.lit(width_secs)) * F.lit(width_secs))         .cast("long")
    return F.timestamp_add("SECOND", grid, zero)


#: calendar units as month multiples — non-uniform in seconds, exact in
#: month arithmetic (ES's Rounding.Builder anchors these at the epoch
#: month, 1970-01)
_CAL_MONTH_UNITS = {"month": 1, "quarter": 3, "year": 12}


def _cal_grid_floor(ts: Column, months_n: int) -> Column:
    """Epoch-anchored CALENDAR grid floor: months-since-1970-01 floored
    to a multiple of ``months_n``, rendered as that month's first
    instant. Non-uniform in seconds but exact — no DST/length-of-month
    approximation — and tz-free like :func:`_grid_floor`."""
    m = (F.year(ts) - 1970) * 12 + F.month(ts) - 1
    fl = (m - F.pmod(m, F.lit(months_n))).cast("int")
    return F.to_timestamp_ntz(
        F.add_months(F.to_date(F.lit("1970-01-01")), fl))


def _scalar_to_unsigned_long(args, raw):
    d = args[0].cast("decimal(38,10)")
    t = (d - (d % 1)).cast("decimal(20,0)")  # truncate toward zero
    return F.when(
        (t >= 0) & (t <= F.lit("18446744073709551615")
                    .cast("decimal(20,0)")), t)


def _fn_date_trunc(args, raw):
    if len(raw) != 2:
        raise ESQLError("DATE_TRUNC takes (span, timestamp)")
    span = raw[0]
    if span[0] == "lit" and isinstance(span[1], str):
        unit = span[1].lower().rstrip("s")
    elif span[0] == "span":
        if span[1] != 1:
            # multi-unit spans: uniform units truncate onto the same
            # epoch-anchored grid BUCKET uses (ES|QL's DATE_TRUNC(3 hour,
            # ts) is grid-floor, not calendar truncation); calendar units
            # (month/quarter/year) floor in exact MONTH arithmetic on the
            # epoch-month grid — non-uniform in seconds, never
            # approximated by a fixed width.
            unit, n = span[2], span[1]
            if float(n) != int(n):
                raise ESQLError(
                    f"time-span quantity must be an integer, got {n}")
            n = int(n)
            if n <= 0:
                raise ESQLError("DATE_TRUNC span count must be positive")
            if unit in _CAL_MONTH_UNITS:
                return _cal_grid_floor(args[1], n * _CAL_MONTH_UNITS[unit])
            if unit not in _SPAN_SECONDS:
                raise ESQLError(
                    f"multi-unit DATE_TRUNC spans need a uniform or "
                    f"calendar unit ({sorted(_SPAN_SECONDS)} / "
                    f"{sorted(_CAL_MONTH_UNITS)}), got {n} {unit}")
            return _grid_floor(args[1], n * _SPAN_SECONDS[unit])
        unit = span[2]
    else:
        raise ESQLError("DATE_TRUNC's first argument must be a time span")
    if unit not in _TIME_UNITS:
        raise ESQLError(f"unsupported DATE_TRUNC unit {unit!r}")
    return F.date_trunc(unit, args[1])


_SCALARS: dict[str, Callable[[list[Column], list], Column]] = {
    "ABS": lambda a, r: F.abs(a[0]),
    "CEIL": lambda a, r: F.ceil(a[0]).cast("double"),
    "FLOOR": lambda a, r: F.floor(a[0]).cast("double"),
    "ROUND": _fn_round,
    "SQRT": lambda a, r: F.sqrt(a[0]),
    "POW": lambda a, r: F.pow(a[0], a[1]),
    "LOG10": lambda a, r: F.log10(a[0]),
    "EXP": lambda a, r: F.exp(a[0]),
    "GREATEST": lambda a, r: F.greatest(*a),
    "LEAST": lambda a, r: F.least(*a),
    "LENGTH": lambda a, r: F.length(a[0]).cast("long"),
    "CONCAT": lambda a, r: F.concat(*a),
    "TO_UPPER": lambda a, r: F.upper(a[0]),
    "TO_LOWER": lambda a, r: F.lower(a[0]),
    "TRIM": lambda a, r: F.trim(a[0]),
    "LTRIM": lambda a, r: F.ltrim(a[0]),
    "RTRIM": lambda a, r: F.rtrim(a[0]),
    "STARTS_WITH": lambda a, r: F.startswith(a[0], a[1]),
    "ENDS_WITH": lambda a, r: F.endswith(a[0], a[1]),
    "LEFT": lambda a, r: F.substring(a[0], 1, a[1]),
    "COALESCE": lambda a, r: F.coalesce(*a),
    "TO_STRING": lambda a, r: a[0].cast("string"),
    "TO_LONG": lambda a, r: a[0].cast("long"),
    # unsigned 64-bit range via DECIMAL(20,0) (Spark has no unsigned
    # type); fractional input TRUNCATES toward zero like the other
    # TO_* integral casts (a bare decimal(20,0) cast would round
    # half-up); out-of-range folds to null, the ES|QL convention
    "TO_UNSIGNED_LONG": _scalar_to_unsigned_long,
    "TO_INT": lambda a, r: a[0].cast("int"),
    "TO_DOUBLE": lambda a, r: a[0].cast("double"),
    # fixture timestamps are TIMESTAMP_NTZ (sources/tables.py); parity of
    # literal comparisons needs the same type on both operands
    "TO_DATETIME": lambda a, r: a[0].cast("timestamp_ntz"),
    "DATE_TRUNC": _fn_date_trunc,
    "DATE_EXTRACT": lambda a, r: F.date_part(a[0], a[1]).cast("long"),
    "MV_COUNT": lambda a, r: F.when(a[0].isNotNull(),
                                    F.size(a[0]).cast("long")),
    "MV_MIN": lambda a, r: F.array_min(a[0]),
    "MV_MAX": lambda a, r: F.array_max(a[0]),
}


def _scalar_substring(args, raw):
    if len(args) == 3:
        return F.substring(args[0], args[1], args[2])
    if len(args) == 2:
        return F.substring(args[0], args[1], F.lit(2147483647))
    raise ESQLError("SUBSTRING takes 2 or 3 arguments")


def _scalar_replace(args, raw):
    if len(args) != 3:
        raise ESQLError("REPLACE takes (string, regex, replacement)")
    return F.regexp_replace(args[0], raw[1][1]
                            if raw[1][0] == "lit" else args[1], args[2])


def _scalar_split(args, raw):
    if len(raw) != 2 or raw[1][0] != "lit":
        raise ESQLError("SPLIT takes (string, literal delimiter)")
    return F.split(args[0], re.escape(raw[1][1]))


def _scalar_right(args, raw):
    if len(args) != 2:
        raise ESQLError("RIGHT takes (string, length)")
    return F.when(args[0].isNotNull(),
                  F.substring(args[0], -args[1], args[1]))


def _scalar_hash(args, raw):
    """ES|QL ``HASH("alg", input)`` — md5 / sha1 / sha256."""
    if (len(raw) != 2 or raw[0][0] != "lit"
            or not isinstance(raw[0][1], str)):
        raise ESQLError('HASH takes ("alg", input) with a string literal '
                        "algorithm")
    alg = raw[0][1].lower()
    if alg == "md5":
        return F.md5(args[1])
    if alg == "sha1":
        return F.sha1(args[1])
    if alg == "sha256":
        return F.sha2(args[1], 256)
    raise ESQLError(f"unsupported HASH algorithm {alg!r} "
                    "(md5, sha1, sha256)")


def _compile_cidr_blocks(raw) -> list[tuple[str, int, list[str]]]:
    """Validate + compile CIDR_MATCH's literal block args (shared by the
    Column scalar and the staged EVAL/WHERE path so arity/literal errors
    stay identical between the two)."""
    if len(raw) < 2:
        raise ESQLError("CIDR_MATCH takes (ip, cidr_literal, ...)")
    from elasticsearch_hbase_river_spark.functions.ip import (
        cidr_match_hex_conds,
    )

    blocks = []
    for blk in raw[1:]:
        if blk[0] != "lit" or not isinstance(blk[1], str):
            raise ESQLError("CIDR_MATCH blocks must be string literals")
        try:
            blocks.append(cidr_match_hex_conds(blk[1]))
        except ValueError as e:
            raise ESQLError(f"bad CIDR block {blk[1]!r}: {e}")
    return blocks


def _scalar_cidr_match(args, raw):
    """ES|QL ``CIDR_MATCH(ip, "block", ...)``: true iff the IP string —
    IPv4 or IPv6 — falls in ANY of the literal CIDR blocks. The blocks
    are parsed at compile time (stdlib ``ipaddress``); the match runs on
    the 128-bit value as 32 lowercase nibbles with IPv4 mapped into
    ``::ffff:0:0/96`` (the Lucene ``InetAddressPoint`` encoding ES's ip
    CIDR queries use), so a test is a fixed-length string-prefix compare
    plus an allowed-chars check for a non-nibble-aligned prefix.
    Invalid/unparseable addresses are a NON-match, never an error."""
    blocks = _compile_cidr_blocks(raw)
    from elasticsearch_hbase_river_spark.functions.ip import (
        _let as _ip_let,
        cidr_match_on_hex,
        ip_hex32_col,
    )

    return _ip_let(ip_hex32_col(args[0]),
                   lambda h: cidr_match_on_hex(h, blocks))


def _scalar_match(args, raw):
    """ES|QL ``MATCH(field, query)`` (the ``field : "query"`` predicate):
    full-text match under the engine's standard analyzer chain, default
    OR operator — true iff any analyzed query term occurs in the field's
    analyzed tokens. Both sides run the SAME analyzer expression, so a
    literal query is folded by Catalyst into a constant term array.
    ``MATCH(field, query, "and")`` pins the AND operator (every analyzed
    query term must occur) — the subset spelling of ES's
    ``{"operator": "AND"}`` options map, documented deviation."""
    if len(args) not in (2, 3):
        raise ESQLError('MATCH takes (field, query[, "and"|"or"])')
    from elasticsearch_hbase_river_spark.functions.analyzer import (
        analyze_tokens,
    )
    op = "or"
    if len(args) == 3:
        if (raw[2][0] != "lit" or raw[2][1] not in ("and", "or")):
            raise ESQLError('MATCH operator must be the literal "and" '
                            'or "or"')
        op = raw[2][1]
    field_toks = analyze_tokens(args[0])
    query_toks = analyze_tokens(args[1])
    if op == "and":
        # every distinct query term present: the query-token set minus
        # the field tokens is empty (both sides analyzed identically)
        return (F.size(F.array_except(query_toks, field_toks)) == 0) \
            & (F.size(query_toks) > 0)
    return F.arrays_overlap(field_toks, query_toks)


def _scalar_case(args, raw):
    if len(args) < 2:
        raise ESQLError("CASE takes (cond, value, ..., [default])")
    pairs, default = args, None
    if len(args) % 2 == 1:
        pairs, default = args[:-1], args[-1]
    out = None
    for i in range(0, len(pairs), 2):
        out = (F.when(pairs[i], pairs[i + 1]) if out is None
               else out.when(pairs[i], pairs[i + 1]))
    return out if default is None else out.otherwise(default)


def _scalar_log(args, raw):
    if len(args) == 1:
        return F.log(args[0])          # natural log, ES|QL LOG(x)
    if len(args) == 2:
        return F.log(args[1]) / F.log(args[0])   # LOG(base, x)
    raise ESQLError("LOG takes (x) or (base, x)")


def _scalar_date_diff(args, raw):
    if len(raw) != 3 or raw[0][0] != "lit":
        raise ESQLError('DATE_DIFF takes ("unit", start, end)')
    unit = raw[0][1].lower().rstrip("s")
    ms = {"millisecond": 1, "second": 1000, "minute": 60_000,
          "hour": 3_600_000, "day": 86_400_000}
    if unit not in ms:
        raise ESQLError(f"unsupported DATE_DIFF unit {unit!r} "
                        f"(fixed-width units only: {sorted(ms)})")
    span = (F.unix_millis(args[2].cast("timestamp"))
            - F.unix_millis(args[1].cast("timestamp")))
    # truncation toward zero, the ES|QL contract
    return (span / F.lit(ms[unit])).cast("long")


def _mv_slice_bound(node):
    # literal index, allowing the unary-minus form the parser emits for
    # negative numbers: ("neg", ("lit", n)) -> -n
    if node[0] == "lit" and isinstance(node[1], int):
        return node[1]
    if (node[0] == "neg" and node[1][0] == "lit"
            and isinstance(node[1][1], int)):
        return -node[1][1]
    return None


def _scalar_mv_slice(args, raw):
    if len(raw) != 3:
        raise ESQLError("MV_SLICE takes (array, start, end) with literal "
                        "0-based inclusive bounds")
    start, end = _mv_slice_bound(raw[1]), _mv_slice_bound(raw[2])
    if start is None or end is None:
        raise ESQLError("MV_SLICE takes (array, start, end) with literal "
                        "0-based inclusive bounds")
    if (start < 0) != (end < 0):
        raise ESQLError("MV_SLICE bounds must be both non-negative or "
                        "both negative (mixed-sign bounds are outside "
                        "the supported subset)")
    if end < start:
        raise ESQLError("MV_SLICE end bound must be >= start bound")
    if start >= 0:
        return F.slice(args[0], start + 1, end - start + 1)
    # negative = end-relative (ES|QL: -1 is the last element). Resolve
    # against the element count and clamp the start at 1 so a slice that
    # begins before the array head degrades to the in-range suffix, the
    # ES behavior for partially out-of-range negative windows.
    n = F.size(args[0])
    first = F.greatest(n + F.lit(start + 1), F.lit(1))
    last = n + F.lit(end + 1)
    return F.when(last >= F.lit(1),
                  F.slice(args[0], first, F.greatest(
                      last - first + F.lit(1), F.lit(0))))


def _scalar_mv_median(args, raw):
    # ES MV_MEDIAN: middle value of the sorted list; for an even count,
    # the mean of the two middle values. Returned as double. The sort
    # uses the ARRAY's element type — a string array (e.g. from SPLIT)
    # of multi-digit numbers sorts lexicographically; cast upstream or
    # keep values single-digit when the array carries rendered numbers.
    arr = F.array_sort(args[0])
    n = F.size(arr)
    h = F.floor(n / 2).cast("int")
    odd = F.element_at(arr, h + 1).cast("double")
    even = ((F.element_at(arr, h).cast("double")
             + F.element_at(arr, h + 1).cast("double")) / 2.0)
    return F.when(n > 0, F.when(n % 2 == 1, odd).otherwise(even))


def _mv_percentile_of(arr_sorted: Column, n: Column, p: Column) -> Column:
    """Linear-interpolated percentile over a SORTED array (the PERCENTILE
    aggregate's interpolation rule, applied per multivalue)."""
    rank = (p.cast("double") / 100.0) * (n.cast("double") - 1)
    lo = F.floor(rank).cast("int")
    frac = rank - lo.cast("double")
    v_lo = F.element_at(arr_sorted, lo + 1).cast("double")
    v_hi = F.element_at(arr_sorted, F.least(lo + 2, n)).cast("double")
    return F.when(n > 0, v_lo + (v_hi - v_lo) * frac)


def _scalar_mv_percentile(args, raw):
    if len(args) != 2:
        raise ESQLError("MV_PERCENTILE takes (array, percent)")
    arr = F.array_sort(args[0])
    return _mv_percentile_of(arr, F.size(arr), args[1])


def _scalar_mv_mad(args, raw):
    """MV_MEDIAN_ABSOLUTE_DEVIATION: median(|x - median(values)|).
    The median is captured inside the deviation transform — per-row
    re-evaluation bounded by the MULTIVALUE length (O(m²) on a per-row
    array, not the corpus-sized SPARK-36715 hazard)."""
    if len(args) != 1:
        raise ESQLError("MV_MEDIAN_ABSOLUTE_DEVIATION takes one array")
    arr = F.array_sort(args[0])
    n = F.size(arr)
    med = _mv_percentile_of(arr, n, F.lit(50.0))
    devs = F.array_sort(
        F.transform(args[0], lambda x: F.abs(x.cast("double") - med)))
    return _mv_percentile_of(devs, n, F.lit(50.0))


_SCALARS["MV_PERCENTILE"] = _scalar_mv_percentile
_SCALARS["MV_MEDIAN_ABSOLUTE_DEVIATION"] = _scalar_mv_mad


def _scalar_mv_concat(args, raw):
    if len(raw) != 2 or raw[1][0] != "lit" or not isinstance(raw[1][1], str):
        raise ESQLError("MV_CONCAT takes (array, literal delimiter)")
    return F.array_join(args[0], raw[1][1])


def _scalar_mv_zip(args, raw):
    if len(raw) not in (2, 3):
        raise ESQLError("MV_ZIP takes (array, array[, literal delimiter])")
    delim = ","
    if len(raw) == 3:
        if raw[2][0] != "lit" or not isinstance(raw[2][1], str):
            raise ESQLError("MV_ZIP delimiter must be a string literal")
        delim = raw[2][1]
    # zip_with pads the shorter side with nulls; concat_ws skips nulls, so
    # the longer side's tail values pass through bare — the ES behavior
    return F.zip_with(args[0], args[1],
                      lambda x, y: F.concat_ws(delim, x, y))


_MV_SUM = lambda a: F.aggregate(a, F.lit(0.0),
                                lambda acc, x: acc + x.cast("double"))
_SCALARS["MV_SUM"] = lambda a, r: F.when(F.size(a[0]) > 0, _MV_SUM(a[0]))
_SCALARS["MV_AVG"] = lambda a, r: F.when(F.size(a[0]) > 0,
                                         _MV_SUM(a[0]) / F.size(a[0]))
_SCALARS["MV_MEDIAN"] = _scalar_mv_median
_SCALARS["MV_FIRST"] = lambda a, r: F.element_at(a[0], 1)
_SCALARS["MV_LAST"] = lambda a, r: F.element_at(a[0], -1)
_SCALARS["MV_CONCAT"] = _scalar_mv_concat
_SCALARS["MV_APPEND"] = lambda a, r: F.concat(a[0], a[1])
_SCALARS["MV_ZIP"] = _scalar_mv_zip


def _scalar_to_ip(args, raw):
    # IPv4 dotted quad passes through; IPv6 canonicalizes per RFC 5952
    # (lowercase, zeros stripped, leftmost-longest zero run compressed —
    # functions/ip.py, pure column expressions); anything else (incl.
    # IPv4-mapped v6 forms) folds to null — the ES|QL null-with-warning
    # convention for unconvertible values
    from elasticsearch_hbase_river_spark.functions.ip import to_ip_col
    return to_ip_col(args[0])


def _ip_prefix_lens(raw) -> tuple[int, int]:
    """Validate IP_PREFIX's literal length args (shared by the Column
    scalar and the staged EVAL/WHERE path)."""
    if (len(raw) != 3 or raw[1][0] != "lit"
            or not isinstance(raw[1][1], int)
            or raw[2][0] != "lit" or not isinstance(raw[2][1], int)):
        raise ESQLError("IP_PREFIX takes (ip, literal v4 prefix length, "
                        "literal v6 prefix length)")
    v4len, v6len = raw[1][1], raw[2][1]
    if not 0 <= v4len <= 32:
        raise ESQLError(f"bad IPv4 prefix length {v4len}")
    if not 0 <= v6len <= 128:
        raise ESQLError(f"bad IPv6 prefix length {v6len}")
    return v4len, v6len


def _scalar_ip_prefix(args, raw):
    """``IP_PREFIX(ip, v4_len, v6_len)``: zero the host bits and render
    the network address. The FAMILY of the stored value picks the
    length — values in the IPv4-mapped range (every dotted-quad and
    ``::ffff:x:y`` form) use ``v4_len`` over the v4 bits and render
    dotted; other IPv6 values use ``v6_len`` over all 128 bits and
    render RFC 5952 canonical. Runs on the hex32 encoding (mask =
    substring + a compile-time translate map) with the canonicalizer
    reused for rendering, so IP_PREFIX and TO_IP can never disagree.
    Unparseable input folds to null."""
    v4len, v6len = _ip_prefix_lens(raw)
    from elasticsearch_hbase_river_spark.functions.ip import ip_prefix_col

    return ip_prefix_col(args[0], v4len, v6len)


_SCALARS["TO_IP"] = _scalar_to_ip
_SCALARS["IP_PREFIX"] = _scalar_ip_prefix

# -- spatial: geo_point subset (struct<lon, lat>, WKT "POINT (lon lat)") --

#: mean earth radius in meters — same sphere as the DSL geo pack
#: (`operators/esdsl3.py:EARTH_R_KM` = 6371.0088), so language-level and
#: DSL-level distances agree to the meter.
_EARTH_R_M = 6371008.8

_WKT_POINT_RE = re.compile(
    r"^\s*POINT\s*\(\s*(-?\d+(?:\.\d+)?)\s+(-?\d+(?:\.\d+)?)\s*\)\s*$",
    re.IGNORECASE)
_WKT_POINT_SQL = r"^\s*POINT\s*\(\s*(-?[0-9.]+)\s+(-?[0-9.]+)\s*\)\s*$"


def _geopoint(lon: Column, lat: Column) -> Column:
    return F.struct(lon.cast("double").alias("lon"),
                    lat.cast("double").alias("lat"))


def _scalar_st_point(args, raw):
    if len(args) != 2:
        raise ESQLError("ST_POINT takes (x, y) = (lon, lat)")
    return _geopoint(args[0], args[1])


def _scalar_to_geopoint(args, raw):
    """WKT ``POINT (lon lat)`` → geo_point; malformed input folds to a
    null-membered point (the ES|QL null-with-warning convention)."""
    if len(raw) != 1:
        raise ESQLError("TO_GEOPOINT takes one WKT string")
    if raw[0][0] == "lit" and isinstance(raw[0][1], str):
        m = _WKT_POINT_RE.match(raw[0][1])
        if not m:
            raise ESQLError(f"bad WKT point literal {raw[0][1]!r}")
        return _geopoint(F.lit(float(m.group(1))),
                         F.lit(float(m.group(2))))
    lon = F.regexp_extract(args[0], _WKT_POINT_SQL, 1)
    lat = F.regexp_extract(args[0], _WKT_POINT_SQL, 2)
    return _geopoint(F.when(lon != "", lon), F.when(lat != "", lat))


def _scalar_st_distance(args, raw):
    """Great-circle METERS between two geo_points (the ES ST_DISTANCE
    contract for geo_point) — haversine on the shared sphere, all
    codegen'd JVM libm, no UDF."""
    if len(args) != 2:
        raise ESQLError("ST_DISTANCE takes two geo_points")
    lat1, lon1 = F.radians(args[0]["lat"]), F.radians(args[0]["lon"])
    lat2, lon2 = F.radians(args[1]["lat"]), F.radians(args[1]["lon"])
    h = (F.pow(F.sin((lat2 - lat1) / 2), F.lit(2.0))
         + F.cos(lat1) * F.cos(lat2)
         * F.pow(F.sin((lon2 - lon1) / 2), F.lit(2.0)))
    return F.lit(2.0 * _EARTH_R_M) * F.asin(F.sqrt(h))


_SCALARS["ST_POINT"] = _scalar_st_point
_SCALARS["TO_GEOPOINT"] = _scalar_to_geopoint
_SCALARS["ST_DISTANCE"] = _scalar_st_distance
_SCALARS["ST_X"] = lambda a, r: a[0]["lon"]
_SCALARS["ST_Y"] = lambda a, r: a[0]["lat"]


def _shape_ring(raw_arg, what: str):
    """A literal shape passed as ``TO_GEOSHAPE("POLYGON ((..))")`` or
    ``TO_GEOSHAPE("MULTIPOLYGON (((..)))")`` — parsed driver-side (see
    functions/geoshape.py; holes and multi-parts ride the even-odd
    rule). Returns the closed ring LIST, or None if the argument is not
    a shape literal."""
    from elasticsearch_hbase_river_spark.functions.geoshape import (
        parse_wkt_shape,
    )
    if not (raw_arg[0] == "call" and raw_arg[1] == "TO_GEOSHAPE"):
        return None
    inner = raw_arg[2]
    if (len(inner) != 1 or inner[0][0] != "lit"
            or not isinstance(inner[0][1], str)):
        raise ESQLError("TO_GEOSHAPE takes one WKT string literal")
    try:
        return parse_wkt_shape(inner[0][1])
    except ValueError as ex:
        raise ESQLError(f"{what}: {ex}")


def _st_relation(name: str, point_first_only: bool,
                 shape_first_only: bool):
    """Build ST_INTERSECTS / ST_WITHIN / ST_CONTAINS / ST_DISJOINT for
    the point-vs-literal-shape subset (POLYGON incl. holes,
    MULTIPOLYGON): the even-odd ray cast of functions/geoshape.py
    (division-free, bit-identical in both engines) XOR-combined over
    the shape's rings. For a point against a shape the three positive
    relations coincide; the argument ORDER contract still mirrors ES
    (WITHIN wants the point first, CONTAINS the shape first)."""
    def rel(args, raw):
        if len(raw) != 2:
            raise ESQLError(f"{name} takes two geometries")
        ring0 = _shape_ring(raw[0], name)
        ring1 = _shape_ring(raw[1], name)
        if (ring0 is None) == (ring1 is None):
            raise ESQLError(
                f"{name} subset: exactly one argument must be a "
                "TO_GEOSHAPE polygon literal, the other a geo_point")
        if ring1 is not None and shape_first_only:
            raise ESQLError(
                f"{name} expects (shape, point) — a point cannot "
                "contain a polygon")
        if ring0 is not None and point_first_only:
            raise ESQLError(
                f"{name} expects (point, shape) — a polygon is never "
                "within a point")
        rings = ring0 if ring0 is not None else ring1
        pt = args[1] if ring0 is not None else args[0]
        from elasticsearch_hbase_river_spark.functions.geoshape import (
            point_in_rings_col,
        )
        inside = point_in_rings_col(pt["lon"], pt["lat"], rings)
        return ~inside if name == "ST_DISJOINT" else inside

    return rel


_SCALARS["ST_INTERSECTS"] = _st_relation("ST_INTERSECTS", False, False)
_SCALARS["ST_DISJOINT"] = _st_relation("ST_DISJOINT", False, False)
_SCALARS["ST_WITHIN"] = _st_relation("ST_WITHIN", True, False)
_SCALARS["ST_CONTAINS"] = _st_relation("ST_CONTAINS", False, True)


def _scalar_st_envelope(args, raw):
    """``ST_ENVELOPE(TO_GEOSHAPE(..))``: the literal shape's bounding
    box as a struct<xmin, xmax, ymin, ymax> of driver-side constants."""
    from elasticsearch_hbase_river_spark.functions.geoshape import (
        rings_bbox,
    )
    if len(raw) != 1:
        raise ESQLError("ST_ENVELOPE takes one geometry")
    rings = _shape_ring(raw[0], "ST_ENVELOPE")
    if rings is None:
        raise ESQLError("ST_ENVELOPE subset: the argument must be a "
                        "TO_GEOSHAPE polygon literal")
    xmin, xmax, ymin, ymax = rings_bbox(rings)
    return F.struct(F.lit(xmin).alias("xmin"), F.lit(xmax).alias("xmax"),
                    F.lit(ymin).alias("ymin"), F.lit(ymax).alias("ymax"))


_SCALARS["ST_ENVELOPE"] = _scalar_st_envelope
_SCALARS["ST_XMIN"] = lambda a, r: a[0]["xmin"]
_SCALARS["ST_XMAX"] = lambda a, r: a[0]["xmax"]
_SCALARS["ST_YMIN"] = lambda a, r: a[0]["ymin"]
_SCALARS["ST_YMAX"] = lambda a, r: a[0]["ymax"]


def _scalar_to_geoshape(args, raw):
    raise ESQLError("TO_GEOSHAPE is only valid as a literal argument of "
                    "ST_INTERSECTS / ST_WITHIN / ST_CONTAINS / "
                    "ST_DISJOINT / ST_ENVELOPE")


_SCALARS["TO_GEOSHAPE"] = _scalar_to_geoshape

_SCALARS["MV_DEDUPE"] = lambda a, r: F.array_sort(F.array_distinct(a[0]))
_SCALARS["MV_SORT"] = lambda a, r: F.array_sort(a[0])
_SCALARS["MV_SLICE"] = _scalar_mv_slice
_SCALARS["REVERSE"] = lambda a, r: F.reverse(a[0])
_SCALARS["REPEAT"] = lambda a, r: F.repeat(a[0], a[1])
def _scalar_locate(args, raw):
    if len(raw) != 2 or raw[1][0] != "lit":
        raise ESQLError("LOCATE takes (string, literal substring)")
    return F.locate(raw[1][1], args[0]).cast("long")


_SCALARS["LOCATE"] = _scalar_locate
_SCALARS["SIGNUM"] = lambda a, r: F.signum(a[0])
_SCALARS["LOG"] = _scalar_log
_SCALARS["DATE_DIFF"] = _scalar_date_diff

_SCALARS["SUBSTRING"] = _scalar_substring
_SCALARS["REPLACE"] = _scalar_replace
_SCALARS["SPLIT"] = _scalar_split
_SCALARS["RIGHT"] = _scalar_right
_SCALARS["CASE"] = _scalar_case
_SCALARS["MATCH"] = _scalar_match
def _scalar_date_format(args, raw):
    if len(raw) != 2 or raw[0][0] != "lit":
        raise ESQLError('DATE_FORMAT takes ("pattern", date) with a '
                        'literal Java datetime pattern')
    return F.date_format(args[1], raw[0][1])


def _scalar_date_parse(args, raw):
    if len(raw) != 2 or raw[0][0] != "lit":
        raise ESQLError('DATE_PARSE takes ("pattern", string) with a '
                        'literal Java datetime pattern')
    return F.to_timestamp(args[1], raw[0][1]).cast("timestamp_ntz")


def _scalar_match_phrase(args, raw):
    """ES|QL ``MATCH_PHRASE(field, phrase)``: true iff the phrase's
    analyzed tokens occur CONSECUTIVELY, in order, in the field's analyzed
    tokens. Positions reduce to substring containment over the
    space-joined token streams (single-space join + sentinel padding makes
    token boundaries exact), so the whole predicate stays inside
    whole-stage codegen; Catalyst folds the literal side to a constant."""
    if len(args) != 2:
        raise ESQLError("MATCH_PHRASE takes (field, phrase)")
    from elasticsearch_hbase_river_spark.functions.analyzer import (
        analyze_tokens,
    )

    def padded(c: Column) -> Column:
        return F.concat(F.lit(" "), F.array_join(analyze_tokens(c), " "),
                        F.lit(" "))

    return padded(args[0]).contains(padded(args[1]))


def _scalar_mv_pseries(args, raw):
    """ES|QL ``MV_PSERIES_WEIGHTED_SUM(array, p)``: Σ value_i / i^p over
    1-based positions (the caller supplies descending-sorted values, as ES
    requires). Null input → null, empty → null; pure higher-order
    functions, no UDF."""
    if len(args) != 2:
        raise ESQLError("MV_PSERIES_WEIGHTED_SUM takes (array, p)")
    arr, p = args[0], args[1]
    weighted = F.zip_with(
        arr, F.sequence(F.lit(1), F.greatest(F.size(arr), F.lit(1))),
        lambda v, i: v.cast("double") / F.pow(i.cast("double"),
                                              p.cast("double")))
    return F.when(F.size(arr) > 0,
                  F.aggregate(weighted, F.lit(0.0), lambda a, x: a + x))


def _scalar_term(args, raw):
    """ES|QL ``TERM(field, "term")``: the exact term query — true iff
    the UNANALYZED query term occurs among the field's analyzed tokens
    (ES term queries probe the inverted index verbatim; only the field
    side was analyzed at index time)."""
    if len(args) != 2:
        raise ESQLError("TERM takes (field, term)")
    from elasticsearch_hbase_river_spark.functions.analyzer import (
        analyze_tokens,
    )
    return F.array_contains(analyze_tokens(args[0]), args[1])


_SCALARS["TERM"] = _scalar_term
_SCALARS["MATCH_PHRASE"] = _scalar_match_phrase
_SCALARS["MV_PSERIES_WEIGHTED_SUM"] = _scalar_mv_pseries
_SCALARS["HASH"] = _scalar_hash
_SCALARS["CIDR_MATCH"] = _scalar_cidr_match
_SCALARS["DATE_FORMAT"] = _scalar_date_format
_SCALARS["DATE_PARSE"] = _scalar_date_parse


def _fn_bucket(args, raw):
    """ES|QL ``BUCKET(field, span)``: numeric width → ``floor(x/w)*w``;
    1-unit time span (or unit string) → calendar truncation; N-unit
    UNIFORM spans (``15 minute``, ``6 hour``) → epoch-grid floor
    (``floor(epoch/w)*w`` in seconds, via the tz-free long↔timestamp_ntz
    casts so no session-timezone conversion sneaks in); N-unit CALENDAR
    spans (``3 month``, ``2 quarter``) → exact epoch-month grid floor,
    the same math as DATE_TRUNC's."""
    if len(raw) != 2:
        raise ESQLError("BUCKET takes (field, span)")
    span = raw[1]
    if span[0] == "lit" and isinstance(span[1], (int, float)):
        w = float(span[1])
        if w <= 0:
            raise ESQLError("BUCKET width must be positive")
        return F.floor(args[0] / F.lit(w)) * F.lit(w)
    if (span[0] == "span" and span[1] != 1):
        unit, n = span[2], span[1]
        if float(n) != int(n):
            raise ESQLError(
                f"time-span quantity must be an integer, got {n}")
        n = int(n)
        if n <= 0:
            raise ESQLError("BUCKET span count must be positive")
        if unit in _CAL_MONTH_UNITS:
            return _cal_grid_floor(args[0], n * _CAL_MONTH_UNITS[unit])
        if unit not in _SPAN_SECONDS:
            raise ESQLError(
                f"multi-unit BUCKET spans need a uniform or calendar "
                f"unit ({sorted(_SPAN_SECONDS)} / "
                f"{sorted(_CAL_MONTH_UNITS)}), got {n} {unit}")
        return _grid_floor(args[0], n * _SPAN_SECONDS[unit])
    return _fn_date_trunc([None, args[0]], [span, raw[0]])


_SCALARS["BUCKET"] = _fn_bucket

# Round-9 tranche: trig/math, hash aliases, encodings, width/cast helpers.
# All map 1:1 onto JVM-side built-ins (whole-stage codegen); the trig
# family's cross-engine contract is IEEE-double libm — last-ulp drift vs
# DuckDB exists, which is why registered queries round before hashing.
_SCALARS["SIN"] = lambda a, r: F.sin(a[0])
_SCALARS["COS"] = lambda a, r: F.cos(a[0])
_SCALARS["TAN"] = lambda a, r: F.tan(a[0])
_SCALARS["ASIN"] = lambda a, r: F.asin(a[0])
_SCALARS["ACOS"] = lambda a, r: F.acos(a[0])
_SCALARS["ATAN"] = lambda a, r: F.atan(a[0])
_SCALARS["ATAN2"] = lambda a, r: F.atan2(a[0], a[1])
_SCALARS["SINH"] = lambda a, r: F.sinh(a[0])
_SCALARS["COSH"] = lambda a, r: F.cosh(a[0])
_SCALARS["TANH"] = lambda a, r: F.tanh(a[0])
_SCALARS["CBRT"] = lambda a, r: F.cbrt(a[0])
_SCALARS["HYPOT"] = lambda a, r: F.hypot(a[0], a[1])
_SCALARS["PI"] = lambda a, r: F.lit(math.pi)
_SCALARS["TAU"] = lambda a, r: F.lit(math.tau)
_SCALARS["E"] = lambda a, r: F.lit(math.e)
_SCALARS["TO_DEGREES"] = lambda a, r: F.degrees(a[0])
_SCALARS["TO_RADIANS"] = lambda a, r: F.radians(a[0])
# MD5/SHA1/SHA256 are first-class ES|QL functions (HASH("alg", x) is the
# generic form, kept above)
_SCALARS["MD5"] = lambda a, r: F.md5(a[0].cast("binary"))
_SCALARS["SHA1"] = lambda a, r: F.sha1(a[0].cast("binary"))
_SCALARS["SHA256"] = lambda a, r: F.sha2(a[0].cast("binary"), 256)
_SCALARS["TO_BASE64"] = lambda a, r: F.base64(a[0].cast("binary"))
_SCALARS["FROM_BASE64"] = lambda a, r: F.unbase64(a[0]).cast("string")
_SCALARS["BIT_LENGTH"] = lambda a, r: F.bit_length(a[0]).cast("long")
_SCALARS["BYTE_LENGTH"] = lambda a, r: F.octet_length(a[0]).cast("long")
_SCALARS["SPACE"] = lambda a, r: F.repeat(F.lit(" "), a[0].cast("int"))
#: string "true"/"false" (any case) and numeric != 0; bad strings -> null
#: (try_cast: the ES|QL null-with-warning convention, never a hard error)
_SCALARS["TO_BOOLEAN"] = lambda a, r: a[0].try_cast("boolean")


def _scalar_categorize(args, raw):
    """ES|QL ``CATEGORIZE(message)`` — group semi-structured log lines by
    their stable text skeleton. ES's categorizer is an ML tokenizer; this
    engine pins a DETERMINISTIC, oracle-mirrorable rule (documented
    deviation in rendering, same grouping intent): the category is the
    message's alphabetic-token sequence — every run of [A-Za-z] letters in
    order, variable parts (numbers, ids, punctuation) masked out — joined
    with single spaces. Pure codegen'd split/filter/join, no UDF."""
    if len(args) != 1:
        raise ESQLError("CATEGORIZE takes one string argument")
    toks = F.split(args[0], "[^A-Za-z]+")
    return F.array_join(F.filter(toks, lambda t: t != ""), " ")


_SCALARS["CATEGORIZE"] = _scalar_categorize


def _scalar_round_to(args, raw):
    """ES|QL ``ROUND_TO(field, p1, p2, ...)``: round DOWN to the greatest
    literal point <= value; values below every point take the smallest
    point (explicit-boundary histogram binning). Points must be numeric
    literals — they compile to a chained comparison ladder, not a join."""
    if len(raw) < 2:
        raise ESQLError("ROUND_TO takes (field, point, [point, ...])")
    pts = []
    for a in raw[1:]:
        if a[0] == "neg" and a[1][0] == "lit":
            pts.append(-a[1][1])
        elif a[0] == "lit" and isinstance(a[1], (int, float)):
            pts.append(a[1])
        else:
            raise ESQLError("ROUND_TO points must be numeric literals")
    pts = sorted(pts)
    out = F.lit(pts[0])
    for p in pts[1:]:
        out = F.when(args[0] >= F.lit(p), F.lit(p)).otherwise(out)
    return F.when(args[0].isNotNull(), out)


_SCALARS["ROUND_TO"] = _scalar_round_to


def _agg_percentile(args, raw):
    if len(raw) != 2 or raw[1][0] != "lit":
        raise ESQLError("PERCENTILE takes (field, percent literal)")
    return F.percentile(args[0], F.lit(raw[1][1] / 100.0))


# Noise floor for the central second moment: raw power sums cancel
# catastrophically when |mean| >> spread, so a constant-valued group can
# produce a tiny NEGATIVE m2 (→ NaN under SQRT) or a tiny positive one
# whose float noise differs between Spark's and DuckDB's summation order
# (→ huge unstable skew/kurt that diverge across engines).  Summation
# error grows with group size (≤ n ulps of s2/n), so the floor is
# n·2⁻⁵⁰ relative to s2/n — a few bits above the worst case, still far
# below any spread double precision can actually resolve for that n.
# Any m2 at or below it is treated AS zero — variance 0, skew/kurt
# NULL — identically here, in the streaming finalize (esql_stream.py)
# and in the DuckDB twins.
M2_EPS_PER_N = 2.0 ** -50


def _m2_clamped(n, s1, s2):
    m = s1 / n
    raw = s2 / n - m * m
    return F.when(raw <= n * F.lit(M2_EPS_PER_N) * F.abs(s2 / n),
                  F.lit(0.0)).otherwise(raw)


def _agg_variance(args, raw):
    """Population variance s2/n − mean² from raw power sums — the same
    formula the oracle twin runs (var_pop's co-moment algorithm differs
    in low-order bits, which can flip a rounded digit at scale).
    Clamped to exactly 0 within M2_REL_EPS of cancellation."""
    x = args[0].cast("double")
    n = F.count(x).cast("double")
    return _m2_clamped(n, F.sum(x), F.sum(x * x))


def _agg_skewness(args, raw):
    """Population skewness m3 / m2^1.5 from raw power sums (one
    partial-aggregated pass; the same quantity ES's extended_stats
    derives — NOT Spark's skewness()/DuckDB's skewness(), which disagree
    with each other on sample-vs-population normalization)."""
    x = args[0].cast("double")
    n = F.count(x).cast("double")
    s1, s2, s3 = F.sum(x), F.sum(x * x), F.sum(x * x * x)
    m = s1 / n
    m2 = _m2_clamped(n, s1, s2)
    m3 = s3 / n - 3 * m * s2 / n + 2 * m * m * m
    return F.when(m2 > 0, m3 / F.pow(m2, 1.5))


def _agg_kurtosis(args, raw):
    """Population EXCESS kurtosis m4 / m2^2 − 3 from raw power sums."""
    x = args[0].cast("double")
    n = F.count(x).cast("double")
    s1, s2, s3, s4 = (F.sum(x), F.sum(x * x), F.sum(x * x * x),
                      F.sum(x * x * x * x))
    m = s1 / n
    m2 = _m2_clamped(n, s1, s2)
    m4 = (s4 / n - 4 * m * s3 / n + 6 * m * m * s2 / n
          - 3 * m * m * m * m)
    return F.when(m2 > 0, m4 / (m2 * m2) - 3)


def _agg_mad(args, raw):
    """MEDIAN_ABSOLUTE_DEVIATION aggregate: median(|x − median(x)|) with
    the engine's linear-interpolated percentile rule — computed over the
    group's collected values (group-sized collect, the same bound as
    VALUES/TOP/MEDIAN; ES computes it from a TDigest sketch, this engine
    pins the exact value).

    The sorted group array binds as a LAMBDA VARIABLE before the
    deviation pass: reusing the MV scalar directly would capture the
    computed ``array_sort(collect_list(..))`` inside the per-element
    lambda and re-sort the whole group per element — O(m² log m) per
    group, measured 108 s at sf0.1 vs 1.3 s with the binding (the same
    CollapseProject/capture class as TEXT_EMBEDDING)."""
    if len(raw) != 1:
        raise ESQLError("MEDIAN_ABSOLUTE_DEVIATION takes one field")
    arr = F.array_sort(F.collect_list(args[0]))

    def mad_over(a: Column) -> Column:
        n = F.size(a)
        med = _mv_percentile_of(a, n, F.lit(50.0))
        devs = F.array_sort(
            F.transform(a, lambda x: F.abs(x.cast("double") - med)))
        return _mv_percentile_of(devs, n, F.lit(50.0))

    return F.element_at(F.transform(F.array(arr), mad_over), 1)


def _agg_sample(args, raw):
    """ES|QL ``SAMPLE(field, limit)`` aggregate: ``limit`` sample values
    per group. ES draws randomly; this engine pins a DETERMINISTIC draw
    (the SAMPLE command precedent): values orderd by the md5 of their
    string rendering (ties by value), first ``limit`` — a stable,
    engine-mirrorable pseudo-random sample."""
    if (len(raw) != 2 or raw[1][0] != "lit"
            or not isinstance(raw[1][1], int) or raw[1][1] <= 0):
        raise ESQLError("SAMPLE takes (field, positive literal limit)")
    h = F.md5(args[0].cast("string"))
    arr = F.array_sort(F.collect_list(
        F.struct(h.alias("h"), args[0].alias("v"))))
    return F.transform(F.slice(arr, 1, raw[1][1]), lambda s: s["v"])


def _agg_top(args, raw):
    """ES|QL ``TOP(field, limit, "asc"|"desc")``: multivalue of the top
    ``limit`` values per group. Like ``VALUES``, the collect is
    group-sized before the slice — at pathological group cardinalities
    pre-reduce with a windowed row_number instead (ES bounds the same
    way: per-shard heaps)."""
    if (len(raw) != 3 or raw[1][0] != "lit"
            or not isinstance(raw[1][1], int) or raw[2][0] != "lit"
            or raw[2][1] not in ("asc", "desc")):
        raise ESQLError('TOP takes (field, literal limit, "asc"|"desc")')
    if raw[1][1] <= 0:
        raise ESQLError("TOP limit must be positive")
    arr = F.array_sort(F.collect_list(args[0]))
    if raw[2][1] == "desc":
        arr = F.reverse(arr)
    return F.slice(arr, 1, raw[1][1])


def _ts_dec6(x: Column) -> Column:
    """Quantize a TS sample to the 1e-6 grid (portable floor rounding,
    identical in every engine) and lift it into exact decimal — the input
    normalization of the engine's order-free TS averages."""
    return roundn_col(x.cast("double"), 6).cast("decimal(27,6)")


def _ts_pinned_avg(x: Column) -> Column:
    """Order-free TS combine-average: quantize each per-series value to
    the 1e-9 grid, sum EXACTLY in decimal (associative — immune to
    partial-aggregation merge order), divide once in doubles. The result
    is bit-reproducible across engines, partitionings, and epoch merges —
    the property a continuously-maintained hypertable rollup needs (a
    plain double AVG re-associates per run and can flip a rounded output
    on an exact half-grain boundary; observed on q_esql_ts_gauge)."""
    dec = roundn_col(x.cast("double"), 9).cast("decimal(27,9)")
    return F.sum(dec).cast("double") / F.count(x)


_AGGS: dict[str, Callable[[list[Column], list], Column]] = {
    "COUNT": lambda a, r: (F.count(F.lit(1)) if not a or r[0][0] == "star"
                           else F.count(a[0])).cast("long"),
    "COUNT_DISTINCT": lambda a, r: F.count_distinct(a[0]).cast("long"),
    "SUM": lambda a, r: F.sum(a[0]),
    "AVG": lambda a, r: F.avg(a[0]),
    "MIN": lambda a, r: F.min(a[0]),
    "MAX": lambda a, r: F.max(a[0]),
    "MEDIAN": lambda a, r: F.median(a[0]),
    "PERCENTILE": _agg_percentile,
    "WEIGHTED_AVG": lambda a, r: F.sum(a[0] * a[1]) / F.sum(a[1]),
    "VALUES": lambda a, r: F.array_sort(F.collect_set(a[0])),
    # population std-dev: the moment ES's std_deviation reports
    "STD_DEV": lambda a, r: F.stddev_pop(a[0]),
    # population variance / skewness / excess kurtosis from raw moments:
    # Spark's skewness()/kurtosis() are population-based but DuckDB's are
    # SAMPLE-based — the explicit moment formulas make both engines
    # compute the identical quantity (registered twins mirror them)
    "VARIANCE": _agg_variance,
    "SKEWNESS": _agg_skewness,
    "KURTOSIS": _agg_kurtosis,
    "TOP": _agg_top,
    "MEDIAN_ABSOLUTE_DEVIATION": _agg_mad,
    "SAMPLE": _agg_sample,
    # spatial aggregates over geo_point columns. The centroid uses the
    # same order-free exact-decimal average as TS STATS (_ts_pinned_avg)
    # so it is bit-reproducible whatever order partials merge in; the
    # extent is min/max, exact by nature.
    "ST_CENTROID_AGG": lambda a, r: F.struct(
        _ts_pinned_avg(a[0]["lon"]).alias("lon"),
        _ts_pinned_avg(a[0]["lat"]).alias("lat")),
    "ST_EXTENT_AGG": lambda a, r: F.struct(
        F.min(a[0]["lon"]).alias("xmin"), F.max(a[0]["lon"]).alias("xmax"),
        F.min(a[0]["lat"]).alias("ymin"), F.max(a[0]["lat"]).alias("ymax")),
}

# GROK pattern name → (regex, default cast). Inner groups non-capturing so
# compiled group indexes line up with the capture keys.
_GROK_PATTERNS = {
    "WORD": r"\w+",
    "NOTSPACE": r"\S+",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "INT": r"[+-]?\d+",
    "NUMBER": r"[+-]?\d+(?:\.\d+)?",
    "IP": r"(?:\d{1,3}\.){3}\d{1,3}",
    "USERNAME": r"[a-zA-Z0-9._-]+",
    "LOGLEVEL": (r"(?:[Aa]lert|ALERT|[Tt]race|TRACE|[Dd]ebug|DEBUG|"
                 r"[Nn]otice|NOTICE|[Ii]nfo|INFO|[Ww]arn(?:ing)?|"
                 r"WARN(?:ING)?|[Ee]rr(?:or)?|ERR(?:OR)?|[Cc]rit(?:ical)?|"
                 r"CRIT(?:ICAL)?|[Ff]atal|FATAL|[Ss]evere|SEVERE)"),
    "TIMESTAMP_ISO8601": (r"\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}"
                          r"(?::\d{2}(?:\.\d+)?)?(?:Z|[+-]\d{2}:?\d{2})?"),
}

_GROK_REF = re.compile(r"%\{(\w+)(?::(\w+))?(?::(\w+))?\}")
_DISSECT_REF = re.compile(r"%\{([+?]?)(\w*)(->)?\}")
_GROK_CASTS = {"int": "long", "long": "long", "float": "double",
               "double": "double"}


def _compile_dissect(pattern: str) -> tuple[str, list[tuple[str, str]]]:
    """Dissect pattern → (anchored Java regex, [(key, cast)]).

    ``%{+key}`` is the ES dissect APPEND modifier: a repeated key whose
    captures are joined (in pattern order) with the command's
    APPEND_SEPARATOR — the key simply appears more than once in the
    returned capture list and the apply site concatenates its groups.
    ``%{?name}`` is a NAMED SKIP (documented, never captured); ``->``
    after any key is the RIGHT-PADDING modifier: the delimiter that
    follows may repeat, so ragged column alignment still dissects."""
    regex, keys, last = ["^"], [], 0
    matches = list(_DISSECT_REF.finditer(pattern))
    if not matches:
        raise ESQLError("DISSECT pattern has no %{key} captures")
    pad_prev = False
    for idx, m in enumerate(matches):
        lit = pattern[last:m.start()]
        if pad_prev and lit:
            regex.append("(?:" + re.escape(lit) + ")+")
        else:
            regex.append(re.escape(lit))
        pad_prev = bool(m.group(3))
        greedy = idx == len(matches) - 1
        mod, name = m.group(1), m.group(2)
        if mod == "?":
            if not name:
                raise ESQLError("dissect %{?} named skip needs a name")
            regex.append(".*" if greedy else ".*?")
        elif name:
            # a padded key must stay LAZY even in last position, or the
            # greedy capture would swallow all but one delimiter repeat
            regex.append("(.*)" if greedy and not pad_prev else "(.*?)")
            keys.append((name, "string", mod == "+"))
        elif mod == "+":
            raise ESQLError("dissect %{+} append modifier needs a key name")
        else:
            regex.append(".*" if greedy else ".*?")
        last = m.end()
    tail = pattern[last:]
    if pad_prev and tail:
        regex.append("(?:" + re.escape(tail) + ")+$")
    else:
        regex.append(re.escape(tail) + "$")
    seen = set()
    for key, _, append in keys:
        if key in seen and not append:
            raise ESQLError(f"dissect key {key!r} appears more than once "
                            "— repeat it as %{+" + key + "} to append")
        seen.add(key)
    return "".join(regex), keys


#: oniguruma-style inline named capture ``(?<name>body)`` — GROK's other
#: capture syntax. Subset: the body may not itself contain parentheses
#: (nested groups would desynchronize capture-group indexes from keys).
_GROK_INLINE = re.compile(r"\(\?<(\w+)>([^()]*)\)")


def _compile_grok(pattern: str) -> tuple[str, list[tuple[str, str]]]:
    regex, keys, last = ["^"], [], 0
    matches = sorted(
        list(_GROK_REF.finditer(pattern))
        + list(_GROK_INLINE.finditer(pattern)),
        key=lambda m: m.start())
    if not matches:
        raise ESQLError("GROK pattern has no %{PATTERN:name} or "
                        "(?<name>..) captures")
    for m in matches:
        if m.start() < last:
            raise ESQLError("GROK %{..} reference inside an inline "
                            "(?<name>..) body is outside the subset")
        regex.append(re.escape(pattern[last:m.start()]))
        if m.re is _GROK_INLINE:
            key, body = m.group(1), m.group(2)
            regex.append(f"({body})")
            keys.append((key, "string", False))
            last = m.end()
            continue
        pname, key, typ = m.group(1), m.group(2), m.group(3)
        if pname not in _GROK_PATTERNS:
            raise ESQLError(f"unsupported GROK pattern %{{{pname}}} — "
                            f"supported: {sorted(_GROK_PATTERNS)}")
        body = _GROK_PATTERNS[pname]
        if key:
            cast = "string"
            if typ:
                if typ not in _GROK_CASTS:
                    raise ESQLError(f"unsupported GROK cast {typ!r}")
                cast = _GROK_CASTS[typ]
            regex.append(f"({body})")
            keys.append((key, cast, False))
        else:
            regex.append(f"(?:{body})")
        last = m.end()
    regex.append(re.escape(pattern[last:]) + "$")
    return "".join(regex), keys


#: Abramowitz & Stegun 7.1.26 erf coefficients (|ε| < 1.5e-7 — far below
#: the engine's 1e-6 rounding grain). Spelled identically in the compiler
#: and the DuckDB oracle twins.
_ERF_P = 0.3275911
_ERF_A = (0.254829592, -0.284496736, 1.421413741,
          -1.453152027, 1.061405429)


def _erf(x: Column) -> Column:
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_ERF_P) * x)
    # Horner, explicit order so both engines evaluate identically
    poly = ((((F.lit(_ERF_A[4]) * t + F.lit(_ERF_A[3])) * t
              + F.lit(_ERF_A[2])) * t + F.lit(_ERF_A[1])) * t
            + F.lit(_ERF_A[0])) * t
    return F.lit(1.0) - poly * F.exp(-x * x)


def erf_sql(x: str) -> str:
    """The same A&S erf polynomial as SQL text (for oracle twins)."""
    t = f"(1.0 / (1.0 + {_ERF_P} * ({x})))"
    a0, a1, a2, a3, a4 = _ERF_A
    poly = (f"(((({a4} * {t} + {a3}) * {t} + {a2}) * {t} + {a1}) * {t} "
            f"+ {a0}) * {t}")
    return f"(1.0 - {poly} * exp(-({x}) * ({x})))"


@dataclass
class EnrichPolicy:
    """An ES enrich policy: match ``match_field`` in ``table``, expose
    ``fields`` (the policy's enrich_fields). ``match_type`` mirrors the
    policy types ES supports: ``match`` (equality) or ``range`` — for
    ``range`` the policy table carries half-open ``[lo, hi)`` bounds in
    ``match_field + '_lo'`` / ``'_hi'`` columns (the DataFrame analog of
    an ES range-typed enrich field; ES range types are configurable on
    inclusivity, this engine pins half-open and documents it)."""
    table: str
    match_field: str
    fields: tuple[str, ...]
    match_type: str = "match"


#: Synthetic policy dimension tables (tiny, literal, broadcast by
#: construction) — resolvable by name like fixture tables so range
#: policies need no external fixture.
PRICE_TIER_ROWS = (
    (0.0, 50_000.0, "small"),
    (50_000.0, 150_000.0, "medium"),
    (150_000.0, 300_000.0, "large"),
    (300_000.0, float("inf"), "jumbo"),
)


def _price_tiers_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        list(PRICE_TIER_ROWS), "price_lo double, price_hi double, "
        "tier string")


_SYNTH_TABLES: dict[str, Callable[[SparkSession], DataFrame]] = {
    "__price_tiers": _price_tiers_df,
}

@dataclass
class TimeSeriesSpec:
    """What makes a table a time-series index: the timestamp column and
    the dimension columns whose combination identifies a series — the
    DataFrame analog of ES TSDB's ``@timestamp`` + ``time_series_dimension``
    mappings, which the ``TS`` command reads from the index."""
    ts: str
    dimensions: tuple[str, ...]


#: TS-queryable fixture tables (the mapping the TS command consults).
DEFAULT_TS_SPECS: dict[str, TimeSeriesSpec] = {
    "events": TimeSeriesSpec("ts", ("user_id", "event_type")),
}

#: per-series inner aggregates valid only inside STATS over a TS source
_TS_AGG_NAMES = frozenset({
    "RATE", "INCREASE", "IRATE", "DELTA",
    "AVG_OVER_TIME", "MAX_OVER_TIME", "MIN_OVER_TIME",
    "SUM_OVER_TIME", "COUNT_OVER_TIME", "FIRST_OVER_TIME",
    "LAST_OVER_TIME"})

#: uniform span widths RATE can normalize by (calendar months/years are
#: non-uniform and refused)
_SPAN_SECONDS = {"second": 1, "minute": 60, "hour": 3600, "day": 86400,
                 "week": 604800}

#: Policies resolvable by ``ENRICH`` out of the box (fixture dimensions).
DEFAULT_POLICIES: dict[str, EnrichPolicy] = {
    "nations": EnrichPolicy("nation", "n_nationkey",
                            ("n_name", "n_regionkey")),
    "regions": EnrichPolicy("region", "r_regionkey", ("r_name",)),
    "parts": EnrichPolicy("part", "p_partkey", ("p_name", "p_type")),
    "price_tiers": EnrichPolicy("__price_tiers", "price", ("tier",),
                                match_type="range"),
}


class _Compiler:
    def __init__(self, spark: SparkSession, sf_dir: Optional[str],
                 tables: Optional[dict[str, DataFrame]],
                 policies: dict[str, EnrichPolicy], text: str,
                 ts_specs: Optional[dict[str, TimeSeriesSpec]] = None,
                 now: Optional[datetime] = None):
        self.spark = spark
        self.sf_dir = sf_dir
        self.tables = tables or {}
        self.policies = policies
        self.text = text
        self.ts_specs = (ts_specs if ts_specs is not None
                         else DEFAULT_TS_SPECS)
        self.ts_spec: Optional[TimeSeriesSpec] = None
        self._ts_outer_pin = False
        self._cur_dtypes: dict[str, str] = {}
        # naive UTC: the fixture timestamp columns are NTZ
        self.now = now or datetime.now(timezone.utc).replace(tzinfo=None)

    def load(self, name: str, pos: int) -> DataFrame:
        if name in self.tables:
            return self.tables[name]
        if name in _SYNTH_TABLES:
            return _SYNTH_TABLES[name](self.spark)
        if self.sf_dir is not None and name in TABLES:
            return load_table(self.spark, self.sf_dir, name)
        raise ESQLError(f"unknown table {name!r}", pos, self.text)

    # -- expression compilation ---------------------------------------------
    def col(self, ast, columns: list[str], allow_agg: bool = False,
            agg_filter: Optional[Column] = None) -> Column:
        kind = ast[0]
        if kind == "lit":
            return F.lit(ast[1])
        if kind == "field":
            if ast[1] not in columns:
                raise ESQLError(f"unknown column {ast[1]!r} "
                                f"(have: {sorted(columns)})")
            return F.col(ast[1])
        if kind == "arr":
            return F.array(*[self.col(x, columns, allow_agg, agg_filter)
                             for x in ast[1]])
        if kind == "span":
            raise ESQLError("time-span literal is only valid inside "
                            "DATE_TRUNC or added to/subtracted from a "
                            "datetime")
        if kind == "star":
            raise ESQLError("* is only valid inside COUNT()")
        if kind == "neg":
            return -self.col(ast[1], columns, allow_agg, agg_filter)
        if kind == "not":
            return ~self.col(ast[1], columns, allow_agg, agg_filter)
        if kind == "isnull":
            c = self.col(ast[1], columns, allow_agg, agg_filter)
            return c.isNotNull() if ast[2] else c.isNull()
        if kind == "in":
            c = self.col(ast[1], columns, allow_agg, agg_filter)
            items = [self.col(x, columns, allow_agg, agg_filter)
                     for x in ast[2]]
            return c.isin(*items)
        if kind == "like":
            return self.col(ast[1], columns, allow_agg, agg_filter).like(
                _like_to_sql(ast[2]))
        if kind == "rlike":
            # ES|QL RLIKE matches the WHOLE string; the non-capturing
            # group keeps a top-level alternation ("a|b") inside the
            # anchors instead of letting it escape them
            return self.col(ast[1], columns, allow_agg, agg_filter).rlike(
                "^(?:" + ast[2] + ")$")
        if kind == "bin":
            op, l_ast, r_ast = ast[1], ast[2], ast[3]
            # ES|QL datetime arithmetic: `ts + 3 hours`, `NOW() - 90 day`.
            # Spans compile to timestamp_add on the engine's calendar
            # (months/years are calendar units there, uniform units exact).
            if op in ("+", "-") and ("span" in (l_ast[0], r_ast[0])):
                if l_ast[0] == "span" and op == "+":
                    l_ast, r_ast = r_ast, l_ast  # span + ts commutes
                if l_ast[0] == "span":
                    raise ESQLError("a time span may only be added to or "
                                    "subtracted from a datetime")
                n, unit = r_ast[1], r_ast[2]
                # ES|QL time spans are integer-quantified; a fractional
                # quantity must be rejected, not silently truncated
                # (1.5 hour would otherwise cast to 1 hour).
                if float(n) != int(n):
                    raise ESQLError(
                        f"time-span quantity must be an integer, got {n}")
                n = int(n)
                base = self.col(l_ast, columns, allow_agg, agg_filter)
                qty = F.lit(n if op == "+" else -n).cast("int")
                return F.timestamp_add(unit.upper(), qty, base)
            l = self.col(l_ast, columns, allow_agg, agg_filter)
            r = self.col(r_ast, columns, allow_agg, agg_filter)
            return {
                "and": lambda: l & r, "or": lambda: l | r,
                "==": lambda: l == r, "!=": lambda: l != r,
                "<": lambda: l < r, "<=": lambda: l <= r,
                ">": lambda: l > r, ">=": lambda: l >= r,
                "+": lambda: l + r, "-": lambda: l - r,
                "*": lambda: l * r, "/": lambda: l / r,
                "%": lambda: l % r,
            }[op]()
        if kind == "call":
            name, raw_args, pos = ast[1], ast[2], ast[3]
            if name == "NOW":
                # ES semantics: NOW() is the query start instant, constant
                # for the whole query — captured once at compile time
                # (injectable for reproducible pipelines/tests).
                if raw_args:
                    raise ESQLError("NOW takes no arguments", pos, self.text)
                return F.lit(self.now)
            if name == "QSTR":
                return self._compile_qstr(raw_args, columns, pos)
            if name == "KQL":
                return self._compile_kql(raw_args, columns, pos)
            if name == "KNN":
                raise ESQLError("KNN is only valid as the entire WHERE "
                                "predicate", pos, self.text)
            if name in ("TEXT_EMBEDDING", "CHUNK_TEXT"):
                raise ESQLError(
                    f"{name} is only valid as the top-level expression of "
                    "an EVAL (its inputs are staged to avoid per-element "
                    "recomputation)", pos, self.text)
            if name in _TS_AGG_NAMES:
                raise ESQLError(
                    f"{name} is only valid inside STATS over a TS source",
                    pos, self.text)
            if name in _AGGS:
                if not allow_agg:
                    raise ESQLError(
                        f"aggregate {name} is only valid inside STATS",
                        pos, self.text)
                args = [self.col(a, columns, False) for a in raw_args
                        if a[0] != "star"]
                if name == "AVG" and self._ts_outer_pin:
                    # TS outer combine: order-free exact-decimal average
                    return _ts_pinned_avg(args[0])
                if agg_filter is not None:
                    # per-agg WHERE: null out non-matching rows so every
                    # builtin aggregate (which skips nulls) sees only the
                    # filtered subset; COUNT(*) counts a filtered constant
                    if not args:
                        return (F.count(F.when(agg_filter, F.lit(1)))
                                .cast("long"))
                    args = [F.when(agg_filter, a) for a in args]
                return _AGGS[name](args, raw_args)
            if name in _SCALARS:
                # span args are consumed raw by the builder (DATE_TRUNC),
                # and literal TO_GEOSHAPE args raw by the ST_* relations;
                # keep positions aligned with raw_args via placeholders
                args = [None if a[0] == "span"
                        or (a[0] == "call" and a[1] == "TO_GEOSHAPE")
                        else self.col(a, columns, allow_agg, agg_filter)
                        for a in raw_args]
                try:
                    return _SCALARS[name](args, raw_args)
                except ESQLError:
                    raise
                except IndexError:
                    raise ESQLError(f"wrong number of arguments to {name}",
                                    pos, self.text)
            raise ESQLError(f"unknown function {name}", pos, self.text)
        raise ESQLError(f"unhandled expression node {kind}")

    def _compile_kql(self, raw_args: list, columns: list[str],
                     pos: int) -> Column:
        """``KQL("query")`` — the Kibana Query Language as a row-level
        predicate. Subset (anything else raises with position):
        ``field:value`` (term match on the analyzed tokens for string
        values, equality for numeric), ``field:value*`` (token prefix),
        ``field > n`` / ``>= < <=`` numeric ranges, ``AND OR NOT`` with
        parentheses (KQL precedence: NOT > AND > OR). Quoted values
        match as a PHRASE (consecutive analyzed tokens, the KQL rule)."""
        if (len(raw_args) != 1 or raw_args[0][0] != "lit"
                or not isinstance(raw_args[0][1], str)):
            raise ESQLError("KQL takes one string literal", pos, self.text)
        from elasticsearch_hbase_river_spark.functions.analyzer import (
            analyze_tokens,
        )
        text = raw_args[0][1]
        toks = re.findall(
            r'\(|\)|>=|<=|>|<|:|"[^"]*"|[^\s():<>]+', text)
        i = 0

        def err(msg: str):
            raise ESQLError(f"KQL: {msg} in {text!r}", pos, self.text)

        def need_field(name: str) -> str:
            if name not in columns:
                err(f"unknown column {name!r}")
            return name

        def term_pred(fld: str, value: str) -> Column:
            col_toks = analyze_tokens(F.col(fld))
            if value.startswith('"') and value.endswith('"'):
                phrase = value[1:-1]
                words = [w for w in re.split("[^a-z0-9]+", phrase.lower())
                         if w]
                if not words:
                    err("empty quoted phrase")
                pad = F.concat(F.lit(" "), F.array_join(col_toks, " "),
                               F.lit(" "))
                return pad.contains(" " + " ".join(words) + " ")
            # dispatch on the bound column's dtype (the Kibana rule:
            # the field MAPPING decides, not the value's shape) —
            # text_field:404 is an analyzed term match on token "404",
            # numeric_field:404 is numeric equality
            dt = getattr(self, "_cur_dtypes", {}).get(fld, "")
            if dt in ("tinyint", "smallint", "int", "bigint"):
                # integral columns compare in the column's OWN type:
                # going through float would do the comparison in double,
                # where values above 2^53 (id:9007199254740993) silently
                # match neighboring integers
                try:
                    num_i = int(value)
                except ValueError:
                    err(f"integer field {fld!r} needs an integer "
                        f"value, got {value!r}")
                return F.col(fld) == F.lit(num_i).cast(dt)
            if dt in ("float", "double") or dt.startswith("decimal"):
                try:
                    num = float(value)
                except ValueError:
                    err(f"numeric field {fld!r} needs a numeric "
                        f"value, got {value!r}")
                return F.col(fld) == F.lit(num)
            vtoks = [w for w in
                     re.split("[^a-z0-9]+", value.rstrip("*").lower())
                     if w]
            if len(vtoks) != 1:
                err(f"value {value!r} must analyze to one token")
            if value.endswith("*"):
                t_ = vtoks[0]
                return F.exists(col_toks, lambda x: x.startswith(t_))
            return F.array_contains(col_toks, vtoks[0])

        def parse_primary() -> Column:
            nonlocal i
            if i >= len(toks):
                err("unexpected end of query")
            if toks[i] == "(":
                i += 1
                e = parse_or()
                if i >= len(toks) or toks[i] != ")":
                    err("missing )")
                i += 1
                return e
            if toks[i].upper() == "NOT":
                i += 1
                return ~parse_primary()
            fld = need_field(toks[i])
            i += 1
            if i >= len(toks):
                err(f"field {fld!r} needs an operator")
            op = toks[i]
            i += 1
            if op == ":":
                if i >= len(toks):
                    err("missing value after :")
                val = toks[i]
                i += 1
                return term_pred(fld, val)
            if op in (">", ">=", "<", "<="):
                if i >= len(toks):
                    err("missing value after range operator")
                c = F.col(fld)
                dt = getattr(self, "_cur_dtypes", {}).get(fld, "")
                if dt.startswith("timestamp") or dt == "date":
                    # KQL date ranges: ts >= "2024-01-01" (quoted or
                    # bare ISO date/datetime), parsed against the
                    # column's own temporal type
                    raw_v = toks[i].strip('"')
                    # only forms Spark's string->timestamp cast parses:
                    # dashed date, optional [T ]HH:MM[:SS[.frac]].
                    # fromisoformat alone is too permissive ('20240101'
                    # passes it but casts to NULL — a silently-empty
                    # predicate instead of the intended error)
                    if not re.fullmatch(
                            r"\d{4}-\d{2}-\d{2}"
                            r"([ T]\d{2}:\d{2}(:\d{2}(\.\d{1,6})?)?)?",
                            raw_v):
                        err(f"date range on {fld!r} needs an ISO "
                            f"date/datetime, got {toks[i]!r}")
                    try:
                        datetime.fromisoformat(raw_v.replace(" ", "T"))
                    except ValueError:
                        err(f"date range on {fld!r} needs an ISO "
                            f"date/datetime, got {toks[i]!r}")
                    i += 1
                    if dt == "date" and len(raw_v) > 10:
                        # datetime literal against a DATE column: casting
                        # the literal to date would drop the time part
                        # (d > "2024-01-01 10:00" → d > "2024-01-01",
                        # matching rows it should exclude); promote the
                        # COLUMN to timestamp (midnight) instead and
                        # compare against the full literal
                        c_ts = c.cast("timestamp")
                        val = F.lit(raw_v).cast("timestamp")
                        return {">": c_ts > val, ">=": c_ts >= val,
                                "<": c_ts < val, "<=": c_ts <= val}[op]
                    val = F.lit(raw_v).cast(dt)
                    return {">": c > val, ">=": c >= val,
                            "<": c < val, "<=": c <= val}[op]
                try:
                    num = float(toks[i])
                except ValueError:
                    err(f"range needs a numeric value, got {toks[i]!r}")
                i += 1
                return {">": c > num, ">=": c >= num,
                        "<": c < num, "<=": c <= num}[op]
            err(f"unsupported operator {op!r}")

        def parse_and() -> Column:
            nonlocal i
            e = parse_primary()
            while i < len(toks) and toks[i].upper() == "AND":
                i += 1
                e = e & parse_primary()
            return e

        def parse_or() -> Column:
            nonlocal i
            e = parse_and()
            while i < len(toks) and toks[i].upper() == "OR":
                i += 1
                e = e | parse_and()
            return e

        out = parse_or()
        if i != len(toks):
            err(f"unexpected trailing {toks[i]!r}")
        return out

    def _compile_qstr(self, raw_args: list, columns: list[str],
                      pos: int) -> Column:
        """``QSTR("query string")`` — Lucene query-string syntax as a
        row-level predicate. Subset (documented; everything else raises):
        whitespace-separated clauses ``[+|-]field:value`` where ``field``
        must name a column and ``value`` is one of

        - a term (one analyzed token, optional trailing ``*`` wildcard),
        - ``"a quoted phrase"`` — consecutive analyzed tokens, the
          Lucene phrase query (compiled to the padded-token-string
          adjacency test the KQL/MATCH phrase paths use),
        - ``(t1 OR t2 ...)`` — a parenthesized OR group of terms, each
          with the optional trailing ``*``.

        ``+`` clauses must all match, ``-`` clauses must none match;
        bare clauses are Lucene *should* — at least one must match only
        when no ``+`` clause exists (with ``+`` present they are
        boost-only, and QSTR as a predicate carries no score). Both
        sides run the standard analyzer, so ``field:Spark,`` matches
        the token ``spark``."""
        from elasticsearch_hbase_river_spark.functions.analyzer import (
            analyze_tokens,
        )
        if (len(raw_args) != 1 or raw_args[0][0] != "lit"
                or not isinstance(raw_args[0][1], str)):
            raise ESQLError("QSTR takes one string literal", pos, self.text)
        qtext = raw_args[0][1]

        def err(msg: str):
            raise ESQLError(f"QSTR: {msg} in {qtext!r}", pos, self.text)

        def one_token(term: str) -> tuple[str, bool]:
            toks = [x for x in re.split("[^a-z0-9]+",
                                        term.rstrip("*").lower().strip())
                    if x]
            if len(toks) != 1:
                err(f"term {term!r} must analyze to one token")
            return toks[0], term.endswith("*")

        # value = quoted phrase | parenthesized group | bare term
        clause_pat = re.compile(
            r'\s*([+-]?)([A-Za-z_][A-Za-z0-9_.]*):'
            r'("[^"]*"|\([^()]*\)|\S+)')
        must, must_not, should = [], [], []
        at = 0
        while at < len(qtext) and qtext[at:].strip():
            m = clause_pat.match(qtext, at)
            if not m:
                err(f"unsupported clause at {qtext[at:].strip()!r} — the "
                    "subset is [+|-]field:term / field:\"phrase\" / "
                    "field:(a OR b), optional trailing *")
            at = m.end()
            sign, fld, value = m.groups()
            if fld not in columns:
                err(f"unknown column {fld!r}")
            if value.startswith('"'):
                words = [x for x in re.split("[^a-z0-9]+",
                                             value[1:-1].lower()) if x]
                if not words:
                    err("empty quoted phrase")
                spec = ("phrase", words)
            elif value.startswith("("):
                parts = re.split(r"\s+OR\s+", value[1:-1].strip(),
                                 flags=re.IGNORECASE)
                if len(parts) < 2 or any(not p.strip() for p in parts):
                    err(f"group {value!r} must be (term OR term ...)")
                spec = ("or", [one_token(p.strip()) for p in parts])
            else:
                spec = ("term", one_token(value))
            {"+": must, "-": must_not, "": should}[sign].append((fld, spec))

        def term_hit(fld: str, term: str, prefix: bool) -> Column:
            toks = analyze_tokens(F.col(fld))
            if prefix:
                return F.exists(toks, lambda x: x.startswith(term))
            return F.array_contains(toks, term)

        def hit(fld: str, spec) -> Column:
            kind, payload = spec
            if kind == "term":
                return term_hit(fld, *payload)
            if kind == "or":
                out = F.lit(False)
                for tm, px in payload:
                    out = out | term_hit(fld, tm, px)
                return out
            # phrase: consecutive analyzed tokens via the padded join —
            # the same adjacency test the KQL phrase / MATCH_PHRASE
            # paths run
            pad = F.concat(F.lit(" "),
                           F.array_join(analyze_tokens(F.col(fld)), " "),
                           F.lit(" "))
            return pad.contains(" " + " ".join(payload) + " ")

        pred = F.lit(True)
        for f_, spec in must:
            pred = pred & hit(f_, spec)
        for f_, spec in must_not:
            pred = pred & ~hit(f_, spec)
        if should and not must:
            any_ = F.lit(False)
            for f_, spec in should:
                any_ = any_ | hit(f_, spec)
            pred = pred & any_
        return pred

    def _apply_text_embedding(self, df: DataFrame, name: str, call,
                              pos: int) -> DataFrame:
        """``EVAL emb = TEXT_EMBEDDING(field, dims)`` — a DETERMINISTIC
        hashed bag-of-words embedding (documented stand-in for ES's
        inference endpoint, the RERANK/CATEGORIZE precedent): each
        analyzed token hashes to a bucket (first 4 md5 hex digits mod
        dims) with a ±1 sign from the next hash bit, and emb[d] is the
        signed token count — the classic feature-hashing construction,
        so cosine over it is a real lexical similarity.

        Staging note: the token (bucket, sign) pairs are materialized as
        an ATTRIBUTE before the per-dimension fold — a lambda that
        captured the computed md5 chain would re-evaluate it per
        dimension (the SPARK-36715 class this repo has measured at 20×);
        with the attribute staged, md5 runs once per token."""
        from elasticsearch_hbase_river_spark.functions.analyzer import (
            analyze_tokens,
        )
        args = call[2]
        if (len(args) != 2 or args[1][0] != "lit"
                or not isinstance(args[1][1], int)):
            raise ESQLError("TEXT_EMBEDDING takes (field, literal dims)",
                            pos, self.text)
        dims = args[1][1]
        if not 1 <= dims <= 256:
            raise ESQLError("TEXT_EMBEDDING dims must be in 1..256 "
                            "(the per-row fold costs O(dims x tokens))",
                            pos, self.text)
        field = self.col(args[0], df.columns)

        # Each token renders ONCE (interpreted transform, O(tokens)) as a
        # fixed-width 5-char unit "NNNN;" where NNNN = bucket*2 + signbit
        # zero-padded; the per-dimension counts then come from codegen'd
        # replace-length arithmetic over the joined code string — every
        # occurrence of a 5-char pattern is alignment-guaranteed (';'
        # only at positions ≡ 4 mod 5). This replaces a per-dimension
        # interpreted fold (O(dims x tokens) lambda steps — measured
        # 54 s at sf1 for dims=8) with 2·dims whole-stage-codegen string
        # passes (measured 6.5 s, same oracle).
        def unit(t: Column) -> Column:
            h = F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("long")
            negbit = F.when(
                F.floor(h / F.lit(float(dims))).cast("long") % 2 == 0,
                F.lit(0)).otherwise(F.lit(1))
            return F.concat(
                F.lpad(((h % dims) * 2 + negbit).cast("string"), 4, "0"),
                F.lit(";"))

        codestr = F.array_join(F.transform(analyze_tokens(field), unit), "")

        def counts(s: Column) -> Column:
            # `s` is a LAMBDA VARIABLE, so the (expensive) code string is
            # evaluated once per row — a plain staged column gets
            # re-inlined by CollapseProject into every one of the 2·dims
            # count expressions (measured 26 s vs 6 s at sf1, dims=8)
            def cnt(pat: str) -> Column:
                return ((F.length(s)
                         - F.length(F.replace(s, F.lit(pat),
                                              F.lit("")))) / 5)

            return F.array(*[
                (cnt(f"{2 * d:04d};") - cnt(f"{2 * d + 1:04d};"))
                .cast("double") for d in range(dims)])

        emb = F.element_at(F.transform(F.array(codestr), counts), 1)
        return df.withColumn(name, emb)

    def _apply_chunk_text(self, df: DataFrame, name: str, call,
                          pos: int) -> DataFrame:
        """``EVAL chunks = CHUNK_TEXT(field, size, overlap)`` — the RAG
        chunker: whitespace words in windows of ``size`` words advancing
        by ``size - overlap``, each chunk re-joined with single spaces,
        as a multivalue column (MV_EXPAND yields one row per chunk).
        The word array is staged as an attribute first (same
        SPARK-36715 staging as TEXT_EMBEDDING), so the text splits once
        per row, not once per chunk."""
        args = call[2]
        if (len(args) != 3
                or args[1][0] != "lit" or not isinstance(args[1][1], int)
                or args[2][0] != "lit" or not isinstance(args[2][1], int)):
            raise ESQLError(
                "CHUNK_TEXT takes (field, literal size, literal overlap)",
                pos, self.text)
        size, overlap = args[1][1], args[2][1]
        if size <= 0 or overlap < 0 or overlap >= size:
            raise ESQLError("CHUNK_TEXT needs size > 0 and "
                            "0 <= overlap < size", pos, self.text)
        stride = size - overlap
        field = self.col(args[0], df.columns)
        tmp = "__ct_words"
        while tmp in df.columns:
            tmp += "_"
        staged = df.withColumn(
            tmp, F.array_remove(F.split(field, r"\s+"), ""))
        n = F.size(F.col(tmp))
        nchunks = (F.when(n <= size, F.lit(1)).otherwise(
            F.ceil((n - F.lit(size)) / F.lit(float(stride)))
            .cast("int") + F.lit(1)))
        chunks = F.transform(
            F.sequence(F.lit(0), nchunks - 1),
            lambda j: F.array_join(
                F.slice(F.col(tmp), j * stride + 1, size), " "))
        out = F.when(n > 0, chunks).otherwise(
            F.array().cast("array<string>"))
        return staged.withColumn(name, out).drop(tmp)

    @staticmethod
    def _contains_call(ast, names: tuple[str, ...]) -> bool:
        if isinstance(ast, tuple):
            if ast[0] == "call" and ast[1] in names:
                return True
            return any(_Compiler._contains_call(x, names) for x in ast
                       if isinstance(x, (tuple, list)))
        if isinstance(ast, list):
            return any(_Compiler._contains_call(x, names) for x in ast)
        return False

    def _apply_scored_match(self, df: DataFrame, call, pos: int) -> DataFrame:
        """Scored ``WHERE MATCH(field, "query")`` under ``METADATA _score``:
        keeps rows where any analyzed query term occurs (the OR operator)
        and ADDS the Lucene-BM25 score of the matched terms to ``_score``.

        Plan shape (100 TB stance): per-term tf/dl are row-local array
        expressions over ONE tokenization (no postings explode, no
        shuffle); the corpus statistics (N, avgdl, per-term df) are a
        single partial-aggregated 1-row relation broadcast back — two
        scans of the relation total, both whole-stage-codegen'd, and the
        usual ``SORT _score DESC | LIMIT k`` folds to TakeOrdered.
        Contract: the relation needs a ``doc_id``-style identity only for
        deterministic downstream ordering — scoring itself is row-local.
        Fixed query terms sum in literal order, so the score is
        reproducible (and oracle-mirrorable) bit-for-bit."""
        from elasticsearch_hbase_river_spark.functions.analyzer import (
            analyze_tokens,
        )
        from elasticsearch_hbase_river_spark.operators.search import (
            BM25_B,
            BM25_K1,
        )
        args = call[2]
        if (len(args) not in (2, 3) or args[0][0] != "field"
                or args[1][0] != "lit"
                or not isinstance(args[1][1], str)):
            raise ESQLError('scored MATCH takes (field, literal query'
                            '[, "and"|"or"])', pos, self.text)
        op = "or"
        if len(args) == 3:
            if args[2][0] != "lit" or args[2][1] not in ("and", "or"):
                raise ESQLError('MATCH operator must be the literal '
                                '"and" or "or"', pos, self.text)
            op = args[2][1]
        field = args[0][1]
        if field not in df.columns:
            raise ESQLError(f"unknown column {field!r}", pos, self.text)
        terms = [t for t in re.split("[^a-z0-9]+", args[1][1].lower()) if t]
        seen: list[str] = []
        for t in terms:
            if t not in seen:
                seen.append(t)
        if not seen:
            raise ESQLError("MATCH query analyzes to no tokens",
                            pos, self.text)
        base = df.withColumn("__toks", analyze_tokens(F.col(field)))

        def tf(i: int) -> Column:
            term = seen[i]
            return F.size(F.filter(F.col("__toks"),
                                   lambda x: x == F.lit(term)))

        # corpus stats over rows where the field analyzed to a token
        # array: count(col) skips NULLs, and avgdl must not fold the
        # size(NULL) == -1 sentinel (default legacy.sizeOfNull) into the
        # average — the DuckDB oracle's len(NULL) is NULL and skipped.
        stats = base.agg(
            F.count(F.col("__toks")).cast("long").alias("__n_docs"),
            F.avg(F.when(F.col("__toks").isNotNull(),
                         F.size("__toks"))).alias("__avgdl"),
            *[F.count(F.when(tf(i) > 0, F.lit(1))).cast("long")
              .alias(f"__df{i}") for i in range(len(seen))])
        scored = base.crossJoin(F.broadcast(stats))
        total = F.lit(0.0)
        for i in range(len(seen)):
            idf = F.log(F.lit(1.0) + (F.col("__n_docs") - F.col(f"__df{i}")
                                      + 0.5) / (F.col(f"__df{i}") + 0.5))
            tf_norm = (tf(i) * (BM25_K1 + 1)) / (
                tf(i) + BM25_K1 * (1 - BM25_B
                                   + BM25_B * F.size("__toks")
                                   / F.col("__avgdl")))
            total = total + F.when(tf(i) > 0, idf * tf_norm).otherwise(0.0)
        keep = total > 0
        if op == "and":
            for i in range(len(seen)):
                keep = keep & (tf(i) > 0)
        out = (scored.filter(keep)
               .withColumn("_score", F.col("_score") + roundn_col(total)))
        return out.drop("__toks", "__n_docs", "__avgdl",
                        *[f"__df{i}" for i in range(len(seen))])

    def _apply_knn(self, df: DataFrame, call, pos: int) -> DataFrame:
        """``WHERE KNN(field, [query vector], k)``: keep the k nearest
        rows by cosine similarity; under ``METADATA _score`` the
        similarity adds to ``_score``. Brute-force top-k: the ranking is
        a TakeOrderedAndProject (per-partition partial top-k, then the k
        survivors merge — never a global sort), the ES|QL analog of the
        engine's ``q_knn_cosine`` baseline; swap in the IVF/LSH variants
        for recall/latency trade-offs at corpus scale. Ties break on the
        relation's FIRST column (the identity column by the engine's
        table convention), so results are deterministic."""
        from elasticsearch_hbase_river_spark.operators.similarity import (
            _dot,
            _norm,
        )
        args = call[2]
        if (len(args) != 3 or args[0][0] != "field" or args[1][0] != "arr"
                or args[2][0] != "lit" or not isinstance(args[2][1], int)):
            raise ESQLError(
                "KNN takes (field, [literal query vector], literal k)",
                pos, self.text)
        field = args[0][1]
        if field not in df.columns:
            raise ESQLError(f"unknown column {field!r}", pos, self.text)
        vals = []
        for x in args[1][1]:
            if x[0] == "lit" and isinstance(x[1], (int, float)):
                vals.append(float(x[1]))
            elif (x[0] == "neg" and x[1][0] == "lit"
                  and isinstance(x[1][1], (int, float))):
                vals.append(-float(x[1][1]))
            else:
                raise ESQLError("KNN query vector must be numeric literals",
                                pos, self.text)
        kk = args[2][1]
        if kk <= 0:
            raise ESQLError("KNN k must be positive", pos, self.text)
        qnorm = math.sqrt(sum(v * v for v in vals))
        if qnorm == 0.0:
            raise ESQLError("KNN query vector must be non-zero",
                            pos, self.text)
        qe = F.array(*[F.lit(v) for v in vals])
        emb = F.col(field)
        cos = _dot(emb, qe) / (_norm(emb) * F.lit(qnorm))
        # dimension contract enforced IN-PLAN (zip_with would silently
        # null-pad a mismatched vector into a null score otherwise);
        # ES knn skips documents missing the field, so a NULL embedding
        # must not reach the size() check (size(NULL) is -1 under the
        # default legacy.sizeOfNull and would abort the whole query).
        cos = (F.when(emb.isNull(), F.lit(None).cast("double"))
               .when(F.size(emb) == len(vals), cos)
               .otherwise(F.raise_error(F.lit(
                   f"KNN query vector has {len(vals)} dimensions but "
                   f"{field!r} differs"))))
        scored = (df.withColumn("__knn", roundn_col(cos))
                  .filter(F.col("__knn").isNotNull()))
        tiebreak = df.columns[0]
        out = (scored.orderBy(F.col("__knn").desc(), F.col(tiebreak).asc())
               .limit(kk))
        if "_score" in df.columns:
            out = out.withColumn("_score", F.col("_score") + F.col("__knn"))
        return out.drop("__knn")

    @staticmethod
    def _has_agg(ast) -> bool:
        if not isinstance(ast, tuple):
            return False
        if ast[0] == "call":
            if ast[1] in _AGGS:
                return True
            return any(_Compiler._has_agg(a) for a in ast[2])
        return any(_Compiler._has_agg(a) for a in ast
                   if isinstance(a, (tuple, list)))

    @staticmethod
    def _default_name(ast) -> str:
        if ast[0] == "field":
            return ast[1]
        raise ESQLError("computed STATS/BY columns need an explicit "
                        "`name =` (the subset does not synthesize names)")

    # -- time-series STATS (the TS command's aggregation) ---------------------
    @staticmethod
    def _split_ts_calls(ast, sink: list):
        """Replace per-series aggregate calls with placeholder fields
        ``__ts<k>``, collecting the originals into ``sink``."""
        if isinstance(ast, tuple):
            if ast[0] == "call" and ast[1] in _TS_AGG_NAMES:
                sink.append(ast)
                return ("field", f"__ts{len(sink) - 1}")
            return tuple(
                _Compiler._split_ts_calls(x, sink)
                if isinstance(x, (tuple, list)) else x for x in ast)
        if isinstance(ast, list):
            return [_Compiler._split_ts_calls(x, sink)
                    if isinstance(x, (tuple, list)) else x for x in ast]
        return ast

    def _apply_ts_stats(self, df: DataFrame, c: dict) -> DataFrame:
        """STATS over a ``TS`` source — the ES time-series model: inner
        ``*_OVER_TIME`` / ``RATE`` aggregates reduce each (series, bucket)
        first, the outer aggregate then combines across series.

        Plan shape: one projection (bucket + rate deltas via a window
        partitioned BY SERIES — the partition key is the TSDB routing key,
        so at scale the window never sees more than one series' bucket),
        then two partial-aggregable groupBys, |series x buckets| rows in
        between. RATE pins Prometheus-style increase: sum of positive
        deltas, counter resets contribute the post-reset value, first
        sample is baseline; normalized by the bucket's uniform width."""
        spec, self.ts_spec = self.ts_spec, None
        cols = df.columns
        missing = [x for x in (spec.ts, *spec.dimensions) if x not in cols]
        if missing:
            raise ESQLError(
                f"TS series column(s) {missing} were dropped before STATS",
                c["pos"], self.text)
        by_names: list[str] = []
        bucket_name = None
        bucket_secs = None
        stage = df
        for name, e in c["by"]:
            if e[0] == "call" and e[1] == "BUCKET":
                if name is None:
                    raise ESQLError("BUCKET in TS BY needs an explicit "
                                    "`name =`", c["pos"], self.text)
                if bucket_name is not None:
                    raise ESQLError("only one BUCKET per TS STATS",
                                    c["pos"], self.text)
                args = e[2]
                if not (args and args[0][0] == "field"
                        and args[0][1] == spec.ts):
                    raise ESQLError(
                        f"TS BUCKET must bucket the series timestamp "
                        f"{spec.ts!r}", c["pos"], self.text)
                span = args[1] if len(args) > 1 else None
                if (span is not None and span[0] == "span"
                        and span[1] >= 1 and span[2] in _SPAN_SECONDS):
                    bucket_secs = span[1] * _SPAN_SECONDS[span[2]]
                bucket_name = name
                stage = stage.withColumn(name, self.col(e, stage.columns))
                by_names.append(name)
            elif e[0] == "field":
                nm = name or e[1]
                if e[1] not in spec.dimensions:
                    raise ESQLError(
                        f"TS BY key {e[1]!r} is not a series dimension "
                        f"(dimensions: {list(spec.dimensions)})",
                        c["pos"], self.text)
                if nm != e[1]:
                    stage = stage.withColumn(nm, F.col(e[1]))
                by_names.append(nm)
            else:
                raise ESQLError("TS BY supports series dimensions and one "
                                "BUCKET(ts, span)", c["pos"], self.text)
        inner: list = []
        outer_specs = []
        for name, e, cond in c["aggs"]:
            if cond is not None:
                raise ESQLError("per-aggregate WHERE is outside the TS "
                                "STATS subset", c["pos"], self.text)
            te = self._split_ts_calls(e, inner)
            if not self._has_agg(te):
                raise ESQLError(
                    f"TS STATS column {name!r} needs an OUTER aggregate "
                    "over the per-series value, e.g. SUM(RATE(x))",
                    c["pos"], self.text)
            outer_specs.append((name or self._default_name(e), te))
        if not inner:
            raise ESQLError("TS STATS needs at least one *_OVER_TIME or "
                            "RATE aggregate", c["pos"], self.text)
        # counter aggregates need per-row window deltas before the groupBy
        for k, call in enumerate(inner):
            fname, args, pos = call[1], call[2], call[3]
            if fname not in ("RATE", "INCREASE", "IRATE"):
                continue
            if len(args) != 1:
                raise ESQLError(f"{fname} takes one counter field", pos,
                                self.text)
            if bucket_name is None:
                raise ESQLError(
                    f"{fname} needs BY ... BUCKET(ts, span) (the window "
                    "the counter increase is measured over)",
                    pos, self.text)
            if fname == "RATE" and bucket_secs is None:
                raise ESQLError(
                    "RATE needs BY ... BUCKET(ts, span) with a uniform "
                    f"span ({sorted(_SPAN_SECONDS)}) to normalize by",
                    pos, self.text)
            arg = self.col(args[0], stage.columns)
            w = (Window.partitionBy(*spec.dimensions, bucket_name)
                 .orderBy(F.col(spec.ts).asc(), arg.asc()))
            delta = arg - F.lag(arg).over(w)
            if fname == "IRATE":
                # instantaneous rate: the LAST adjusted delta over its
                # sample interval (Prometheus irate; resets contribute
                # the post-reset value). Microsecond-exact dt in both
                # engines (unix_micros / epoch_us); the NTZ→TZ cast's
                # session offset cancels in the difference.
                us = F.unix_micros(F.col(spec.ts).cast("timestamp"))
                dt = (us - F.lag(us).over(w)).cast("double") / F.lit(1e6)
                adj = (F.when(delta >= 0, delta.cast("double"))
                       .otherwise(arg.cast("double")))
                val = F.when(delta.isNotNull() & (dt > 0), adj / dt)
                stage = (stage
                         .withColumn(f"__iv{k}", val)
                         .withColumn(f"__it{k}",
                                     F.when(val.isNotNull(), us)))
            else:
                stage = stage.withColumn(
                    f"__rc{k}",
                    F.when(delta.isNull(), F.lit(0.0))
                    .when(delta >= 0, delta.cast("double"))
                    .otherwise(arg.cast("double")))
        g1 = list(spec.dimensions)
        g1 += [n for n in by_names if n not in g1]
        inner_cols = []
        for k, call in enumerate(inner):
            fname, args, pos = call[1], call[2], call[3]
            nm = f"__ts{k}"
            a0 = (self.col(args[0], df.columns) if args else None)
            if fname == "RATE":
                inner_cols.append(
                    (F.sum(f"__rc{k}") / F.lit(float(bucket_secs)))
                    .alias(nm))
            elif fname == "INCREASE":
                # Prometheus increase = rate without the width division
                inner_cols.append(F.sum(f"__rc{k}").alias(nm))
            elif fname == "IRATE":
                # instantaneous value as secondary key — deterministic
                # when two samples share the last interval's end instant
                it, iv = F.col(f"__it{k}"), F.col(f"__iv{k}")
                inner_cols.append(
                    F.max_by(iv, F.when(it.isNotNull(),
                                        F.struct(it, iv))).alias(nm))
            elif fname == "DELTA":
                # gauge delta: last sample minus first sample by time
                # (no extrapolation — documented simplification of the
                # Prometheus boundary-extrapolated delta). The sample
                # value is a deterministic secondary key: two samples
                # sharing a timestamp would otherwise make max_by/min_by
                # order-dependent across partial-aggregation merges.
                key = F.struct(F.col(spec.ts), a0)
                inner_cols.append(
                    (F.max_by(a0, key) - F.min_by(a0, key)).alias(nm))
            elif fname == "COUNT_OVER_TIME":
                inner_cols.append(
                    F.count(a0 if a0 is not None else F.lit(1))
                    .cast("long").alias(nm))
            elif fname == "FIRST_OVER_TIME":
                # value as secondary key: deterministic under ts ties
                inner_cols.append(
                    F.min_by(a0, F.struct(F.col(spec.ts), a0)).alias(nm))
            elif fname == "LAST_OVER_TIME":
                inner_cols.append(
                    F.max_by(a0, F.struct(F.col(spec.ts), a0)).alias(nm))
            elif fname == "AVG_OVER_TIME":
                # exact-decimal per-series average (see _ts_pinned_avg):
                # quantized samples sum associatively, so the inner value
                # is identical whatever order partial aggregation merges
                inner_cols.append(
                    (F.sum(_ts_dec6(a0)).cast("double")
                     / F.count(a0)).alias(nm))
            else:
                op = {"MAX_OVER_TIME": F.max,
                      "MIN_OVER_TIME": F.min, "SUM_OVER_TIME": F.sum}[fname]
                inner_cols.append(op(a0).alias(nm))
        stage1 = stage.groupBy(*g1).agg(*inner_cols)
        self._ts_outer_pin = True
        try:
            out = [self.col(te, stage1.columns, allow_agg=True).alias(n)
                   for n, te in outer_specs]
        finally:
            self._ts_outer_pin = False
        if by_names:
            return stage1.groupBy(*by_names).agg(*out)
        return stage1.agg(*out)

    # -- command compilation --------------------------------------------------
    def run(self, cmds: list[dict]) -> DataFrame:
        head = cmds[0]
        if head["cmd"] == "SHOW":
            # SHOW INFO: the engine's version row (ES returns the node's
            # version/date/hash; this engine reports its package version
            # and the Spark version executing the plan)
            from elasticsearch_hbase_river_spark import __version__
            df = self.spark.range(1).select(
                F.lit(__version__).alias("version"),
                F.lit(self.spark.version).alias("spark_version"),
                F.lit("elasticsearch-hbase-river-spark").alias("engine"))
        elif head["cmd"] == "FROM":
            tables = head.get("tables", [head["table"]])
            meta = head.get("metadata") or []
            parts = []
            for name in tables:
                part = self.load(name, head["pos"])
                if "_index" in meta:
                    part = part.withColumn("_index", F.lit(name))
                parts.append(part)
            # ES multi-index semantics: union by field NAME, null-padding
            # fields an index lacks (mapping conflicts fail loudly in ES
            # too — unionByName raises on irreconcilable types)
            df = parts[0]
            for part in parts[1:]:
                df = df.unionByName(part, allowMissingColumns=True)
            if "_score" in meta:
                # scoring starts at 0; scored WHERE stages (full-text
                # MATCH, KNN) ADD their contributions, the ES convention
                df = df.withColumn("_score", F.lit(0.0))
        elif head["cmd"] == "TS":
            spec = self.ts_specs.get(head["table"])
            if spec is None:
                raise ESQLError(
                    f"{head['table']!r} is not a time-series table "
                    f"(TS-queryable: {sorted(self.ts_specs)})",
                    head["pos"], self.text)
            df = self.load(head["table"], head["pos"])
            missing = [x for x in (spec.ts, *spec.dimensions)
                       if x not in df.columns]
            if missing:
                raise ESQLError(f"TS spec column(s) {missing} missing from "
                                f"{head['table']!r}", head["pos"], self.text)
            self.ts_spec = spec
        else:  # ROW
            df = self.spark.range(1).select(
                *[self.col(e, []).alias(n) for n, e in head["cols"]])
        for c in cmds[1:]:
            df = self.apply(df, c)
        return df

    # -- IP-family staging (r11 optimization): TO_IP / CIDR_MATCH /
    # IP_PREFIX compile to ~15-stage string pipelines. As plain Column
    # expressions those bind intermediates via ``_let`` (HOF lambdas are
    # CodegenFallback, so the WHOLE pipeline runs interpreted — measured
    # ~18 µs/row); in EVAL/WHERE position the calls are instead
    # extracted into chained helper-column projections: zero HOFs, the
    # pipeline runs in whole-stage codegen, and every call on the same
    # input expression SHARES one staged parse (q_esql_cidr6's two
    # CIDR_MATCH + one TO_IP ran three interpreted parses; now one
    # codegen'd one). Helper columns are dropped before the command
    # returns, so downstream commands and the output schema never see
    # them. Non-EVAL/WHERE positions keep the Column fallback.

    _IP_CALLS = ("TO_IP", "CIDR_MATCH", "IP_PREFIX")

    @staticmethod
    def _ast_key(ast):
        """Position-independent structural key of an expression AST, so
        two IP calls on the same input share one staged parse."""
        if isinstance(ast, tuple):
            if ast and ast[0] == "call":
                return ("call", ast[1],
                        _Compiler._ast_key(list(ast[2])))
            return tuple(_Compiler._ast_key(x) for x in ast)
        if isinstance(ast, list):
            return tuple(_Compiler._ast_key(x) for x in ast)
        return ast

    @staticmethod
    def _ast_fields(ast, out: set) -> set:
        """Field names referenced by an AST (for staged-parse cache
        invalidation when EVAL reassigns a column)."""
        if isinstance(ast, tuple):
            if ast and ast[0] == "field":
                out.add(ast[1])
            for x in ast:
                _Compiler._ast_fields(x, out)
        elif isinstance(ast, list):
            for x in ast:
                _Compiler._ast_fields(x, out)
        return out

    def _stage_ip_calls(self, df: DataFrame, ast, st: dict):
        """Rewrite ``ast``, extracting every IP-family call into staged
        helper columns on ``df``; returns (df, rewritten_ast). ``st``
        carries the per-command cache {parse/render keys -> staged
        names} and the temp-column list across calls."""
        from elasticsearch_hbase_river_spark.functions.ip import (
            cidr_match_on_hex,
            stage_ip_prefix,
            stage_parse,
            stage_to_ip,
        )

        if isinstance(ast, list):
            out = []
            for x in ast:
                df, x2 = self._stage_ip_calls(df, x, st)
                out.append(x2)
            return df, out
        if not isinstance(ast, tuple):
            return df, ast
        if not (ast and ast[0] == "call" and ast[1] in self._IP_CALLS):
            out = []
            for x in ast:
                df, x2 = self._stage_ip_calls(df, x, st)
                out.append(x2)
            return df, tuple(out)

        name, raw = ast[1], ast[2]
        # nested IP calls inside the input argument stage first
        df, raw = self._stage_ip_calls(df, list(raw), st)
        if not raw:
            raise ESQLError(f"{name} takes at least one argument")
        src_ast = raw[0]
        pkey = ("parse", self._ast_key(src_ast))
        if pkey not in st["cache"]:
            # Scale-adaptive fanout (r11, guide §2.5 input skew): the
            # staged parse is CPU-heavy per-row map work, and the bench
            # fixtures are single-row-group parquet — ONE scan task does
            # all the regex work regardless of cores. When the input's
            # scan parallelism is below the session's, round-robin it
            # out once per query (the repartition moves ~bytes of a
            # small input; at real scale the scan already has >= cores
            # partitions and the gate is false, so no exchange is ever
            # added). Streaming relations skip the gate (no .rdd).
            if not getattr(self, "_ip_fanout_checked", False):
                self._ip_fanout_checked = True
                if not df.isStreaming:
                    par = self.spark.sparkContext.defaultParallelism
                    if df.rdd.getNumPartitions() < par:
                        df = df.repartition(par)
            n = st["n"] = st["n"] + 1
            prefix = f"__ip{n}_"
            src = self.col(src_ast, df.columns)
            df, env, added = stage_parse(df, src, prefix)
            st["cache"][pkey] = (env, prefix,
                                 self._ast_fields(src_ast, set()))
            st["temps"] += added
        env, prefix, _deps = st["cache"][pkey]

        if name == "CIDR_MATCH":
            blocks = _compile_cidr_blocks(raw)
            out = cidr_match_on_hex(F.col(env["h"]), blocks)
        elif name == "TO_IP":
            rkey = ("toip", pkey)
            if rkey not in st["cache"]:
                df, out, added = stage_to_ip(df, env, prefix)
                st["cache"][rkey] = out
                st["temps"] += added
            out = st["cache"][rkey]
        else:  # IP_PREFIX
            v4len, v6len = _ip_prefix_lens(raw)
            rkey = ("prefix", pkey, v4len, v6len)
            if rkey not in st["cache"]:
                df, out, added = stage_ip_prefix(df, env, v4len, v6len,
                                                 prefix)
                st["cache"][rkey] = out
                st["temps"] += added
            out = st["cache"][rkey]

        cn = f"__ipout{len(st['temps'])}_{name.lower()}"
        # Non-deterministic identity wrap (monotonically_increasing_id()
        # >= 0 is always true, values unchanged): PushPredicateThroughNonJoin
        # refuses to push any filter below a projection with a
        # non-deterministic item, so no predicate ever descends into the
        # staged chain. Without the wrap, pushdown substitutes every
        # helper alias into the condition (trimAliases), and the stage
        # graph's fan-out makes that substitution EXPONENTIAL — measured
        # optimizer OOM on a 16 GB driver. mono_id, not rand(): Spark 4's
        # OptimizeRand knows rand's [0,1) range and constant-folds any
        # always-true rand comparison, silently erasing the wrap (found
        # the hard way). Nothing real is lost: a predicate over this
        # output depends on the whole staged chain and could never reach
        # the scan anyway.
        df = df.withColumn(
            cn, F.when(F.monotonically_increasing_id() >= 0, out))
        st["temps"].append(cn)
        return df, ("field", cn)

    def _ip_invalidate(self, st: dict, assigned: str) -> None:
        """Drop cached parses whose input referenced a column that an
        EVAL just reassigned (`EVAL x = .., y = TO_IP(x), x = ..`)."""
        stale = [k for k, v in st["cache"].items()
                 if k[0] == "parse" and assigned in v[2]]
        for k in stale:
            st["cache"] = {
                k2: v2 for k2, v2 in st["cache"].items()
                if k2 != k and not (isinstance(k2, tuple)
                                    and len(k2) >= 2 and k2[1] == k)}

    def apply(self, df: DataFrame, c: dict) -> DataFrame:
        k = c["cmd"]
        cols = df.columns
        # KQL term dispatch is on the bound column's MAPPING (its Spark
        # dtype), the Kibana rule — stashed here so the expression
        # compiler can reach it without threading schemas everywhere
        self._cur_dtypes = dict(df.dtypes)
        if k == "WHERE":
            e = c["expr"]
            if e[0] == "call" and e[1] == "KNN":
                return self._apply_knn(df, e, c["pos"])
            if "_score" in cols and e[0] == "call" and e[1] == "MATCH":
                return self._apply_scored_match(df, e, c["pos"])
            if self._contains_call(e, ("KNN",)):
                raise ESQLError(
                    "KNN must be the ENTIRE WHERE predicate — chain "
                    "additional filters as separate WHERE stages",
                    c["pos"], self.text)
            if "_score" in cols and self._contains_call(
                    e, ("MATCH", "MATCH_PHRASE")):
                raise ESQLError(
                    "with METADATA _score, a scoring function must be the "
                    "ENTIRE WHERE predicate (chain `| WHERE MATCH(..)` "
                    "stages — each adds its contribution to _score); "
                    "scored MATCH_PHRASE is outside the subset, use MATCH",
                    c["pos"], self.text)
            if self._contains_call(e, self._IP_CALLS):
                st = {"n": 0, "cache": {}, "temps": []}
                df, e = self._stage_ip_calls(df, e, st)
                return df.filter(self.col(e, df.columns)) \
                    .drop(*st["temps"])
            return df.filter(self.col(e, cols))
        if k == "EVAL":
            ip_st = None
            for name, e in c["cols"]:
                if e[0] == "call" and e[1] == "TEXT_EMBEDDING":
                    df = self._apply_text_embedding(df, name, e, c["pos"])
                elif e[0] == "call" and e[1] == "CHUNK_TEXT":
                    df = self._apply_chunk_text(df, name, e, c["pos"])
                else:
                    if self._contains_call(e, self._IP_CALLS):
                        if ip_st is None:
                            ip_st = {"n": 0, "cache": {}, "temps": []}
                        df, e = self._stage_ip_calls(df, e, ip_st)
                    df = df.withColumn(name, self.col(e, df.columns))
                if ip_st is not None:
                    self._ip_invalidate(ip_st, name)
            if ip_st is not None and ip_st["temps"]:
                df = df.drop(*ip_st["temps"])
            return df
        if k == "STATS" and self.ts_spec is not None:
            return self._apply_ts_stats(df, c)
        if k == "STATS":
            group_cols = []
            for name, e in c["by"]:
                name = name or self._default_name(e)
                group_cols.append(self.col(e, cols).alias(name))
            agg_cols = []
            for name, e, cond in c["aggs"]:
                name = name or self._default_name(e)
                if not self._has_agg(e):
                    raise ESQLError(
                        f"STATS column {name!r} contains no aggregate")
                fcol = self.col(cond, cols) if cond is not None else None
                agg_cols.append(
                    self.col(e, cols, allow_agg=True,
                             agg_filter=fcol).alias(name))
            if group_cols:
                return df.groupBy(*group_cols).agg(*agg_cols)
            return df.agg(*agg_cols)
        if k == "INLINESTATS":
            # ES semantics: run the STATS, join the results back onto the
            # rows (the agg relation is |distinct keys|-sized; AQE
            # broadcasts it at runtime when small — no forced hint, so
            # high-cardinality keys degrade to a shuffle join, not an OOM).
            keys = []
            for name, e in c["by"]:
                if e[0] == "field" and (name is None or name == e[1]):
                    self.col(e, cols)  # existence check
                    keys.append(e[1])
                    continue
                # computed BY key: materialize it as a named column on
                # the row side first (ES keeps the computed key column)
                if name is None:
                    raise ESQLError(
                        "computed INLINESTATS BY keys need an explicit "
                        "`name =`", c["pos"], self.text)
                df = df.withColumn(name, self.col(e, df.columns))
                keys.append(name)
            cols = df.columns
            agg_cols, agg_names = [], []
            for name, e, cond in c["aggs"]:
                name = name or self._default_name(e)
                if not self._has_agg(e):
                    raise ESQLError(
                        f"INLINESTATS column {name!r} contains no aggregate")
                fcol = self.col(cond, cols) if cond is not None else None
                agg_cols.append(
                    self.col(e, cols, allow_agg=True,
                             agg_filter=fcol).alias(name))
                agg_names.append(name)
            grouped = (df.groupBy(*keys).agg(*agg_cols) if keys
                       else df.agg(*agg_cols))
            left = df.drop(*[n for n in agg_names if n in df.columns])
            if keys:
                return left.join(grouped, keys, "left")
            return left.crossJoin(F.broadcast(grouped))
        if k == "SORT":
            keys = []
            for e, desc, nulls in c["keys"]:
                col = self.col(e, cols)
                # ES|QL: null > everything  ⇒  ASC→nulls last, DESC→first
                if desc:
                    col = (col.desc_nulls_last() if nulls == "last"
                           else col.desc_nulls_first())
                else:
                    col = (col.asc_nulls_first() if nulls == "first"
                           else col.asc_nulls_last())
                keys.append(col)
            return df.orderBy(*keys)
        if k == "LIMIT":
            return df.limit(c["n"])
        if k in ("KEEP", "DROP"):
            import fnmatch
            chosen: list[str] = []
            for pat in c["patterns"]:
                hits = ([pat] if pat in cols and "*" not in pat
                        else [x for x in cols if fnmatch.fnmatchcase(x, pat)])
                if not hits:
                    raise ESQLError(f"{k} pattern {pat!r} matches no column",
                                    c["pos"], self.text)
                chosen.extend(h for h in hits if h not in chosen)
            if k == "KEEP":
                return df.select(*chosen)
            remaining = [x for x in cols if x not in chosen]
            if not remaining:
                raise ESQLError("DROP would remove every column",
                                c["pos"], self.text)
            return df.select(*remaining)
        if k == "RENAME":
            for old, new in c["pairs"]:
                if old not in df.columns:
                    raise ESQLError(f"RENAME: unknown column {old!r}",
                                    c["pos"], self.text)
                df = df.withColumnRenamed(old, new)
            return df
        if k == "MV_EXPAND":
            if c["field"] not in cols:
                raise ESQLError(f"MV_EXPAND: unknown column {c['field']!r}",
                                c["pos"], self.text)
            return df.withColumn(c["field"], F.explode_outer(c["field"]))
        if k == "SAMPLE":
            # ES|QL SAMPLE keeps each row with probability p using a
            # random coin; this subset makes the coin DETERMINISTIC — a
            # content-hash Bernoulli (first four md5 hex digits of the
            # row's current columns rendered as strings, against
            # floor(p * 65536)) — so a sampled pipeline is reproducible
            # run-to-run and engine-to-engine, the property a training
            # pipeline actually wants from its sampling stage. Map-side
            # filter: no shuffle, scales with the scan.
            thresh = int(c["p"] * 65536)
            fp = F.md5(F.concat_ws(
                "\x1f", *[F.col(x).cast("string") for x in cols]))
            coin = F.conv(F.substring(fp, 1, 4), 16, 10).cast("long")
            return df.filter(coin < F.lit(thresh))
        if k in ("DISSECT", "GROK"):
            if c["field"] not in cols:
                raise ESQLError(f"{k}: unknown column {c['field']!r}",
                                c["pos"], self.text)
            regex, keys = (_compile_dissect(c["pattern"]) if k == "DISSECT"
                           else _compile_grok(c["pattern"]))
            src = F.col(c["field"])
            # evaluate the guard regex ONCE into a temp column and reuse it
            # for every key (k+1 regex executions per row instead of 2k)
            flag = f"__{k.lower()}_matched"
            while flag in df.columns:  # never clobber a user column
                flag += "_"
            df = df.withColumn(flag, src.rlike(regex))
            # group capture indices by key: a key repeated via the %{+k}
            # append modifier owns several groups, joined in pattern
            # order with the command's APPEND_SEPARATOR
            groups: dict[str, list[int]] = {}
            casts: dict[str, str] = {}
            for gi, (key, cast, _append) in enumerate(keys, start=1):
                groups.setdefault(key, []).append(gi)
                casts[key] = cast
            for key, gis in groups.items():
                parts = [F.regexp_extract(src, regex, gi) for gi in gis]
                joined = (parts[0] if len(parts) == 1
                          else F.concat_ws(c.get("sep", ""), *parts))
                val = F.when(F.col(flag), joined)
                if casts[key] != "string":
                    val = val.cast(casts[key])
                df = df.withColumn(key, val)
            return df.drop(flag)
        if k == "LOOKUP":
            right = self.load(c["table"], c["pos"])
            keys = c["on"]
            for key in keys:
                if key not in df.columns or key not in right.columns:
                    raise ESQLError(
                        f"LOOKUP JOIN: column {key!r} must exist on both "
                        f"sides (left: {sorted(df.columns)}, "
                        f"right: {sorted(right.columns)})",
                        c["pos"], self.text)
            # ES lookup-join: fields from the lookup index win on conflict
            clash = [x for x in df.columns
                     if x in right.columns and x not in keys]
            return (df.drop(*clash)
                    .join(F.broadcast(right), keys, "left"))
        if k == "CHANGE_POINT":
            # ES|QL CHANGE_POINT value ON key [AS type, pvalue]: detect the
            # step change in `value` over the `key` order and mark that row
            # (type='step_change', pvalue = two-sided z-test of the mean
            # shift). Requires UNIQUE key values (the ES shape: applied
            # after STATS BY key). Exact decimal prefix sums make the
            # argmax engine-independent; only the p-value touches exp().
            # Input is bucket-sized by construction (post-STATS), so the
            # single-partition cumulative window is sound at any corpus
            # scale — the corpus-sized work happened in the STATS.
            val, key = c["value"], c["on"]
            tname, pname = c["names"]
            for col_ in (val, key):
                if col_ not in cols:
                    raise ESQLError(f"CHANGE_POINT: unknown column "
                                    f"{col_!r}", c["pos"], self.text)
            if tname == key or pname == key or tname == pname:
                raise ESQLError(
                    "CHANGE_POINT AS names must be distinct and must not "
                    f"shadow the key column {key!r}", c["pos"], self.text)
            w = Window.orderBy(key)
            wall = Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing)
            # unique-key contract enforced IN-PLAN (the load-bearing __cn
            # carries the check, so pruning can't drop it): with ties, the
            # RANGE-framed cumulative count disagrees with row_number
            dup_guard = F.when(
                F.count(F.lit(1)).over(
                    Window.partitionBy(key)) == 1,
                F.count(F.lit(1)).over(w)
            ).otherwise(F.raise_error(F.lit(
                "CHANGE_POINT requires unique key values — apply it "
                "after STATS BY the key")))
            dec = F.col(val).cast("decimal(19,3)")
            prefix = df.select(
                # ES CHANGE_POINT reports the FIRST key of the new regime;
                # the prefix row at the argmax split describes the last
                # pre-change position, so carry the next key alongside it
                F.lead(F.col(key)).over(w).alias("__k"),
                dup_guard.alias("__cn"),
                F.sum(dec).over(w).alias("__cs"),
                F.sum(dec * dec).over(w).alias("__cq"),
                F.count(F.lit(1)).over(wall).alias("__tn"),
                F.sum(dec).over(wall).alias("__ts"),
                F.sum(dec * dec).over(wall).alias("__tq"),
            ).filter(F.col("__cn") < F.col("__tn"))
            nb = F.col("__cn").cast("double")
            na = (F.col("__tn") - F.col("__cn")).cast("double")
            before = F.col("__cs").cast("double") / nb
            after = (F.col("__ts") - F.col("__cs")).cast("double") / na
            d = F.abs(after - before)
            tn = F.col("__tn").cast("double")
            mean = F.col("__ts").cast("double") / tn
            # spell the square as multiplication (not pow) so the oracle
            # twin can reproduce it operand-for-operand; clamp at 0 so a
            # constant series can't go epsilon-negative into sqrt(NaN)
            var = F.greatest(
                F.col("__tq").cast("double") / tn - mean * mean,
                F.lit(0.0))
            se = F.sqrt(var * (F.lit(1.0) / nb + F.lit(1.0) / na))
            # se == 0 ⇔ zero variance ⇔ no change at all: z = 0 ⇒ p = 1
            # (NOT z = inf, which would mark flat data maximally
            # significant)
            z = F.when(se > 0, d / se).otherwise(F.lit(0.0))
            phi = (F.lit(0.5)
                   * (F.lit(1.0) + _erf(z / F.lit(1.4142135623730951))))
            pv = F.greatest(F.lit(0.0),
                            F.lit(2.0) * (F.lit(1.0) - phi))
            step_m = (prefix
                      .select("__k", d.alias("__d"), pv.alias("__pv"))
                      .orderBy(F.col("__d").desc(), "__k").limit(1)
                      .select(F.col("__k").alias(key),
                              F.lit("step_change").alias(tname),
                              F.col("__pv").alias("__rawpv"),
                              F.lit(0).alias("__prio")))
            # spike/dip candidate: the single most deviant point vs the
            # REST (leave-one-out). The argmax metric |x·(n-1) − (Σ−x)|
            # is exact decimal, so candidate choice is engine-exact; the
            # p-value is a two-sided z of the point against the rest's
            # moments. ES's detector family reports spike/dip when a
            # lone excursion explains the series better than a level
            # shift — this engine pins that as "the smaller p-value
            # wins, ties prefer step_change".
            spike_rel = (df.select(
                F.col(key).alias("__sk"), dec.alias("__x"),
                F.count(F.lit(1)).over(wall).alias("__tn"),
                F.sum(dec).over(wall).alias("__ts"),
                F.sum(dec * dec).over(wall).alias("__tq"))
                .filter(F.col("__tn") > 1))
            dm = F.abs(F.col("__x") * (F.col("__tn") - 1)
                       - (F.col("__ts") - F.col("__x")))
            rest_n = (F.col("__tn") - 1).cast("double")
            mean_rest = ((F.col("__ts") - F.col("__x")).cast("double")
                         / rest_n)
            var_rest = F.greatest(
                (F.col("__tq") - F.col("__x") * F.col("__x"))
                .cast("double") / rest_n - mean_rest * mean_rest,
                F.lit(0.0))
            sd_rest = F.sqrt(var_rest)
            dev = F.abs(F.col("__x").cast("double") - mean_rest)
            zs = F.when(sd_rest > 0, dev / sd_rest).otherwise(F.lit(0.0))
            phis = (F.lit(0.5)
                    * (F.lit(1.0) + _erf(zs / F.lit(1.4142135623730951))))
            # sd_rest == 0 with a deviant point: the point differs from a
            # CONSTANT rest — maximally significant (p = 0), not z = 0
            pvs = (F.when(sd_rest > 0,
                          F.greatest(F.lit(0.0),
                                     F.lit(2.0) * (F.lit(1.0) - phis)))
                   .when(dev > 0, F.lit(0.0)).otherwise(F.lit(1.0)))
            typ = F.when(F.col("__x").cast("double") > mean_rest,
                         F.lit("spike")).otherwise(F.lit("dip"))
            spike_m = (spike_rel
                       .select("__sk", dm.alias("__dm"),
                               typ.alias(tname), pvs.alias("__rawpv"))
                       .orderBy(F.col("__dm").desc(), "__sk").limit(1)
                       .select(F.col("__sk").alias(key), F.col(tname),
                               F.col("__rawpv"), F.lit(1).alias("__prio")))
            marker = (step_m.unionByName(spike_m)
                      .orderBy(F.col("__rawpv").asc(), F.col("__prio").asc())
                      .limit(1)
                      .select(F.col(key), F.col(tname),
                              roundn_col(F.col("__rawpv")).alias(pname)))
            left = df.drop(*[n for n in (tname, pname) if n in df.columns])
            return left.join(F.broadcast(marker), key, "left")
        if k == "FORK":
            # every branch consumes the SAME input relation; outputs union
            # by name (missing columns null-padded) with a _fork
            # discriminator — ES 9.x FORK semantics. The input plan is
            # shared, so Catalyst reuses the scan/exchange across branches.
            outs = []
            for i, branch in enumerate(c["branches"]):
                b = df
                for sub in branch:
                    b = self.apply(b, sub)
                outs.append(b.withColumn("_fork", F.lit(f"fork{i + 1}")))
            out = outs[0]
            for b in outs[1:]:
                out = out.unionByName(b, allowMissingColumns=True)
            return out
        if k == "FUSE":
            # Hybrid-ranking fusion of FORK branches (ES 9.x FUSE). Subset
            # contract: rows carry `_id` (the fusion key) and `_score`;
            # `rrf` ranks each branch by (_score desc, _id) and scores
            # sum(1/(60 + rank)) — the published RRF constant — while
            # `linear` sums the raw scores. Remaining columns merge by
            # MAX (deterministic, unlike first-non-null under shuffles).
            # Scale shape: the rank window partitions by _fork, and FORK
            # branches are top-k-bounded by construction in retrieval
            # pipelines, so the window never sorts more than one branch's
            # k rows; the fuse itself is one |branches x k| groupBy.
            for need in ("_fork", "_id", "_score"):
                if need not in df.columns:
                    raise ESQLError(
                        f"FUSE needs a {need} column (FORK output with an "
                        "_id key and per-branch _score)", c["pos"],
                        self.text)
            others = [x for x in df.columns
                      if x not in ("_id", "_score", "_fork")]
            if c["method"] == "rrf":
                w = (Window.partitionBy("_fork")
                     .orderBy(F.col("_score").desc(), F.col("_id").asc()))
                contrib = F.lit(1.0) / (F.lit(60) + F.row_number().over(w))
            else:  # linear
                contrib = F.col("_score").cast("double")
            scored = df.withColumn("__fuse_c", contrib)
            return scored.groupBy("_id").agg(
                F.sum("__fuse_c").alias("_score"),
                *[F.max(x).alias(x) for x in others])
        if k == "RERANK":
            # ES 9.x ``RERANK "query" ON field`` re-scores the (top-k
            # bounded) rows through an inference endpoint. No model runs
            # in this engine, so the subset pins a DETERMINISTIC,
            # oracle-mirrorable relevance rule (documented stand-in, the
            # CATEGORIZE precedent): _score is REPLACED by the fraction
            # of the query's analyzed terms present in the field's
            # analyzed tokens (exact integer count / term count — no
            # accumulation wobble). Row-local: rides the already-bounded
            # relation, no shuffle.
            from elasticsearch_hbase_river_spark.functions.analyzer import (
                analyze_tokens,
            )
            if "_score" not in cols:
                raise ESQLError(
                    "RERANK needs METADATA _score on the pipeline",
                    c["pos"], self.text)
            if c["field"] not in cols:
                raise ESQLError(f"RERANK: unknown column {c['field']!r}",
                                c["pos"], self.text)
            terms: list[str] = []
            for t_ in re.split("[^a-z0-9]+", c["query"].lower()):
                if t_ and t_ not in terms:
                    terms.append(t_)
            if not terms:
                raise ESQLError("RERANK query analyzes to no tokens",
                                c["pos"], self.text)
            toks = analyze_tokens(F.col(c["field"]))
            cnt = F.lit(0)
            for t_ in terms:
                cnt = cnt + F.array_contains(toks, t_).cast("int")
            return df.withColumn(
                "_score",
                roundn_col(cnt.cast("double") / F.lit(float(len(terms)))))
        if k == "COMPLETION":
            # ES 9.x ``COMPLETION name = prompt WITH {inference_id}``
            # generates text through an inference endpoint. No model runs
            # in this engine, so the subset pins a DETERMINISTIC
            # EXTRACTIVE stand-in (the RERANK/CATEGORIZE precedent,
            # documented deviation): the completion is the prompt's
            # first sentence (text up to and including the first
            # ``.!?``, whole prompt if none), whitespace-trimmed — a
            # row-local codegen'd regexp, no shuffle, no state.
            prompt = self.col(c["prompt"], cols)
            first = F.regexp_extract(prompt, r"^\s*([^.!?]*[.!?]?)", 1)
            return df.withColumn(c["name"], F.trim(first))
        if k == "ENRICH":
            pol = self.policies.get(c["policy"])
            if pol is None:
                raise ESQLError(f"unknown enrich policy {c['policy']!r} "
                                f"(have: {sorted(self.policies)})",
                                c["pos"], self.text)
            if c["on"] not in df.columns:
                raise ESQLError(f"ENRICH: unknown column {c['on']!r}",
                                c["pos"], self.text)
            fields = c["with"] or list(pol.fields)
            bad = [f_ for f_ in fields if f_ not in pol.fields]
            if bad:
                raise ESQLError(
                    f"ENRICH WITH field(s) {bad} not in policy "
                    f"{c['policy']!r} (exposes: {list(pol.fields)})",
                    c["pos"], self.text)
            if pol.match_type == "range":
                # range policy: the dimension carries half-open [lo, hi)
                # bounds. Broadcast range join — the policy table is
                # dimension-sized by construction, so the probe stays
                # map-side (BroadcastNestedLoopJoin over a handful of
                # rows, never a corpus x corpus product).
                lo, hi = pol.match_field + "_lo", pol.match_field + "_hi"
                right = (self.load(pol.table, c["pos"])
                         .select(F.col(lo).alias("__enrich_lo"),
                                 F.col(hi).alias("__enrich_hi"), *fields))
                cond = ((F.col(c["on"]) >= F.col("__enrich_lo"))
                        & (F.col(c["on"]) < F.col("__enrich_hi")))
                return (df.drop(*[f_ for f_ in fields if f_ in df.columns])
                        .join(F.broadcast(right), cond, "left")
                        .drop("__enrich_lo", "__enrich_hi"))
            right = (self.load(pol.table, c["pos"])
                     .select(F.col(pol.match_field).alias("__enrich_key"),
                             *fields))
            out = (df.drop(*[f_ for f_ in fields if f_ in df.columns])
                   .join(F.broadcast(right),
                         F.col(c["on"]) == F.col("__enrich_key"), "left")
                   .drop("__enrich_key"))
            return out
        raise ESQLError(f"unhandled command {k}", c.get("pos", -1), self.text)


def esql(spark: SparkSession, text: str, sf_dir: Optional[str] = None,
         tables: Optional[dict[str, DataFrame]] = None,
         policies: Optional[dict[str, EnrichPolicy]] = None,
         ts_specs: Optional[dict[str, TimeSeriesSpec]] = None,
         now: Optional[datetime] = None) -> DataFrame:
    """Compile and bind an ES|QL query to a lazy DataFrame.

    ``FROM x`` resolves ``x`` first in ``tables`` (pre-bound DataFrames),
    then as a fixture table under ``sf_dir``. Nothing executes here — the
    returned DataFrame is a plain Catalyst plan. ``now`` pins the
    ``NOW()`` query clock (default: compile-time UTC, the ES query-start
    semantics) — pass it for reproducible pipelines.
    """
    cmds = parse(text)
    comp = _Compiler(spark, sf_dir, tables,
                     policies if policies is not None else DEFAULT_POLICIES,
                     text, ts_specs=ts_specs, now=now)
    return comp.run(cmds)
