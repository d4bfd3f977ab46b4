"""IP address parsing/canonicalization shared by ES|QL ``TO_IP`` and its
DuckDB oracle twins.

ES ``TO_IP`` accepts IPv4 dotted quads and IPv6 strings and renders the
RFC 5952 canonical form (lowercase, leading zeros stripped, the leftmost
longest run of >= 2 zero groups compressed to ``::``); unconvertible
values fold to null, the ES|QL null-with-warning convention.

Dotted-quad tails (RFC 4291 §2.2.3: ``::ffff:1.2.3.4``, ``::1.2.3.4``)
parse as the last two hextets, and the IPv4-MAPPED prefix
(``::ffff:0:0/96``) renders back as the dotted quad — exactly Java's
``InetAddress`` / ES behavior, where a mapped address IS an IPv4
address. Subset contract (COVERAGE.md): zone indices (``%eth0``) fold
to null.

``ip_hex32_col`` / ``ip_hex32_sql`` expose the 128-bit VALUE as 32
lowercase nibbles with IPv4 mapped into ``::ffff:0:0/96`` — the
Lucene ``InetAddressPoint`` encoding — so CIDR matching is one
fixed-length string prefix compare for v4 and v6 alike.

Both engines run the IDENTICAL algorithm: the 28-case leftmost-longest
zero-run search over the 8 hextets is GENERATED once (``_RUNS``) and
emitted for DuckDB as a SQL ``CASE`` from the same list, so there is no
hand-translation to drift.

Execution design (r11 optimization round): the Spark side is ONE
algorithm — the ``_parse_pipe`` / ``_canonical_pipe`` stage lists — bound
two ways:

- **staged** (the ES|QL compiler's EVAL/WHERE path,
  :func:`stage_parse` etc.): every intermediate lands as a real helper
  column in a chained projection. No higher-order functions anywhere,
  so the whole pipeline runs in WHOLE-STAGE CODEGEN, and Catalyst's
  CollapseProject keeps multiply-referenced stages materialized instead
  of re-inlining them (it refuses to duplicate non-cheap expressions).
  Measured ~8x per-row vs the interpreted form, and one parse is shared
  by every TO_IP/CIDR_MATCH/IP_PREFIX call on the same input.
- **let-bound** (:func:`to_ip_col` / :func:`ip_hex32_col`, the
  standalone Column API and non-EVAL/WHERE scalar positions): the SAME
  stage list bound via nested ``_let`` lambda variables. Interpreted,
  but each stage still evaluates once per row. The two modes share
  every builder, so the cross-engine property tests that drive the
  Column API pin the staged path's algebra too.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: strict dotted-quad octet (leading zeros rejected, the ES TO_IP default)
IPV4_OCTET = r"(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9][0-9]|[0-9])"
IPV4_RE = f"^{IPV4_OCTET}(\\.{IPV4_OCTET}){{3}}$"

_HEX_GRP = "[0-9a-f]{1,4}"
#: one anchored regex validates a whole colon-joined side (vs the old
#: per-hextet ``forall`` — one regex pass instead of eight)
_SIDE_RE = f"^{_HEX_GRP}(:{_HEX_GRP})*$"

#: (start, length) of every compressible zero run over 8 hextets, in RFC
#: 5952 priority order: longest first, leftmost on ties. 1-based starts.
#: Consumed by the DuckDB twin generator (the Spark side finds the same
#: run via a locate() chain over a zero-group bitmap).
_RUNS: list[tuple[int, int]] = [
    (s, l)
    for l in range(8, 1, -1)
    for s in range(1, 8 - l + 2)
]

#: the 24-nibble prefix every IPv4-mapped hex32 value carries
MAPPED_PREFIX = "00000000000000000000ffff"

#: dotted-quad tail of an IPv6 string (strict octets, after a colon)
_V4_TAIL_RE = f":({IPV4_OCTET}(\\.{IPV4_OCTET}){{3}})$"


def _let(value: Column, body) -> Column:
    """Let-binding for column expressions: bind ``value`` ONCE as a
    higher-order-function lambda variable and reference it cheaply in
    ``body``. Without this every reference to a subexpression INLINES
    its whole tree — the naive 28-case run search duplicated the parse
    tree ~200x and took Catalyst >60 s to analyze; with bindings the
    tree is linear. Cost: the binding itself is a 1-element array
    ``transform`` — a CodegenFallback node, so everything under a _let
    runs INTERPRETED; the staged pipeline below exists because of
    exactly that."""
    return F.element_at(F.transform(F.array(value), body), 1)


def _strip0_4(p: Column) -> Column:
    """Leading-zero strip of an exactly-4-char hex group — the plain
    substring CASE form of ``regexp_replace(p, '^0{1,3}', '')``: no
    regex, whole-stage codegen, identical output ('0000' -> '0')."""
    return (F.when(F.substring(p, 1, 3) == "000", F.substring(p, 4, 1))
            .when(F.substring(p, 1, 2) == "00", F.substring(p, 3, 2))
            .when(F.substring(p, 1, 1) == "0", F.substring(p, 2, 3))
            .otherwise(p))


#: accessor type: stage name -> Column (attribute or lambda variable)
_Ref = Callable[[str], Column]


def _raw_group(r: _Ref, i: int) -> Column:
    """Hextet ``i`` (1..8) of the '::'-expanded address: left groups,
    then implicit zeros, then right groups — the unrolled twin of the
    old ``concat(left, array_repeat('0', 8-n), right)[i]``."""
    return (F.when(F.lit(i) <= r("nl"), F.element_at(r("lg"), i))
            .when(F.lit(i) > F.lit(8) - r("nr"),
                  F.element_at(r("rg"),
                               (F.lit(i) - (F.lit(8) - r("nr")))
                               .cast("int")))
            .otherwise(F.lit("0")))


def _parse_pipe() -> list[tuple[str, Callable[[_Ref], Column]]]:
    """The shared parse stages: string -> validity flags + hex32 value.
    The source string is referenced as the ``src`` stage (pre-seeded by
    the binder), so the stage list itself is input-independent — which
    is what lets the staged binder CACHE the built Column objects per
    process (see ``_cached_stage_cols``).

    Null/invalid propagation mirrors the original expression exactly:
    ``ok6``/``is4`` are false-or-null off the happy path, and ``h`` is
    null unless the input is a strict dotted quad or a valid IPv6 form.
    Stages gate their regex work on cheap ``contains`` probes (a pure
    dotted quad never runs the v6 splits; a pure v6 string never runs
    the big IPv4 alternation)."""
    hx = (lambda v: F.lower(F.conv(v.cast("string"), 10, 16)))

    def lc_builder(r: _Ref) -> Column:
        # rewrite a trailing dotted quad into its two hextets (RFC 4291
        # §2.2.3): '::ffff:1.2.3.4' -> '::ffff:102:304'; invalid quads
        # stay in place and fail the hextet check downstream -> null
        o = (lambda i: F.element_at(r("qsp"), i).cast("long"))
        rewritten = F.concat(
            F.regexp_replace(r("lc0"), _V4_TAIL_RE, ""), F.lit(":"),
            hx(o(1) * 256 + o(2)), F.lit(":"), hx(o(3) * 256 + o(4)))
        return F.when(r("quad") != "", rewritten).otherwise(r("lc0"))

    def ok6_builder(r: _Ref) -> Column:
        n = r("nl") + r("nr")
        toks_ok = (((r("ls") == "") | r("ls").rlike(_SIDE_RE))
                   & ((r("rs") == "") | r("rs").rlike(_SIDE_RE)))
        struct_ok = (((r("ndc") == 1) & (n == 8))
                     | ((r("ndc") == 2) & (n <= 7)))
        return (r("lc").contains(":") & (r("ndc") <= 2)
                & struct_ok & toks_ok)

    def h_builder(r: _Ref) -> Column:
        o4 = (lambda i: F.element_at(r("sp4"), i).cast("long"))
        v4hex = F.concat(
            F.lit(MAPPED_PREFIX),
            F.lpad(F.lower(F.conv(
                (o4(1) * 16777216 + o4(2) * 65536 + o4(3) * 256 + o4(4))
                .cast("string"), 10, 16)), 8, "0"))
        hex6 = F.concat(*[F.lpad(_raw_group(r, i), 4, "0")
                          for i in range(1, 9)])
        return F.when(r("is4"), v4hex).when(r("ok6"), hex6)

    return [
        ("lc0", lambda r: F.lower(F.trim(r("src")))),
        ("quad", lambda r: F.when(
            r("lc0").contains(":") & r("lc0").contains("."),
            F.regexp_extract(r("lc0"), _V4_TAIL_RE, 1)).otherwise(F.lit(""))),
        ("qsp", lambda r: F.when(r("quad") != "",
                                 F.split(r("quad"), r"\."))),
        ("lc", lc_builder),
        ("parts", lambda r: F.when(r("lc").contains(":"),
                                   F.split(r("lc"), "::", -1))),
        ("ndc", lambda r: F.size(r("parts"))),
        ("ls", lambda r: F.element_at(r("parts"), 1)),
        ("rs", lambda r: F.when(r("ndc") == 2, F.element_at(r("parts"), 2))
                          .otherwise(F.lit(""))),
        ("lg", lambda r: F.split(r("ls"), ":", -1)),
        ("rg", lambda r: F.split(r("rs"), ":", -1)),
        ("nl", lambda r: F.when(r("ls") == "", F.lit(0))
                          .otherwise(F.size(r("lg")))),
        ("nr", lambda r: F.when(r("rs") == "", F.lit(0))
                          .otherwise(F.size(r("rg")))),
        ("ok6", ok6_builder),
        ("sp4", lambda r: F.when(
            r("lc").contains(".") & ~r("lc").contains(":"),
            F.split(r("lc"), r"\."))),
        ("is4", lambda r: r("lc").contains(".") & ~r("lc").contains(":")
                          & r("lc").rlike(IPV4_RE)),
        ("h", h_builder),
    ]


def _best_run(b: Column) -> Column:
    """Leftmost-longest zero-run over an 8-char '1'/'0' zero-group
    bitmap: locate('1'*l) is the leftmost start of a run >= l, so
    scanning l from 8 down to 2 yields the RFC 5952 choice."""
    chain = None
    for l in range(8, 1, -1):
        pos = F.locate("1" * l, b)
        hit = F.struct(pos.alias("s"), F.lit(l).alias("l"))
        chain = (F.when(pos > 0, hit) if chain is None
                 else chain.when(pos > 0, hit))
    return chain.otherwise(
        F.struct(F.lit(0).alias("s"), F.lit(0).alias("l")))


def _canonical_pipe(hname: str) -> list[tuple[str, Callable[[_Ref], Column]]]:
    """Canonical-rendering stages over a hex32 stage ``hname``: the
    stripped hextet array, the zero-group bitmap (read directly off the
    padded nibbles — group i is zero iff its 4 nibbles are '0000'), and
    the chosen compression run."""
    return [
        ("harr", lambda r: F.array(*[
            _strip0_4(F.substring(r(hname), 1 + 4 * i, 4))
            for i in range(8)])),
        ("bitmap", lambda r: F.concat(*[
            F.when(F.substring(r(hname), 1 + 4 * i, 4) == "0000",
                   F.lit("1")).otherwise(F.lit("0"))
            for i in range(8)])),
        ("bs", lambda r: _best_run(r("bitmap"))),
    ]


def _canonical_out(r: _Ref, hname: str) -> Column:
    """RFC 5952 canonical text of the hex32 stage ``hname`` (mapped
    values render as the dotted quad — the Java InetAddress / ES rule)."""
    h, harr, bs = r(hname), r("harr"), r("bs")
    mapped = F.substring(h, 1, 24) == MAPPED_PREFIX
    v7 = F.conv(F.substring(h, 25, 4), 16, 10).cast("long")
    v8 = F.conv(F.substring(h, 29, 4), 16, 10).cast("long")
    dotted = F.concat_ws(
        ".", F.floor(v7 / 256).cast("long"), F.pmod(v7, 256),
        F.floor(v8 / 256).cast("long"), F.pmod(v8, 256))
    s_, l_ = bs["s"], bs["l"]
    compressed = F.concat(
        F.array_join(F.slice(harr, 1, s_ - 1), ":"),
        F.lit("::"),
        F.array_join(
            F.slice(F.concat(harr, F.array(F.lit(""))),  # start > size guard
                    s_ + l_, F.lit(9) - s_ - l_), ":"))
    canon = F.when(l_ >= 2, compressed).otherwise(F.array_join(harr, ":"))
    return F.when(mapped, dotted).otherwise(canon)


def _to_ip_final(r: _Ref) -> Column:
    """Canonical IP string (or null): strict dotted quads pass through,
    valid IPv6 renders canonically, everything else folds to null."""
    return F.when(r("is4"), r("lc")).when(r("ok6"), _canonical_out(r, "h"))


# ---------------------------------------------------------------------------
# Binding mode 1: nested _let (standalone Column API; interpreted).

def _run_let(pipe: list, final: Callable[[_Ref], Column],
             src: Column) -> Column:
    # src is referenced exactly once (by the lc0 stage), so it is seeded
    # directly instead of _let-bound — no tree duplication possible.
    env: dict[str, Column] = {"src": src}

    def make_body(name: str, nxt: int):
        # factory closure, NOT a default-arg lambda: F.transform passes
        # (element, index) to any TWO-parameter function, so a
        # `lambda v, name=name:` would bind the element index to name
        def body(v: Column) -> Column:
            env[name] = v
            return go(nxt)

        return body

    def go(i: int) -> Column:
        if i == len(pipe):
            return final(lambda n: env[n])
        name, fn = pipe[i]
        return _let(fn(lambda n: env[n]), make_body(name, i + 1))

    return go(0)


def to_ip_col(c: Column) -> Column:
    """Canonical IP string (or null) from an arbitrary string column."""
    return _run_let(_parse_pipe() + _canonical_pipe("h"), _to_ip_final, c)


def ip_hex32_col(c: Column) -> Column:
    """The 128-bit value of an IP string as 32 lowercase nibbles (or
    null): IPv6 hextets lpad'ed to 4, IPv4 mapped into ``::ffff:0:0/96``
    — the Lucene ``InetAddressPoint`` encoding ES's ip field/CIDR
    queries run on. Fixed-length hex compares lexicographically ==
    numerically, so a CIDR test is one string-prefix compare."""
    return _run_let(_parse_pipe(), lambda r: r("h"), c)


def _mask_pick_stage(v4len: int, v6len: int) -> tuple[str,
                                                      Callable[[_Ref], Column]]:
    """The family-picked mask stage: values in the IPv4-mapped range use
    ``v4len`` over the v4 bits, other IPv6 values ``v6len`` over all 128."""
    name = f"mh{v4len}_{v6len}"

    def fn(r: _Ref) -> Column:
        return F.when(
            F.substring(r("h"), 1, 24) == MAPPED_PREFIX,
            mask_hex32_col(r("h"), 96 + v4len)) \
            .otherwise(mask_hex32_col(r("h"), v6len))

    return name, fn


def ip_prefix_col(c: Column, v4len: int, v6len: int) -> Column:
    """``IP_PREFIX(ip, v4_len, v6_len)`` as a standalone Column: parse to
    hex32, family-picked mask, shared canonical renderer on the masked
    nibbles (valid by construction — no re-parse). Unparseable input
    folds to null."""
    mh, fn = _mask_pick_stage(v4len, v6len)
    pipe = _parse_pipe() + [(mh, fn)] + _canonical_pipe(mh)
    return _run_let(pipe, lambda r: F.when(r("h").isNotNull(),
                                           _canonical_out(r, mh)), c)


# ---------------------------------------------------------------------------
# Binding mode 2: staged helper columns (the ES|QL compiler's EVAL/WHERE
# path; whole-stage codegen, one parse shared across calls).

#: process-lifetime cache of BUILT stage Column objects, keyed by
#: (pipeline kind, prefix, params). Every stage reference is by COLUMN
#: NAME (``prefix + stage``), and prefixes are allocated deterministically
#: by the compiler (``__ip1_``, ``__ip2_``, ...), so the same Column
#: objects bind correctly on any DataFrame that carries the helper
#: columns. This caches unresolved EXPRESSION TREES, never data or
#: results: building the ~16-stage pipeline costs ~10k py4j round-trips
#: (measured 2-4 s per query at bench time, the dominant cost of the IP
#: query family at sf0.1); with the cache the second and later IP
#: queries in a process reuse the trees for ~40 round-trips.
_STAGE_COL_CACHE: dict[tuple, list[tuple[str, str, Column]]] = {}


def _fixed_ref(prefix: str) -> _Ref:
    return lambda n: F.col(prefix + n)


def _cached_stage_cols(key: tuple, make_pipe: Callable[[], list],
                       prefix: str) -> list[tuple[str, str, Column]]:
    """[(stage name, column name, built Column)] for ``make_pipe()`` with
    every stage reference bound to ``prefix + stage``; built once per
    process per key."""
    got = _STAGE_COL_CACHE.get(key)
    if got is None:
        r = _fixed_ref(prefix)
        got = [(name, prefix + name, fn(r)) for name, fn in make_pipe()]
        _STAGE_COL_CACHE[key] = got
    return got


def _apply_staged(df: DataFrame, cols: list[tuple[str, str, Column]],
                  env: dict[str, str]) -> tuple[DataFrame, list[str]]:
    """Append one helper column per cached stage; ``env`` maps stage
    name -> column name (shared with previously staged pipes)."""
    added: list[str] = []
    for name, cn, col in cols:
        df = df.withColumn(cn, col)
        env[name] = cn
        added.append(cn)
    return df, added


def stage_parse(df: DataFrame, src: Column,
                prefix: str) -> tuple[DataFrame, dict[str, str], list[str]]:
    """Stage the parse pipeline (through the ``h`` hex32 stage) for
    ``src``. Returns (df, stage-name -> column-name, temp columns).
    ``src`` is materialized as the ``<prefix>src`` helper column so the
    rest of the pipeline is input-independent and cacheable."""
    sn = prefix + "src"
    df = df.withColumn(sn, src)
    env: dict[str, str] = {"src": sn}
    cols = _cached_stage_cols(("parse", prefix), _parse_pipe, prefix)
    df, added = _apply_staged(df, cols, env)
    return df, env, [sn] + added


def stage_to_ip(df: DataFrame, env: dict[str, str],
                prefix: str) -> tuple[DataFrame, Column, list[str]]:
    """Canonical-rendering stages over an already-staged parse; returns
    the TO_IP output Column (not yet projected)."""
    cols = _cached_stage_cols(("toip", prefix),
                              lambda: _canonical_pipe("h"), prefix)
    df, added = _apply_staged(df, cols, env)
    key = ("toip_out", prefix)
    out = _STAGE_COL_CACHE.get(key)
    if out is None:
        out = _to_ip_final(_fixed_ref(prefix))
        _STAGE_COL_CACHE[key] = out
    return df, out, added


def stage_ip_prefix(df: DataFrame, env: dict[str, str], v4len: int,
                    v6len: int,
                    prefix: str) -> tuple[DataFrame, Column, list[str]]:
    """IP_PREFIX over an already-staged parse: family-picked mask on the
    hex32 value, then the shared canonical renderer on the masked
    nibbles (no re-parse — the masked value is valid by construction)."""
    mh, fn = _mask_pick_stage(v4len, v6len)
    # fresh env copy: the render stages (harr/bitmap/bs) are PER masked
    # value — they must not collide with a TO_IP render on the raw h.
    # The column NAMES collide by design (prefix+harr twice is fine:
    # withColumn shadows, and each consumer was resolved against the
    # projection level below it), but the env must keep them separate.
    env2 = dict(env)
    cols = _cached_stage_cols(("prefix", prefix, v4len, v6len),
                              lambda: [(mh, fn)] + _canonical_pipe(mh), prefix)
    df, added = _apply_staged(df, cols, env2)
    key = ("prefix_out", prefix, v4len, v6len)
    out = _STAGE_COL_CACHE.get(key)
    if out is None:
        r = _fixed_ref(prefix)
        out = F.when(r("h").isNotNull(), _canonical_out(r, mh))
        _STAGE_COL_CACHE[key] = out
    return df, out, added


def cidr_match_on_hex(h: Column,
                      blocks: list[tuple[str, int, list[str]]]) -> Column:
    """The CIDR membership test over a hex32 Column: per block a
    fixed-length prefix compare plus an allowed-chars probe for a
    non-nibble-aligned prefix; invalid (null) addresses never match."""
    cond = None
    for pref, nib, allowed in blocks:
        this = (F.substring(h, 1, nib) == F.lit(pref)) if nib \
            else F.lit(True)
        if allowed:
            this = this & F.substring(h, nib + 1, 1).isin(allowed)
        cond = this if cond is None else (cond | this)
    return h.isNotNull() & cond


# ---------------------------------------------------------------------------
# DuckDB twins (unchanged by the r11 Spark-side rebinding: the SQL is
# still generated from the same _RUNS list / constants, and the
# cross-engine property tests pin the two engines together).

def to_ip_sql(expr: str) -> str:
    """DuckDB SQL computing the identical canonicalization of ``expr``.

    Emitted as a self-contained scalar subquery so it can sit in any
    SELECT list; the run search is the same generated 28-case priority
    list as the Spark side."""
    conds = []
    for s, l in _RUNS:
        zs = " AND ".join(f"h[{k}] = '0'" for k in range(s, s + l))
        conds.append(f"WHEN {zs} THEN {{'s': {s}, 'l': {l}}}")
    case = "CASE " + " ".join(conds) + " ELSE {'s': 0, 'l': 0} END"
    return f"""(
WITH _i0 AS (SELECT lower(trim({expr})) AS lc0),
_iq AS (SELECT lc0, regexp_extract(lc0, '{_V4_TAIL_RE}', 1) AS quad
        FROM _i0),
_io AS (SELECT lc0, quad,
          CASE WHEN quad <> ''
               THEN list_transform(str_split(quad, '.'), x -> x::BIGINT)
          END AS o
        FROM _iq),
_i AS (SELECT CASE WHEN contains(lc0, ':') AND quad <> ''
         THEN regexp_replace(lc0, '{_V4_TAIL_RE}', '') || ':' ||
              -- DuckDB to_hex is UPPERCASE (Spark conv too — both sides
              -- lower() explicitly)
              lower(to_hex(o[1] * 256 + o[2])) || ':' ||
              lower(to_hex(o[3] * 256 + o[4]))
         ELSE lc0 END AS lc FROM _io),
_p AS (SELECT lc, str_split(lc, '::') AS parts FROM _i),
_g AS (SELECT lc, len(parts) AS ndc,
         CASE WHEN parts[1] = '' THEN []
              ELSE str_split(parts[1], ':') END AS lg,
         CASE WHEN len(parts) = 2 AND parts[2] <> ''
              THEN str_split(parts[2], ':') ELSE [] END AS rg
       FROM _p),
_v AS (SELECT lc, ndc, lg, rg, len(lg) + len(rg) AS n FROM _g),
_h AS (SELECT lc,
         list_transform(
           lg || list_transform(range(8 - n), x -> '0') || rg,
           x -> regexp_replace(lpad(x, 4, '0'), '^0{{1,3}}', '')) AS h,
         (contains(lc, ':') AND ndc <= 2
          AND ((ndc = 1 AND n = 8) OR (ndc = 2 AND n <= 7))
          AND len(list_filter(lg || rg,
                x -> NOT regexp_matches(x, '^[0-9a-f]{{1,4}}$'))) = 0)
           AS ok6
       FROM _v),
_r AS (SELECT lc, ok6, h, {case} AS b FROM _h),
_o AS (SELECT lc, ok6,
         CASE WHEN h[1:6] = ['0', '0', '0', '0', '0', 'ffff'] THEN
           -- IPv4-mapped value renders as the dotted quad (Java/ES)
           (('0x' || h[7])::BIGINT // 256)::VARCHAR || '.' ||
           (('0x' || h[7])::BIGINT % 256)::VARCHAR || '.' ||
           (('0x' || h[8])::BIGINT // 256)::VARCHAR || '.' ||
           (('0x' || h[8])::BIGINT % 256)::VARCHAR
         WHEN b.l >= 2 THEN
           -- DuckDB array_to_string([]) is NULL, not '' — coalesce both
           -- flanks so '::1' / '1::' / '::' render
           coalesce(array_to_string(h[1:b.s - 1], ':'), '') || '::' ||
           coalesce(array_to_string(h[b.s + b.l:8], ':'), '')
         ELSE array_to_string(h, ':') END AS canon6
       FROM _r)
SELECT CASE
  WHEN regexp_matches(lc, '{IPV4_RE}') THEN lc
  WHEN ok6 THEN canon6
END FROM _o)"""


def ip_hex32_sql(expr: str) -> str:
    """DuckDB scalar subquery computing the identical 32-nibble
    encoding of ``expr`` (v4 mapped), for CIDR oracle twins."""
    return f"""(
WITH _i0 AS (SELECT lower(trim({expr})) AS lc0),
_iq AS (SELECT lc0, regexp_extract(lc0, '{_V4_TAIL_RE}', 1) AS quad
        FROM _i0),
_io AS (SELECT lc0, quad,
          CASE WHEN quad <> ''
               THEN list_transform(str_split(quad, '.'), x -> x::BIGINT)
          END AS o
        FROM _iq),
_i AS (SELECT CASE WHEN contains(lc0, ':') AND quad <> ''
         THEN regexp_replace(lc0, '{_V4_TAIL_RE}', '') || ':' ||
              lower(to_hex(o[1] * 256 + o[2])) || ':' ||
              lower(to_hex(o[3] * 256 + o[4]))
         ELSE lc0 END AS lc FROM _io),
_p AS (SELECT lc, str_split(lc, '::') AS parts FROM _i),
_g AS (SELECT lc, len(parts) AS ndc,
         CASE WHEN parts[1] = '' THEN []
              ELSE str_split(parts[1], ':') END AS lg,
         CASE WHEN len(parts) = 2 AND parts[2] <> ''
              THEN str_split(parts[2], ':') ELSE [] END AS rg
       FROM _p),
_v AS (SELECT lc, ndc, lg, rg, len(lg) + len(rg) AS n FROM _g),
_h AS (SELECT lc,
         array_to_string(list_transform(
           lg || list_transform(range(8 - n), x -> '0') || rg,
           x -> lpad(x, 4, '0')), '') AS hex32,
         (contains(lc, ':') AND ndc <= 2
          AND ((ndc = 1 AND n = 8) OR (ndc = 2 AND n <= 7))
          AND len(list_filter(lg || rg,
                x -> NOT regexp_matches(x, '^[0-9a-f]{{1,4}}$'))) = 0)
           AS ok6
       FROM _v)
SELECT CASE
  WHEN regexp_matches(lc, '{IPV4_RE}') THEN
    '00000000000000000000ffff' ||
    lpad(lower(to_hex(
      list_transform(str_split(lc, '.'), x -> x::BIGINT)[1] * 16777216
      + list_transform(str_split(lc, '.'), x -> x::BIGINT)[2] * 65536
      + list_transform(str_split(lc, '.'), x -> x::BIGINT)[3] * 256
      + list_transform(str_split(lc, '.'), x -> x::BIGINT)[4])), 8, '0')
  WHEN ok6 THEN hex32
END FROM _h)"""


def cidr_block_hex(cidr: str) -> tuple[str, int]:
    """(network hex32, mapped prefix bits) of a CIDR literal — IPv4
    blocks map into ``::ffff:0:0/96`` (prefix + 96), matching the
    column encoding. Raises ValueError on malformed blocks."""
    import ipaddress

    net = ipaddress.ip_network(cidr, strict=False)
    if isinstance(net, ipaddress.IPv4Network):
        v4 = int(net.network_address)
        return ("00000000000000000000ffff" + format(v4, "08x"),
                net.prefixlen + 96)
    return (format(int(net.network_address), "032x"), net.prefixlen)


def cidr_match_hex_conds(cidr: str) -> tuple[str, int, list[str]]:
    """Compile a CIDR block into (full-nibble prefix, nibble count,
    allowed chars for the partial nibble — empty list when the prefix
    ends on a nibble boundary). Shared by the Spark compiler and the
    SQL twin generator so both engines run the identical test."""
    net_hex, bits = cidr_block_hex(cidr)
    nib, rem = divmod(bits, 4)
    if rem == 0:
        return net_hex[:nib], nib, []
    want = int(net_hex[nib], 16) >> (4 - rem)
    allowed = [d for d in "0123456789abcdef"
               if int(d, 16) >> (4 - rem) == want]
    return net_hex[:nib], nib, allowed


def cidr_match_sql_cond(hcol: str, cidr: str) -> str:
    """DuckDB boolean expression testing the hex32 column ``hcol``
    against one CIDR block — generated from the SAME compiled prefix as
    the Spark side (:func:`cidr_match_hex_conds`), no hand-translation."""
    pref, nib, allowed = cidr_match_hex_conds(cidr)
    parts = []
    if nib:
        parts.append(f"substr({hcol}, 1, {nib}) = '{pref}'")
    if allowed:
        opts = ", ".join(f"'{a}'" for a in allowed)
        parts.append(f"substr({hcol}, {nib + 1}, 1) IN ({opts})")
    if not parts:
        parts = ["TRUE"]
    return "(" + " AND ".join(parts) + ")"


def mask_hex32_col(h: Column, bits: int) -> Column:
    """hex32 with everything past the first ``bits`` bits zeroed:
    compile-time nibble split, the partial nibble masked via a 16-char
    ``translate`` map — all whole-stage-codegen string ops."""
    nib, rem = divmod(bits, 4)
    parts: list[Column] = []
    if nib:
        parts.append(F.substring(h, 1, nib))
    used = nib
    if rem:
        mapped = "".join(
            format((int(d, 16) >> (4 - rem)) << (4 - rem), "x")
            for d in "0123456789abcdef")
        parts.append(F.translate(F.substring(h, nib + 1, 1),
                                 "0123456789abcdef", mapped))
        used += 1
    if used < 32:
        parts.append(F.lit("0" * (32 - used)))
    return parts[0] if len(parts) == 1 else F.concat(*parts)


def mask_hex32_sql(hexpr: str, bits: int) -> str:
    """DuckDB expression: the identical mask over a hex32 expression."""
    nib, rem = divmod(bits, 4)
    parts: list[str] = []
    if nib:
        parts.append(f"substr({hexpr}, 1, {nib})")
    used = nib
    if rem:
        mapped = "".join(
            format((int(d, 16) >> (4 - rem)) << (4 - rem), "x")
            for d in "0123456789abcdef")
        parts.append(f"translate(substr({hexpr}, {nib + 1}, 1), "
                     f"'0123456789abcdef', '{mapped}')")
        used += 1
    if used < 32:
        parts.append(f"'{'0' * (32 - used)}'")
    return parts[0] if len(parts) == 1 else "(" + " || ".join(parts) + ")"


def hex32_to_hextets_sql(hexpr: str) -> str:
    return " || ':' || ".join(f"substr({hexpr}, {1 + 4 * i}, 4)"
                              for i in range(8))


def ip_prefix_sql(expr: str, v4len: int, v6len: int) -> str:
    """DuckDB scalar subquery: the identical IP_PREFIX(ip, v4len,
    v6len) — hex32, family-picked mask, canonical re-render."""
    m4 = mask_hex32_sql("h", 96 + v4len)
    m6 = mask_hex32_sql("h", v6len)
    return f"""(
WITH _hh AS (SELECT {ip_hex32_sql(expr)} AS h),
_mm AS (SELECT CASE WHEN substr(h, 1, 24) = '{MAPPED_PREFIX}'
                    THEN {m4} ELSE {m6} END AS m
        FROM _hh WHERE h IS NOT NULL)
SELECT {to_ip_sql(hex32_to_hextets_sql('m'))} FROM _mm)"""
