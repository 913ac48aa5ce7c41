"""Text/string column functions.

Re-expresses the reference's row-level Python transforms
(``src/kafka_client/transformations.py``) as JVM-side expressions —
one ``select`` projection instead of a per-row dict ``map``, so
whole-stage codegen applies and nothing crosses the Python boundary
in the hot path.

The four recall transforms (``strip_accents``,
``normalize_empty_to_null``, ``merge_columns``,
``split_commercialisation_dates``) are SQL text, and take a column
name or a SQL expression string; the ``strip_accents`` chain is
generated once, when the module loads.
Built as Column calls, every expression node is one py4j round trip:
``strip_accents`` alone is 35 ``replace`` calls plus a 977-character
``translate``, and the recall projection took about 8,400 py4j
commands (1.4 CPU-s) to build. As text the same projection is one
``selectExpr`` that the JVM parses in a single call. The text parses
to the same tree whatever ``spark.sql.parser.escapedStringLiterals``
says: it holds no backslash escape, and any string that is not plain
printable text goes through :func:`sql_literal`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Transliteration maps matching the breadth of the reference's
# unidecode call (``src/kafka_client/transformations.py:44-48``).
# The 1:1 map is generated from full NFD over the whole BMP (char →
# stripped base letter), so Latin Extended Additional, precomposed
# Greek (ά…), and precomposed Cyrillic (й, ё…) all resolve to their
# base letters; Greek and Cyrillic base letters then transliterate to
# Latin through explicit ALA-LC-style tables. Multi-char expansions
# (æ→ae, θ→th, щ→shch, …) go through chained literal `replace`s.
# Documented divergences from unidecode: ё→e and й→i (NFD base wins
# over unidecode's io/i); ъ/ь are dropped instead of apostrophes;
# uppercase digraphs are title-case (Th, Sh).

_GREEK_1TO1 = {
    "α": "a", "β": "b", "γ": "g", "δ": "d", "ε": "e", "ζ": "z", "η": "e",
    "ι": "i", "κ": "k", "λ": "l", "μ": "m", "ν": "n", "ξ": "x", "ο": "o",
    "π": "p", "ρ": "r", "σ": "s", "ς": "s", "τ": "t", "υ": "u", "ω": "o",
}
_GREEK_MULTI = {"θ": "th", "φ": "ph", "χ": "kh", "ψ": "ps"}
_CYRILLIC_1TO1 = {
    "а": "a", "б": "b", "в": "v", "г": "g", "д": "d", "е": "e", "з": "z",
    "и": "i", "й": "i", "к": "k", "л": "l", "м": "m", "н": "n", "о": "o",
    "п": "p", "р": "r", "с": "s", "т": "t", "у": "u", "ф": "f", "ы": "y",
    "э": "e",
}
_CYRILLIC_MULTI = {
    "ж": "zh", "х": "kh", "ц": "ts", "ч": "ch", "ш": "sh", "щ": "shch",
    "ю": "iu", "я": "ia", "ё": "io",
}
_CYRILLIC_DROP = {"ъ", "ь"}

_EXTRA_1TO1 = {"ł": "l", "Ł": "L", "ø": "o", "Ø": "O", "đ": "d", "Đ": "D",
               "ħ": "h", "Ħ": "H", "ŧ": "t", "Ŧ": "T", "ı": "i"}


def _build_translit_maps() -> tuple[str, str, list[tuple[str, str]]]:
    """(translate_src, translate_dst, multi_replacements).

    translate_src may be LONGER than translate_dst: Spark's
    `translate` deletes src chars with no dst counterpart, which
    handles combining diacritical marks (so decomposed input like
    'e'+U+0301 also normalizes) and the dropped Cyrillic signs.
    """
    import unicodedata

    base_map: dict[str, str] = {}
    for d in (_GREEK_1TO1, _CYRILLIC_1TO1, _GREEK_MULTI, _CYRILLIC_MULTI):
        base_map.update(d)
    for ch in _CYRILLIC_DROP:
        base_map[ch] = ""
    for k, v in list(base_map.items()):
        ku = k.upper()
        if ku != k and len(ku) == 1 and ku not in base_map:
            base_map[ku] = v.upper() if len(v) <= 1 else v.capitalize()

    one: dict[str, str] = dict(_EXTRA_1TO1)
    multi: dict[str, str] = {}
    drop: list[str] = []
    for cp in range(0x00A0, 0x10000):
        if 0xD800 <= cp <= 0xDFFF:
            continue
        ch = chr(cp)
        cat = unicodedata.category(ch)
        if cat == "Mn":
            # Delete combining diacritics (the classic block covers
            # Latin/Greek/Cyrillic text); deleting Indic/Arabic marks
            # would destroy meaning, so leave other blocks alone.
            if 0x0300 <= cp <= 0x036F:
                drop.append(ch)
            continue
        base = "".join(
            c
            for c in unicodedata.normalize("NFD", ch)
            if unicodedata.category(c) != "Mn"
        )
        if len(base) != 1 or ch in one or ch in multi:
            continue
        if base.isascii():
            if base != ch and base.isalpha():
                one[ch] = base
        elif base in base_map:
            t = base_map[base]
            if len(t) == 1:
                one[ch] = t
            elif t == "":
                drop.append(ch)
            else:
                multi[ch] = t
    src = "".join(one) + "".join(drop)
    dst = "".join(one.values())
    multis = [("æ", "ae"), ("Æ", "AE"), ("œ", "oe"), ("Œ", "OE"), ("ß", "ss")]
    multis += sorted(multi.items())
    return src, dst, multis


_ACCENT_SRC, _ACCENT_DST, _MULTI = _build_translit_maps()


def sql_literal(s: str) -> str:
    """SQL text for the string ``s`` that holds no escape sequence, so
    it parses to ``s`` under either setting of
    ``spark.sql.parser.escapedStringLiterals``: a plain quoted literal
    when ``s`` is printable and holds no quote or backslash, else the
    UTF-8 bytes in hex (constant-folded by the optimizer)."""
    if s.isprintable() and "'" not in s and "\\" not in s:
        return f"'{s}'"
    return f"decode(unhex('{s.encode().hex()}'), 'UTF-8')"


def _sql_arg(x: object) -> str:
    if not isinstance(x, str):
        raise TypeError(
            f"expected a column name or SQL expression string, got {type(x).__name__}"
        )
    return x


# The *_sql functions below return the SQL text of a recall transform
# over the SQL expression text ``x`` (``a``, ``b``); the Column
# functions after them, and transform_recall_records' selectExpr, use
# them. translate(replace(...replace(x, 'æ', 'ae')...), src, dst) is
# _STRIP_HEAD + x + _STRIP_TAIL.
_STRIP_HEAD = "translate(" + "replace(" * len(_MULTI)
_STRIP_TAIL = "".join(f", {sql_literal(a)}, {sql_literal(b)})" for a, b in _MULTI) + (
    f", {sql_literal(_ACCENT_SRC)}, {sql_literal(_ACCENT_DST)})"
)
# dd/mm/yyyy with no backslash escape (Java's \d is ASCII-only too)
_DDMMYYYY = "'([0-9]{2}/[0-9]{2}/[0-9]{4})'"


def strip_accents_sql(x: str) -> str:
    return _STRIP_HEAD + x + _STRIP_TAIL


def empty_to_null_sql(x: str) -> str:
    return f"nullif({x}, '')"


def merge_columns_sql(a: str, b: str, sep: str = "\n") -> str:
    return empty_to_null_sql(
        f"concat_ws({sql_literal(sep)}, {empty_to_null_sql(a)}, {empty_to_null_sql(b)})"
    )


def commercialisation_dates_sql(x: str) -> tuple[str, str]:
    m = f"regexp_extract_all({x}, {_DDMMYYYY}, 1)"
    n = f"size({m})"

    def one_date_with(word: str) -> str:
        return f"{n} = 1 AND contains(lower({x}), '{word}')"

    start = f"CASE WHEN {n} = 2 THEN {m}[0] WHEN {one_date_with('depuis le')} THEN {m}[0] END"
    end = f"CASE WHEN {n} = 2 THEN {m}[1] WHEN {one_date_with('jusqu')} THEN {m}[0] END"
    return start, end


def strip_accents(x: str) -> Column:
    """Accent/script transliteration (reference A6,
    ``src/kafka_client/transformations.py:44-48``).

    JVM-side: one `translate` for 1:1 mappings and combining-mark
    deletion + literal `replace`s for the multi-char expansions. No
    Python UDF — at 100 TB the per-row Python serde of unidecode
    would dominate; `translate`/`replace` stay inside whole-stage
    codegen.
    """
    return F.expr(strip_accents_sql(_sql_arg(x)))


def normalize_empty_to_null(x: str) -> Column:
    """Falsy string → NULL (reference semantics: missing/empty source
    values become None, not "" — ``transformations.py:56-58``)."""
    return F.expr(empty_to_null_sql(_sql_arg(x)))


def merge_columns(a: str, b: str, sep: str = "\n") -> Column:
    """Null-aware two-column merge (reference A7,
    ``src/kafka_client/transformations.py:6-21``).

    Semantics `concat_ws` alone gets wrong: both-NULL must yield NULL
    (concat_ws yields ""), one-NULL yields the other value with no
    separator (concat_ws gets this right), both present joins with
    `sep`. Empty strings are treated as NULL first, matching the
    reference's falsy checks.
    """
    return F.expr(merge_columns_sql(_sql_arg(a), _sql_arg(b), sep))


def split_commercialisation_dates(x: str) -> tuple[Column, Column]:
    """Regex date-range split (reference A8,
    ``src/kafka_client/transformations.py:24-41``).

    Extract dd/mm/yyyy occurrences from free text; exactly 2 matches →
    (start, end); exactly 1 match → start if the text contains
    "depuis le", end if it contains "jusqu"; anything else → (NULL,
    NULL). All JVM-side via regexp_extract_all + conditional chain.
    """
    start, end = commercialisation_dates_sql(_sql_arg(x))
    return F.expr(start), F.expr(end)


# Smart punctuation -> ASCII map (the corpus-cleaning companion to
# strip_accents: web text arrives with typographic quotes, en/em
# dashes, ellipsis, NBSP-family spaces; models and dedup keys want
# one canonical form). Single-char translations ride ONE translate
# call; the multi-char expansions (ellipsis, quotes that widen) are
# a short regexp_replace chain. All Java-regex/RE2-portable.
_PUNCT_ONE = {
    "‘": "'", "’": "'", "‚": "'", "‛": "'",
    "“": '"', "”": '"', "„": '"', "‟": '"',
    "–": "-", "—": "-", "―": "-", "−": "-",
    " ": " ", " ": " ", " ": " ", " ": " ",
    " ": " ", " ": " ", " ": " ", "　": " ",
    "´": "'", "ʼ": "'", "′": "'", "″": '"',
}


def normalize_punctuation(col: Column | str) -> Column:
    """Canonicalize typographic punctuation to ASCII: curly quotes,
    primes, dash family, ellipsis, and the unicode space family;
    zero-width characters are deleted. One translate + three
    regexp_replace — a fused codegen projection, no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    src = "".join(_PUNCT_ONE.keys())
    dst = "".join(_PUNCT_ONE.values())
    out = F.translate(c, src, dst)
    out = F.regexp_replace(out, "…", "...")
    # zero-width space/joiner/non-joiner + BOM: delete
    out = F.regexp_replace(out, "[​‌‍﻿]", "")
    # collapse the space runs normalization can create
    return F.regexp_replace(out, " {2,}", " ")


def jaro_winkler(s1, s2):
    """Jaro-Winkler similarity in [0, 1] as an Arrow-vectorized
    pandas_udf — the fuzzy-matching staple for names/short strings
    (prefix-weighted: p = 0.1, max common prefix 4, boost only above
    the classic 0.7 threshold, FLOOR-halved transpositions — the same
    conventions DuckDB's jaro_winkler_similarity implements, so the
    q_jaro contract query hash-checks this code against an
    independent engine; fuzzed to 0 mismatches over 10k random
    pairs). NULL in → NULL out; either side empty → 0.0.

    Per-pair cost is O(|a|·window); run it on BLOCKED candidate
    pairs (soundex/prefix/FastSS buckets), never all-pairs — the
    same contract as every similarity join here. The kernel lives in
    operators/_arrow_udfs.py (pandas_udf cannot decorate under
    ``from __future__ import annotations``)."""
    from pyspark.sql import functions as F

    from pipeline_dataengineer_spark.operators._arrow_udfs import (
        jaro_winkler_udf,
    )

    c1 = F.col(s1) if isinstance(s1, str) else s1
    c2 = F.col(s2) if isinstance(s2, str) else s2
    # asNondeterministic: the scorer IS deterministic, but without
    # the flag Catalyst pushes score-filters below a repartition and
    # re-evaluates the expensive kernel on BOTH sides of the exchange
    # (observed: the pushed copy ran in the pre-shuffle single task,
    # serializing the whole scoring pass). The flag pins exactly one
    # evaluation where the plan places it.
    return jaro_winkler_udf.asNondeterministic()(c1, c2)


def mojibake_candidate(col: Column | str, charset: str = "ISO-8859-1") -> Column:
    """The single-pass un-mangle candidate: re-encode the string as
    ``charset`` bytes and decode those bytes as UTF-8 — the inverse
    of the classic mojibake (UTF-8 bytes mis-read as Latin-1, turning
    'é' into 'Ã©'). NULL when the text cannot round-trip (some char
    exceeds the charset's repertoire, so encode would be lossy) or
    when the bytes are not valid UTF-8 (the decode surfaces U+FFFD).
    Pure JVM encode/decode — codegen, no UDF. Spark's ``encode``
    accepts only the standard charsets (US-ASCII, ISO-8859-1, UTF-8,
    UTF-16*); CP1252-specific mojibake (curly quotes → 'â€œ') is out
    of that set and stays unrepaired — detectable downstream because
    its signature chars (€, ™) exceed U+00FF.

    Spark 4's ANSI ``decode`` THROWS on malformed UTF-8, so validity
    is checked FIRST with ``is_valid_utf8`` over the re-encoded bytes
    (byte-reinterpret cast — never throws) and the decode runs only
    inside the passing CASE branch (conditional branches evaluate
    lazily per row in codegen)."""
    c = F.col(col) if isinstance(col, str) else col
    gate = c.rlike("^[\\x00-\\xff]*$")  # lossless into Latin-1
    as_bytes = F.encode(c, charset)
    valid = F.call_function("is_valid_utf8", as_bytes.cast("string"))
    return F.when(gate & valid, F.decode(as_bytes, "UTF-8"))


def fix_mojibake(
    col: Column | str, charset: str = "ISO-8859-1", passes: int = 1
) -> Column:
    """ftfy-style encoding repair (the fix_encoding core, re-expressed
    as one fused projection): if the text's ``charset`` bytes decode
    as VALID UTF-8 and that decoding changes the text, the text was
    almost certainly UTF-8 mis-read through ``charset`` — return the
    decoded form; otherwise return the input unchanged. Sound on the
    clean side by construction: pure-ASCII text round-trips to itself
    (no change), and genuinely accented ``charset`` text ('café' as
    Latin-1) produces invalid UTF-8 byte sequences, so neither is
    touched. Repeated application is idempotent once fixed. No
    shuffle, no UDF — safe to run over 100 TB as part of any cleaning
    projection (compose with ``clean_corpus``).

    ``passes`` unrolls the repair for MULTIPLY-mangled text (a
    re-crawl of an already-mangled page is mangled twice: 'é' →
    'Ã©' → 'Ã\\x83Â©'); each pass strips one encoding layer and a
    fixed text passes through untouched, so ``passes=2`` is ftfy's
    loop-to-fixpoint for the depth real corpora exhibit. The unroll
    is still one fused projection — no UDF, no extra pass over the
    data."""
    if passes < 1:
        raise ValueError("passes must be >= 1")
    c = F.col(col) if isinstance(col, str) else col
    out = c
    for _ in range(passes):
        cand = mojibake_candidate(out, charset)
        out = F.when(
            cand.isNotNull() & (cand != out) & out.isNotNull(), cand
        ).otherwise(out)
    return out


def is_mojibake(col: Column | str, charset: str = "ISO-8859-1") -> Column:
    """Boolean twin of :func:`fix_mojibake`: true when the repair
    would change the text — the detector a corpus-quality report
    aggregates (share of mangled docs per source/crawl)."""
    c = F.col(col) if isinstance(col, str) else col
    cand = mojibake_candidate(c, charset)
    return cand.isNotNull() & (cand != c) & c.isNotNull()
