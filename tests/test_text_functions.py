"""Reference-fidelity unit tests for the text transforms.

Each case mirrors a row of FIXTURES.md §2 — the reference's subtlest
behaviors (NULL semantics of the merge, the 2/1/0-match regex
branches, accent stripping, empty→NULL), cited to
``/root/reference/src/kafka_client/transformations.py``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pipeline_dataengineer_spark.functions.text import (
    merge_columns,
    normalize_empty_to_null,
    split_commercialisation_dates,
    sql_literal as lit,
    strip_accents,
)

NULL = "CAST(NULL AS STRING)"


def _one(spark, expr):
    return spark.range(1).select(expr.alias("v")).collect()[0]["v"]


def test_strip_accents_basic(spark):
    # transformations.py:44-48 (unidecode)
    assert _one(spark, strip_accents(lit("Épicerie sucrée"))) == "Epicerie sucree"


def test_strip_accents_multichar(spark):
    assert _one(spark, strip_accents(lit("œuf Æon straße"))) == "oeuf AEon strasse"


def test_strip_accents_passthrough(spark):
    assert _one(spark, strip_accents(lit("plain ASCII 123!"))) == "plain ASCII 123!"


def test_strip_accents_greek(spark):
    # full-BMP NFD + Greek base-letter table (unidecode breadth)
    assert _one(spark, strip_accents(lit("Ελληνικά κείμενα"))) == "Ellenika keimena"
    assert _one(spark, strip_accents(lit("Θεσσαλονίκη"))) == "Thessalonike"
    assert _one(spark, strip_accents(lit("φυσική ψυχή"))) == "phusike psukhe"


def test_strip_accents_cyrillic(spark):
    assert (
        _one(spark, strip_accents(lit("Москва и Санкт-Петербург")))
        == "Moskva i Sankt-Peterburg"
    )
    # documented divergences from unidecode: ё→e (NFD base), ъ dropped
    assert _one(spark, strip_accents(lit("Хрущёв объявил"))) == "Khrushchev obiavil"


def test_strip_accents_decomposed_input(spark):
    # NFD-decomposed input (base letter + combining mark) normalizes
    # identically to the precomposed form: the combining block 0300-036F
    # is deleted by the translate map.
    decomposed = "étude"  # e + COMBINING ACUTE
    assert _one(spark, strip_accents(lit(decomposed))) == "etude"


def test_strip_accents_matches_unidecode_when_available(spark):
    # Property check vs the reference's actual library, gated on its
    # presence (not in the pinned container). Divergences documented in
    # text.py are excluded.
    try:
        from unidecode import unidecode
    except ImportError:
        import pytest

        pytest.skip("unidecode not installed in this container")
    samples = [
        "Épicerie sucrée à côté", "œuf Æon straße", "Žluťoučký kůň",
        "Ελληνικά κείμενα", "Москва и Петербург", "naïve façade",
    ]
    got = [
        r["v"]
        for r in spark.createDataFrame([(s,) for s in samples], ["s"])
        .select(strip_accents("s").alias("v"))
        .collect()
    ]
    for s, g in zip(samples, got):
        assert g == unidecode(s), s


def test_empty_to_null(spark):
    # transformations.py:56-58 — falsy → None, not ""
    assert _one(spark, normalize_empty_to_null(lit(""))) is None
    assert _one(spark, normalize_empty_to_null(lit("x"))) == "x"
    assert _one(spark, normalize_empty_to_null(NULL)) is None


def test_merge_both_present(spark):
    # transformations.py:13-17 — joined with \n
    got = _one(spark, merge_columns(lit("Listeria"), lit("voir fiche")))
    assert got == "Listeria\nvoir fiche"


def test_merge_one_present(spark):
    # no leading/trailing separator
    assert _one(spark, merge_columns(NULL, lit("voir fiche"))) == "voir fiche"
    assert _one(spark, merge_columns(lit("Listeria"), NULL)) == "Listeria"


def test_merge_both_absent_is_null(spark):
    # transformations.py:18 — the case concat_ws alone gets wrong ("")
    assert _one(spark, merge_columns(NULL, NULL)) is None
    assert _one(spark, merge_columns(lit(""), lit(""))) is None


def test_merge_caller_separator_with_quote_and_backslash(spark):
    # a caller's sep is rendered without escapes, so it survives either
    # string-literal parser setting
    key = "spark.sql.parser.escapedStringLiterals"
    before = spark.conf.get(key)
    try:
        for escaped in ("false", "true"):
            spark.conf.set(key, escaped)
            got = _one(spark, merge_columns(lit("a"), lit("b"), sep=" \\' \\n"))
            assert got == "a \\' \\nb"
    finally:
        spark.conf.set(key, before)


def _split(spark, text):
    s, e = split_commercialisation_dates(NULL if text is None else lit(text))
    row = spark.range(1).select(s.alias("s"), e.alias("e")).collect()[0]
    return row["s"], row["e"]


def test_split_two_dates(spark):
    # transformations.py:33-35
    assert _split(spark, "Du 01/02/2024 au 15/03/2024") == ("01/02/2024", "15/03/2024")


def test_split_depuis(spark):
    # transformations.py:36-38
    assert _split(spark, "Depuis le 01/02/2024") == ("01/02/2024", None)


def test_split_jusqu(spark):
    # transformations.py:39-40
    assert _split(spark, "Jusqu'au 15/03/2024") == (None, "15/03/2024")


def test_split_no_match(spark):
    # fall-through :33-41 and missing field :26-27
    assert _split(spark, "courant 2024") == (None, None)
    assert _split(spark, None) == (None, None)


def test_split_three_dates_is_null(spark):
    assert _split(spark, "01/01/2020 02/02/2021 03/03/2022") == (None, None)


def test_split_one_date_no_keyword(spark):
    assert _split(spark, "vendu le 01/02/2024 en magasin") == (None, None)


def test_gopher_rules_individual_gates(spark):
    from pipeline_dataengineer_spark.functions.textstats import gopher_rules

    prose = "the quick brown fox jumps over a lazy dog near the riverbank " * 10
    rows = [
        (1, prose),                                # passes everything
        (2, "short text only"),                    # too few words
        (3, ("#tag " * 120) + prose),              # symbol ratio blown
        (4, ("12345 " * 200)),                     # no alpha words, no stopwords
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    g = gopher_rules(F.col("text"), min_words=50, stopwords=("the", "a"),
                     min_stopword_hits=2)
    out = {r["id"]: r["g"] for r in df.select("id", g.alias("g")).collect()}
    assert out[1]["passes"] is True
    assert out[2]["passes"] is False and out[2]["n_words"] == 3
    assert out[3]["passes"] is False
    assert out[3]["symbol_word_ratio"] > 0.1
    assert out[4]["passes"] is False
    assert out[4]["alpha_word_frac"] == 0.0 and out[4]["stopword_hits"] == 0


def test_normalize_punctuation_ascii_canonical(spark):
    from pipeline_dataengineer_spark.functions.text import (
        normalize_punctuation,
    )

    rows = [
        (1, "“Smart” ‘quotes’ — and spaces…"),
        (2, "zero​width‌gone"),
        (3, "plain ascii stays"),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    got = {
        r["id"]: r["n"]
        for r in df.select(
            "id", normalize_punctuation("t").alias("n")
        ).collect()
    }
    assert got[1] == '"Smart" \'quotes\' - and spaces...'
    assert got[2] == "zerowidthgone"
    assert got[3] == "plain ascii stays"
