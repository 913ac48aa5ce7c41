"""End-to-end fidelity test of the recall-ingest pipeline: JSON
ingest → schema → transform → dedup → idempotent append, mirroring
the reference dataflow (``spark_streaming.py:53-92``)."""

from __future__ import annotations

import itertools
import json
import re

from pyspark.sql import functions as F

from pipeline_dataengineer_spark.functions.text import (
    _ACCENT_DST,
    _ACCENT_SRC,
    _MULTI,
    merge_columns,
    normalize_empty_to_null,
    split_commercialisation_dates,
    strip_accents,
)
from pipeline_dataengineer_spark.pipelines.recall_ingest import (
    _RAW_DATE_RANGE_COL,
    _RAW_MERGE_SOURCES,
    COLUMNS_TO_KEEP,
    COLUMNS_TO_NORMALIZE,
    RECALL_COLUMNS,
    ingest_batch,
    parse_json_records,
    transform_recall_records,
)


def _raw_df(spark, rows):
    """All-string schema (the reference's degenerate type system,
    SURVEY §1.2) — avoids inference failing on all-NULL columns."""
    keys = sorted({k for r in rows for k in r})
    data = [tuple(r.get(k) for k in keys) for r in rows]
    schema = ", ".join(f"{k} string" for k in keys)
    return spark.createDataFrame(data, schema=schema)


def _raw_row(ref, pub, extra=None):
    row = {
        "reference_fiche": ref,
        "date_de_publication": pub,
        "categorie_de_produit": "Épicerie sucrée",
        "distributeurs": "",
        "risques_encourus_par_le_consommateur": "Listeria",
        "description_complementaire_du_risque": "voir fiche",
        "preconisations_sanitaires": None,
        "recommandations_sante": "consulter un médecin",
        "date_debut_fin_de_commercialisation": "Du 01/02/2024 au 15/03/2024",
        "champ_inconnu": "dropped by schema",
    }
    row.update(extra or {})
    return row


def test_json_parse_drops_unknown_and_nulls_missing(spark):
    payloads = [json.dumps(_raw_row("F1", "2024-04-18"))]
    df = spark.createDataFrame([(p,) for p in payloads], ["value"])
    parsed = parse_json_records(df)
    assert parsed.columns == RECALL_COLUMNS
    row = parsed.collect()[0]
    assert row["reference_fiche"] == "F1"
    assert row["conditionnements"] is None  # missing → NULL


def test_transform_semantics(spark):
    df = _raw_df(spark, [_raw_row("F1", "2024-04-18")])
    out = transform_recall_records(df).collect()[0]
    assert out["categorie_de_produit"] == "Epicerie sucree"  # accent strip
    assert out["distributeurs"] is None  # empty → NULL
    assert out["risques_pour_le_consommateur"] == "Listeria\nvoir fiche"  # merge
    assert out["recommandations_sante"] == "consulter un medecin"  # one-side merge + strip
    assert out["date_debut_commercialisation"] == "01/02/2024"
    assert out["date_fin_commercialisation"] == "15/03/2024"


def test_ingest_dedup_and_idempotence(spark):
    batch = _raw_df(
        spark,
        [
            _raw_row("F1", "2024-04-17", {"motif_du_rappel": "old"}),
            _raw_row("F1", "2024-04-18", {"motif_du_rappel": "new"}),
            _raw_row("F2", "2024-04-18"),
        ],
    )
    batch = transform_recall_records(batch)
    empty = batch.limit(0)

    # last-wins within the batch (kafka_stream_data.py:78-79)
    first = ingest_batch(batch, empty)
    got = {r["reference_fiche"]: r["motif_du_rappel"] for r in first.collect()}
    assert got == {"F1": "new", "F2": None}

    # re-running the same batch against the now-populated sink → 0 rows
    rerun = ingest_batch(batch, first)
    assert rerun.count() == 0

    # partial overlap → only the new key lands
    batch2 = transform_recall_records(
        _raw_df(spark, [_raw_row("F2", "2024-04-19"), _raw_row("F3", "2024-04-19")])
    )
    second = ingest_batch(batch2, first)
    assert [r["reference_fiche"] for r in second.collect()] == ["F3"]


# ---- the SQL-text transforms against a plain-Python reference -------

# Spark's translate: the first mapping of a source char wins, and
# source chars past the end of the target are deleted
_TRANSLATE = {}
for _i, _ch in enumerate(_ACCENT_SRC):
    _TRANSLATE.setdefault(ord(_ch), _ACCENT_DST[_i] if _i < len(_ACCENT_DST) else None)


def _py_strip(s):
    if s is None:
        return None
    for a, b in _MULTI:
        s = s.replace(a, b)
    return s.translate(_TRANSLATE)


def _py_empty(s):
    return s or None


def _py_merge(a, b, sep="\n"):
    parts = [x for x in (a, b) if x]
    return sep.join(parts) if parts else None


def _py_split(text):
    # [0-9], not \d: Java's \d, like the engine's pattern, is ASCII-only
    dates = re.findall(r"([0-9]{2}/[0-9]{2}/[0-9]{4})", text or "")
    if len(dates) == 2:
        return dates[0], dates[1]
    low = (text or "").lower()
    if len(dates) == 1:
        return (dates[0] if "depuis le" in low else None,
                dates[0] if "jusqu" in low else None)
    return None, None


def _py_transform(raw):
    out = {c: raw.get(c) for c in COLUMNS_TO_KEEP}
    for c in COLUMNS_TO_NORMALIZE:
        out[c] = _py_empty(_py_strip(raw.get(c)))
    for c, (a, b) in _RAW_MERGE_SOURCES.items():
        out[c] = _py_empty(_py_strip(_py_merge(raw.get(a), raw.get(b))))
    out["date_debut_commercialisation"], out["date_fin_commercialisation"] = _py_split(
        raw.get(_RAW_DATE_RANGE_COL)
    )
    return out


_NASTY = (
    [f"{k.lower()}|{k.upper()}" for k, _ in _MULTI]
    + [
        "e\u0301tude", "A\u0308\u0304ng", "\u0438\u0306 \u0415\u0308",  # combining marks
        "l'été", "back\\slash", "100% sûr", "snake_case", "`tick`", "two\nlines",
        "'; --", "\\'", "''", "ъ", "", None,
    ]
)
_DATES = [
    "Depuis le 01/02/2024", "DEPUIS LE 01/02/2024", "Jusqu'au 15/03/2024",
    "depuis le 01/02/2024 jusqu'au", "Du 01/02/2024 au 15/03/2024",
    "01/01/2020 02/02/2021 03/03/2022", "courant 2024", "vendu le 01/02/2024",
    "1/2/2024 depuis le", "\u0660\u0661/\u0660\u0662/\u0662\u0660\u0662\u0664 depuis le",
    "", None,
]
_SIDES = [None, "", "x", "l'été\\"]
_RAW_COLUMNS = sorted(
    set(COLUMNS_TO_KEEP) | set(COLUMNS_TO_NORMALIZE) | {_RAW_DATE_RANGE_COL}
    | {c for pair in _RAW_MERGE_SOURCES.values() for c in pair}
)


def _nasty_raw_rows():
    """Every _MULTI key in both cases, decomposed marks, quotes,
    backslashes, LIKE wildcards, a backtick, a newline, the 0/1/2/3-date
    forms, and '' and NULL on each side of each merge."""
    sides = list(itertools.product(_SIDES, repeat=2))
    singles = [c for c in _RAW_COLUMNS if c != _RAW_DATE_RANGE_COL]
    rows = []
    for i in range(max(len(_NASTY), len(sides), len(_DATES))):
        row = {c: _NASTY[(i + j) % len(_NASTY)] for j, c in enumerate(singles)}
        for k, (a, b) in enumerate(_RAW_MERGE_SOURCES.values()):
            row[a], row[b] = sides[(i + k) % len(sides)]
        row[_RAW_DATE_RANGE_COL] = _DATES[i % len(_DATES)]
        rows.append(row)
    return rows


def _assert_matches_reference(spark):
    rows = _nasty_raw_rows()
    missing = {"lien_vers_affichette_pdf", "conditionnements", _RAW_DATE_RANGE_COL,
               "description_complementaire_du_risque"}
    for cols in (_RAW_COLUMNS, [c for c in _RAW_COLUMNS if c not in missing]):
        raw = spark.createDataFrame(
            [tuple(r[c] for c in cols) for r in rows], ", ".join(f"{c} string" for c in cols)
        )
        out = transform_recall_records(raw)
        assert out.columns == RECALL_COLUMNS
        got = [r.asDict() for r in out.collect()]
        want = [_py_transform({c: r[c] for c in cols}) for r in rows]
        assert got == want

    df = spark.createDataFrame(
        [(t, a, b) for t, (a, b) in zip(
            itertools.cycle(_NASTY + _DATES), itertools.product(_NASTY, _SIDES))],
        "t string, a string, b string",
    )
    start, end = split_commercialisation_dates("t")
    got = df.select(
        "t", "a", "b", strip_accents("t"), normalize_empty_to_null("t"), start, end,
        merge_columns("a", "b"),
    ).collect()
    for t, a, b, *fns in got:
        assert fns == [_py_strip(t), _py_empty(t), *_py_split(t), _py_merge(a, b)]


def test_transforms_match_python_reference_on_adversarial_rows(spark):
    _assert_matches_reference(spark)


def test_transforms_parse_alike_with_escaped_string_literals(spark):
    """The SQL text holds no backslash escape: with escape processing
    off, the same rows give the same answers."""
    key = "spark.sql.parser.escapedStringLiterals"
    before = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        _assert_matches_reference(spark)
    finally:
        spark.conf.set(key, before)


def test_transform_builds_in_few_py4j_calls(spark, monkeypatch):
    """The projection is one selectExpr over SQL text: building it takes
    a few dozen py4j commands (about 8,400 as Column calls)."""
    from py4j.clientserver import ClientServerConnection

    raw = spark.createDataFrame([], ", ".join(f"{c} string" for c in _RAW_COLUMNS))
    calls = 0
    send = ClientServerConnection.send_command

    def counted(self, command):
        nonlocal calls
        calls += 1
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    transform_recall_records(raw)
    monkeypatch.undo()
    assert 0 < calls <= 300
