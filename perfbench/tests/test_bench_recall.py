"""The recall_stream expectation against the reference semantics that
``tests/test_recall_pipeline.py`` pins on the engine."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import recall  # noqa: E402


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


def test_transform_semantics():
    out = recall.transform(_raw_row("F1", "2024-04-18"))
    assert set(out) == set(recall.SINK_COLUMNS) and len(recall.SINK_COLUMNS) == 25
    assert out["categorie_de_produit"] == "Epicerie sucree"
    assert out["distributeurs"] is None
    assert out["risques_pour_le_consommateur"] == "Listeria\nvoir fiche"
    assert out["recommandations_sante"] == "consulter un medecin"
    assert out["date_debut_commercialisation"] == "01/02/2024"
    assert out["date_fin_commercialisation"] == "15/03/2024"
    assert out["conditionnements"] is None


def test_empty_merge_is_null_not_empty_string():
    assert recall.merge("", None) is None
    assert recall.merge(None, None) is None
    assert recall.merge("", "b") == "b"
    out = recall.transform(_raw_row("F1", "d", {
        "risques_encourus_par_le_consommateur": "",
        "description_complementaire_du_risque": ""}))
    assert out["risques_pour_le_consommateur"] is None


def test_date_split_two_one_zero_matches():
    assert recall.split_dates("Du 01/02/2024 au 15/03/2024") == ("01/02/2024", "15/03/2024")
    assert recall.split_dates("Commercialisé depuis le 03/04/2024") == ("03/04/2024", None)
    assert recall.split_dates("Vendu jusqu'au 12/05/2024") == (None, "12/05/2024")
    assert recall.split_dates("Lot du 12/05/2024") == (None, None)
    assert recall.split_dates("01/01/2024, 02/01/2024 et 03/01/2024") == (None, None)
    assert recall.split_dates("Non communiqué") == (None, None)
    assert recall.split_dates("") == (None, None)
    assert recall.split_dates(None) == (None, None)


def test_last_wins_within_a_batch_and_anti_join_across_batches():
    first = [
        _raw_row("F1", "2024-04-17", {"motif_du_rappel": "old"}),
        _raw_row("F1", "2024-04-18", {"motif_du_rappel": "new"}),
        _raw_row("F2", "2024-04-18"),
    ]
    sink = recall.expected_sink([first])
    assert {k: v["motif_du_rappel"] for k, v in sink.items()} == {"F1": "new", "F2": None}
    # the same batch again appends nothing
    assert recall.expected_sink([first, first]) == sink
    # partial overlap: only the new key lands, the old version of F2 stays
    second = [_raw_row("F2", "2024-04-19", {"motif_du_rappel": "later"}),
              _raw_row("F3", "2024-04-19")]
    sink2 = recall.expected_sink([first, second])
    assert sorted(sink2) == ["F1", "F2", "F3"]
    assert sink2["F2"]["motif_du_rappel"] is None


def test_rounds_are_seeded_and_carry_every_case():
    r0 = recall.make_round(7, 0, 200)
    assert r0 == recall.make_round(7, 0, 200)
    assert r0 != recall.make_round(8, 0, 200)
    r3 = recall.make_round(7, 3, 200)
    keys = [r["reference_fiche"] for r in r3]
    assert len(set(keys)) < len(keys)  # keys repeated within the round
    assert any("-0003-" not in k for k in keys)  # keys from earlier rounds
    for k in set(keys):
        stamps = [r["date_de_publication"] for r in r3 if r["reference_fiche"] == k]
        assert len(set(stamps)) == len(stamps)  # repeats carry distinct dates
    values = [v for r in r0 + r3 for v in r.values()]
    assert "" in values and None in values
    assert any(isinstance(v, str) and any(c in v for c in "éèàçœÉ") for v in values)
    forms = {recall.split_dates(r[recall.DATE_RANGE]) for r in r3}
    assert any(a and b for a, b in forms)
    assert any(a and not b for a, b in forms) and any(b and not a for a, b in forms)
    assert (None, None) in forms
