"""RappelConso-shaped raw records and the sink they must produce.

``make_round`` draws one round of raw API records from ``(seed,
round)``. ``expected_sink`` computes, in plain Python and without the
engine, the rows the recall pipeline must leave in the sink after a
sequence of rounds: the reference's row transforms (accent stripping,
empty to NULL, NULL-aware two-column merges, the 2/1/0-match
commercialisation-date split), last-wins dedup per key within a round,
and an anti-join against every key already loaded, so a key keeps the
newest version from the first round that carried it.
"""

from __future__ import annotations

import random
import re
import unicodedata

# The sink's 25 columns (the recall pipeline's RECALL_COLUMNS), restated
# here so the expectation does not come from the code under test.
KEEP = [
    "reference_fiche",
    "liens_vers_les_images",
    "lien_vers_la_liste_des_produits",
    "lien_vers_la_liste_des_distributeurs",
    "lien_vers_affichette_pdf",
    "lien_vers_la_fiche_rappel",
    "date_de_publication",
    "date_de_fin_de_la_procedure_de_rappel",
]
NORMALIZE = [
    "categorie_de_produit",
    "sous_categorie_de_produit",
    "nom_de_la_marque_du_produit",
    "noms_des_modeles_ou_references",
    "identification_des_produits",
    "conditionnements",
    "temperature_de_conservation",
    "zone_geographique_de_vente",
    "distributeurs",
    "motif_du_rappel",
    "numero_de_contact",
    "modalites_de_compensation",
]
MERGES = {
    "risques_pour_le_consommateur": (
        "risques_encourus_par_le_consommateur",
        "description_complementaire_du_risque",
    ),
    "recommandations_sante": ("preconisations_sanitaires", "recommandations_sante"),
    "informations_complementaires": (
        "informations_complementaires",
        "informations_complementaires_publiques",
    ),
}
DATE_RANGE = "date_debut_fin_de_commercialisation"
SINK_COLUMNS = KEEP + NORMALIZE + [
    "risques_pour_le_consommateur",
    "recommandations_sante",
    "date_debut_commercialisation",
    "date_fin_commercialisation",
    "informations_complementaires",
]
RAW_COLUMNS = sorted(
    set(KEEP + NORMALIZE + [c for pair in MERGES.values() for c in pair])
    | {DATE_RANGE, "champ_inconnu"}
)

_WORDS = [
    "Épicerie", "sucrée", "Boissons", "Crèmerie", "fraîche", "Légumes",
    "surgelés", "Boulangerie", "Pâtisserie", "Viandes", "Œufs", "Maïs",
    "Fromage", "râpé", "Goûter", "Noël", "Crème", "brûlée", "Café", "Thé",
    "Liste", "Listeria", "Salmonelle", "corps", "étranger", "allergène",
    "non", "déclaré", "consulter", "médecin", "à", "la", "côte",
]
# every form of the commercialisation-date text: two dates, one date
# with "depuis le" or "jusqu", one bare date, none, three, empty, NULL
_DATE_FORMS = [
    "Du {a} au {b}",
    "du {a} jusqu'au {b}",
    "Commercialisé depuis le {a}",
    "Vendu jusqu'au {a}",
    "Lot du {a}",
    "Non communiqué",
    "{a}, {b} et {c}",
    "",
    None,
]
_MULTI = {"æ": "ae", "Æ": "AE", "œ": "oe", "Œ": "OE", "ß": "ss"}
_DDMMYYYY = re.compile(r"(\d{2}/\d{2}/\d{4})")


def _date(rng: random.Random) -> str:
    return f"{rng.randint(1, 28):02d}/{rng.randint(1, 12):02d}/{rng.randint(2021, 2025)}"


def _text(rng: random.Random) -> str | None:
    r = rng.random()
    if r < 0.12:
        return ""
    if r < 0.2:
        return None
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(1, 5)))


def _record(rng: random.Random, key: str, published: str) -> dict:
    rec = {c: _text(rng) for c in RAW_COLUMNS}
    rec["reference_fiche"] = key
    rec["date_de_publication"] = published
    rec["champ_inconnu"] = "dropped by the schema"
    form = rng.choice(_DATE_FORMS)
    rec[DATE_RANGE] = None if form is None else form.format(
        a=_date(rng), b=_date(rng), c=_date(rng)
    )
    return rec


def _published(rng: random.Random, round_no: int, i: int) -> str:
    # distinct within a round: the day carries the record's position
    return f"{2020 + round_no // 12:04d}-{round_no % 12 + 1:02d}-{1 + i % 28:02d}T{i // 28:02d}:{rng.randint(0, 59):02d}"


def make_round(seed: int, round_no: int, n: int) -> list[dict]:
    """``n`` raw records for one round. About a tenth re-send a key
    already made in this round with a later publication stamp, and
    about a tenth re-send a key from an earlier round."""
    rng = random.Random(seed * 1_000_003 + round_no)
    out: list[dict] = []
    fresh: list[str] = []
    for i in range(n):
        r = rng.random()
        if r < 0.1 and fresh:
            key = rng.choice(fresh)
        elif r < 0.2 and round_no > 0:
            key = f"RC-{seed}-{rng.randrange(round_no):04d}-{rng.randrange(n):05d}"
        else:
            key = f"RC-{seed}-{round_no:04d}-{i:05d}"
            fresh.append(key)
        out.append(_record(rng, key, _published(rng, round_no, i)))
    return out


# ---- the reference semantics, in plain Python ------------------------


def strip_accents(s: str | None) -> str | None:
    if s is None:
        return None
    for src, dst in _MULTI.items():
        s = s.replace(src, dst)
    return "".join(
        c for c in unicodedata.normalize("NFD", s) if unicodedata.category(c) != "Mn"
    )


def empty_to_null(s: str | None) -> str | None:
    return s if s else None


def merge(a: str | None, b: str | None) -> str | None:
    a, b = empty_to_null(a), empty_to_null(b)
    if a is None and b is None:
        return None
    return "\n".join(x for x in (a, b) if x is not None)


def split_dates(text: str | None) -> tuple[str | None, str | None]:
    if text is None:
        return None, None
    found = _DDMMYYYY.findall(text)
    low = text.lower()
    if len(found) == 2:
        return found[0], found[1]
    if len(found) == 1:
        start = found[0] if "depuis le" in low else None
        end = found[0] if "jusqu" in low else None
        return start, end
    return None, None


def transform(raw: dict) -> dict:
    out = {c: raw.get(c) for c in KEEP}
    for c in NORMALIZE:
        out[c] = empty_to_null(strip_accents(raw.get(c)))
    for c, (a, b) in MERGES.items():
        out[c] = empty_to_null(strip_accents(merge(raw.get(a), raw.get(b))))
    out["date_debut_commercialisation"], out["date_fin_commercialisation"] = split_dates(
        raw.get(DATE_RANGE)
    )
    return out


def expected_sink(rounds: list[list[dict]]) -> dict[str, dict]:
    """Key -> sink row after loading ``rounds`` in order."""
    sink: dict[str, dict] = {}
    for records in rounds:
        newest: dict[str, dict] = {}
        for rec in records:
            k = rec["reference_fiche"]
            if k not in newest or rec["date_de_publication"] > newest[k]["date_de_publication"]:
                newest[k] = rec
        for k, rec in newest.items():
            if k not in sink:
                sink[k] = transform(rec)
    return sink
