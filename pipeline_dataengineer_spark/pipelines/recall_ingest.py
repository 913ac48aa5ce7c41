"""The reference's product-recall ingest pipeline, Spark-first.

Reproduces the full dataflow of ``antonyper/Pipeline-DataEngineer``:
JSON messages → schema application → row transforms → key dedup →
idempotent append (``src/kafka_client/transformations.py:64-85``,
``src/spark_pgsql/spark_streaming.py:53-92``) — but as ONE declarative
DataFrame plan per stage instead of per-row Python dicts, so the same
code runs on a 25-row unit test and a 100 TB backfill.

Key semantic differences from naive translations (all unit-tested):
- merge of two NULL/empty columns yields NULL, not "" (reference
  ``transformations.py:18``);
- regex date split has exactly the 2/1/0-match + "depuis le"/"jusqu"
  branches (``transformations.py:24-41``);
- empty strings become NULL during normalization
  (``transformations.py:56-58``);
- dedup keeps the LAST occurrence per key — made deterministic here
  by an explicit order column (the reference relied on Python dict
  insertion order, ``kafka_stream_data.py:78-79``);
- the existing-keys set is read per batch, fixing the reference's
  read-once quirk (``spark_streaming.py:73-75``).

The row transforms are built from SQL text (``functions/text.py``)
and applied in one ``selectExpr``: the JVM parses the 25 output
expressions in a single call. Built as Column calls they took about
8,400 py4j commands and 1.4 CPU-s of driver and JVM time per
DataFrame, the largest single cost of a recall stream round.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pipeline_dataengineer_spark.functions.text import (
    commercialisation_dates_sql,
    empty_to_null_sql,
    merge_columns_sql,
    strip_accents_sql,
)
from pipeline_dataengineer_spark.operators.incremental import idempotent_append

# Column groups mirroring the reference schema (``src/constants.py:24-57``).
COLUMNS_TO_KEEP = [
    "reference_fiche",
    "liens_vers_les_images",
    "lien_vers_la_liste_des_produits",
    "lien_vers_la_liste_des_distributeurs",
    "lien_vers_affichette_pdf",
    "lien_vers_la_fiche_rappel",
    "date_de_publication",
    "date_de_fin_de_la_procedure_de_rappel",
]
COLUMNS_TO_NORMALIZE = [
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
NEW_COLUMNS = [
    "risques_pour_le_consommateur",
    "recommandations_sante",
    "date_debut_commercialisation",
    "date_fin_commercialisation",
    "informations_complementaires",
]
RECALL_COLUMNS = COLUMNS_TO_KEEP + COLUMNS_TO_NORMALIZE + NEW_COLUMNS

# Raw-side columns consumed by the derivations (reference
# ``transformations.py:64-85``).
_RAW_MERGE_SOURCES = {
    "risques_pour_le_consommateur": ("risques_encourus_par_le_consommateur", "description_complementaire_du_risque"),
    "recommandations_sante": ("preconisations_sanitaires", "recommandations_sante"),
    "informations_complementaires": ("informations_complementaires", "informations_complementaires_publiques"),
}
_RAW_DATE_RANGE_COL = "date_debut_fin_de_commercialisation"


def recall_schema(columns: list[str] | None = None) -> T.StructType:
    """All-nullable-string schema applied at read time (reference
    ``spark_streaming.py:57-59``: schema-on-read, no inference)."""
    return T.StructType(
        [T.StructField(c, T.StringType(), True) for c in (columns or RECALL_COLUMNS)]
    )


def parse_json_records(
    df: DataFrame, value_col: str = "value", columns: list[str] | None = None
) -> DataFrame:
    """Kafka-shaped ingest: binary/string JSON → typed columns
    (reference A13-A15, ``spark_streaming.py:60-64``).

    Unknown JSON fields are silently dropped, missing fields become
    NULL — standard ``from_json`` semantics, matching the reference.
    Works identically on batch and streaming DataFrames.
    """
    schema = recall_schema(columns)
    return (
        df.select(F.col(value_col).cast("string").alias("__json"))
        .select(F.from_json("__json", schema).alias("data"))
        .select("data.*")
    )


def transform_recall_records(df: DataFrame) -> DataFrame:
    """The reference's whole row-transform layer (A5-A9) as a single
    projection — Catalyst fuses it into one whole-stage-codegen pass;
    nothing crosses the Python boundary.

    Input: raw API-shaped columns (31-ish). Output: the 25
    ``RECALL_COLUMNS``. The projection is one ``selectExpr`` over SQL
    text, so building it costs a few dozen py4j calls, not one per
    expression node.
    """
    present = set(df.columns)

    def raw(name: str) -> str:
        # Missing raw fields behave like absent dict keys (NULL).
        return name if name in present else "CAST(NULL AS STRING)"

    exprs = {c: raw(c) for c in COLUMNS_TO_KEEP}
    for c in COLUMNS_TO_NORMALIZE:
        exprs[c] = empty_to_null_sql(strip_accents_sql(raw(c)))
    for out_col, (a, b) in _RAW_MERGE_SOURCES.items():
        exprs[out_col] = empty_to_null_sql(strip_accents_sql(merge_columns_sql(raw(a), raw(b))))
    exprs["date_debut_commercialisation"], exprs["date_fin_commercialisation"] = (
        commercialisation_dates_sql(raw(_RAW_DATE_RANGE_COL))
    )
    return df.selectExpr(*(f"{exprs[c]} AS {c}" for c in RECALL_COLUMNS))


def ingest_batch(
    batch: DataFrame,
    existing: DataFrame,
    key: str = "reference_fiche",
    order_col: str = "date_de_publication",
    writer: Callable[[DataFrame], None] | None = None,
) -> DataFrame:
    """Idempotent-append stage (reference A17+A18): within-batch
    last-wins dedup on the primary key, anti-join against the sink's
    existing keys, then hand off to the writer. Returns the new rows."""
    return idempotent_append(
        batch,
        existing,
        keys=[key],
        order_col=order_col,
        writer=writer,
    )
