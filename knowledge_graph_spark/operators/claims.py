"""Claim / covariate extraction (reference V1-V5, SURVEY.md §2.4).

Reference analogues:
- V1 extractor loop (reference graph/claims/graph_claims.py:75-215): an
  LLM prompt per document with gleaning.  Here: a swappable backend; the
  deterministic rule backend emits the reference's positional tuple
  format from transcript turns using NATIVE regexp columns (no UDF).
- V2 tuple parser (reference graph_claims.py:218-259): 9 positional
  fields split on ``<|>`` with paren stripping → native split/element_at.
- V3 claim cleaner (reference graph_claims.py:123-137): resolved-entity
  substitution — broadcast alias-dictionary join on subject and object.
- V4 covariate merge (reference verbs/covariates/extract_covariates.py:
  51-104): groupby(subject_id): descriptions joined, source_text
  set-flattened, doc_ids comma-joined, first-non-null for the rest.
  The reference's "first" is pandas row order (nondeterministic under
  shuffle) — ours is min_by over a stable string ordinal
  ``conv_id:zero-padded(turn_idx)`` (string, not struct, so the SQL
  oracle's arg_min orders identically).
- V5 DataFrame assembly (reference verbs/covariates/typing.py:31-40):
  uuid + positional index → content-hash id + row_number over an
  explicit order.

Claim status dates are ISO-8601 strings (reference prompt spec), derived
from the turn timestamp.

Scale: V1-V3 are narrow maps over the transcripts scan; V4 is one
groupBy on subject_id (entity-skew → AQE handles it; cardinality is
|entities|, small); V5's global row_number runs on the merged (small)
claim table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .extract import TUPLE_DELIM

# Deterministic claim rule over the planted transcript grammar
# ("USER_x saw EVT_y on ITEM_z ..."), the claims-stage analogue of the
# extraction RuleBackend.  Shared with the DuckDB oracle.
CLAIM_SUBJECT_RE = r"(USER_[0-9]+) saw (EVT_[A-Z]+) on (ITEM_[0-9]+)"
CLAIM_STATUS = "TRUE"
NO_DATE = "NONE"


def emit_claim_records(transcripts: DataFrame) -> DataFrame:
    """V1 (rule backend): one reference-format claim record per matching
    turn: ``(subject<|>object<|>type<|>status<|>start<|>end<|>desc<|>src)``.

    Native regexp_extract — stays in codegen; an LLM backend would slot
    in here as a mapInPandas over batched turns (reference
    graph_claims.py:75-119 with max_gleanings=1, config.py:29)."""
    subj = F.regexp_extract("text", CLAIM_SUBJECT_RE, 1)
    typ = F.regexp_extract("text", CLAIM_SUBJECT_RE, 2)
    obj = F.regexp_extract("text", CLAIM_SUBJECT_RE, 3)
    date = F.date_format("ts", "yyyy-MM-dd")
    record = F.concat(
        F.lit("("),
        F.concat_ws(
            TUPLE_DELIM,
            subj,
            obj,
            typ,
            F.lit(CLAIM_STATUS),
            date,
            F.lit(NO_DATE),
            F.concat_ws(" ", subj, typ, obj),
            F.col("text"),
        ),
        F.lit(")"),
    )
    return transcripts.filter(subj != "").select(
        "conv_id", "turn_idx", record.alias("record")
    )


def parse_claim_records(records: DataFrame) -> DataFrame:
    """V2: positional tuple parser (8 fields here; the reference's 9th,
    doc_id, is carried as the conv_id column)."""
    body = F.regexp_replace(F.trim(F.col("record")), r"^\(|\)$", "")
    fields = F.split(body, r"<\|>")
    return records.select(
        "conv_id",
        "turn_idx",
        F.element_at(fields, 1).alias("subject_id"),
        F.element_at(fields, 2).alias("object_id"),
        F.element_at(fields, 3).alias("claim_type"),
        F.element_at(fields, 4).alias("status"),
        F.element_at(fields, 5).alias("start_date"),
        F.element_at(fields, 6).alias("end_date"),
        F.element_at(fields, 7).alias("description"),
        F.element_at(fields, 8).alias("source_text"),
    )


def link_claim_entities(claims: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """V3: broadcast alias→canonical substitution on subject and object
    (reference substitutes resolved entities into claim text)."""
    d = alias_dict.select(
        F.upper("alias").alias("__a"), F.col("canonical_name").alias("__c")
    )
    out = (
        claims.join(F.broadcast(d), F.upper("subject_id") == F.col("__a"), "left")
        .withColumn("subject_id", F.coalesce("__c", "subject_id"))
        .drop("__a", "__c")
    )
    return (
        out.join(F.broadcast(d), F.upper("object_id") == F.col("__a"), "left")
        .withColumn("object_id", F.coalesce("__c", "object_id"))
        .drop("__a", "__c")
    )


def merge_claims(claims: DataFrame) -> DataFrame:
    """V4: one covariate per subject.  Descriptions: sorted-distinct,
    space-joined (reference joins with ' '); source_text: sorted-distinct
    set; doc ids comma-joined; remaining fields: value at the MINIMUM
    stable ordinal (deterministic replacement for pandas first())."""
    ordinal = F.concat_ws(
        ":", "conv_id", F.lpad(F.col("turn_idx").cast("string"), 10, "0")
    )
    return claims.groupBy("subject_id").agg(
        F.min_by("object_id", ordinal).alias("object_id"),
        F.min_by("claim_type", ordinal).alias("claim_type"),
        F.min_by("status", ordinal).alias("status"),
        F.min_by("start_date", ordinal).alias("start_date"),
        F.min_by("end_date", ordinal).alias("end_date"),
        F.concat_ws(" ", F.array_sort(F.collect_set("description"))).alias("description"),
        F.array_sort(F.collect_set("source_text")).alias("source_text"),
        F.concat_ws(",", F.array_sort(F.collect_set("conv_id"))).alias("doc_ids"),
        F.count("*").cast("bigint").alias("n_claims"),
    )


def finalize_claims(merged: DataFrame) -> DataFrame:
    """V5: deterministic ids — content hash + rank in subject order via
    the two-phase global index (no single-partition window)."""
    from .graphops import with_global_index

    return with_global_index(
        merged.withColumn("id", F.sha2(F.col("subject_id"), 256)), ["subject_id"]
    )


def extract_claims(transcripts: DataFrame, alias_dict: DataFrame | None = None) -> DataFrame:
    """Full V1→V5 chain."""
    parsed = parse_claim_records(emit_claim_records(transcripts))
    if alias_dict is not None:
        parsed = link_claim_entities(parsed, alias_dict)
    return finalize_claims(merge_claims(parsed))
