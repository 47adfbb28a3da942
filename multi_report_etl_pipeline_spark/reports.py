"""Reporting layer: the three operational reports
(reference: /root/reference/02_reporting_layer.sql).

Spark-first shape of each report:

    clean_accounts ⟕ clean_contacts_primary ⟕ <existence views>
      -> conjunctive filter -> flag/COALESCE projection
      -> ROW_NUMBER dedup (one row per account) -> row_num = 1

Scale notes:
- Every right side of the join chain is already ≤1 row per account_id
  (staging invariant), i.e. tiny relative to the accounts fact at 100 TB;
  they are prime broadcast candidates and AQE picks broadcast-hash
  automatically below the threshold. Above it, all joins share one hash
  partitioning on account_id, so the chain costs one exchange per input,
  not one per join.
- Existence probes (field visit / promise) join only the key (+ marker),
  not the full row — a left-semi-with-flag; Catalyst prunes the unused
  columns out of the scan either way, but keeping the probe explicit
  makes the broadcast side minimal.
- The filter on the restructure side (02:164-167) collapses that LEFT
  JOIN to INNER; Catalyst's EliminateOuterJoin does this conversion, same
  as the host databases did for the reference.
- ⚠ Determinism: the reference's report dedup orders only by
  risk_segment/product_type (02:94-97, 188-191) — a partial order. We
  append ``operation_number ASC`` (unique per account) so results are
  stable and oracle-hashable (SURVEY.md §2.5).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

COMPANY = "COMPANY_NAME"


def _contact_label(contact_type: Column) -> Column:
    """De-prefix the normalized contact type for report output (02:50-59)."""
    return F.coalesce(
        F.when(contact_type == "01.PRIMARY", "PRIMARY")
        .when(contact_type == "02.THIRD_PARTY", "THIRD_PARTY")
        .when(contact_type == "03.NO_CONTACT", "NO_CONTACT")
        .when(contact_type == "04.AUTO_DIALER", "AUTO_DIALER")
        .otherwise("NO_CONTACT"),
        F.lit("NO_CONTACT"),
    )


def _primary_side(clean_contacts_primary: DataFrame) -> DataFrame:
    """Columns of the primary-contact view a report consumes, pre-aliased
    to avoid name collisions in the join chain."""
    return clean_contacts_primary.select(
        F.col("account_id"),
        F.col("phone_number").alias("c_phone_number"),
        F.col("notes").alias("c_notes"),
        F.col("contact_type").alias("c_contact_type"),
        F.col("activity_date").alias("c_activity_date"),
        F.col("collection_channel").alias("c_collection_channel"),
    )


def _existence_probe(view: DataFrame, marker: str, extra: dict[str, str] | None = None) -> DataFrame:
    """Key + marker (+ selected payload) for a YES/NO existence flag
    (02:61-64, 243-246). The probe row set is ≤1 per account already."""
    cols = [F.col("account_id"), F.lit(1).alias(marker)]
    for src, dst in (extra or {}).items():
        cols.append(F.col(src).alias(dst))
    return view.select(*cols)


def _report12_payload() -> list[Column | str]:
    """The 17 columns reports 1 and 2 project from their join chains
    before the dedup (the SQL side: oracle._report12_payload)."""
    return [
        "account_id",
        "account_checkdigit",
        "agent_type",
        "customer_name",
        "product_type",
        "risk_segment",
        "outstanding_balance",
        "agent_name",
        "operation_number",
        F.coalesce(F.col("c_phone_number"), F.lit("NO_CONTACT")).alias("contact_phone"),
        F.coalesce(F.col("c_notes"), F.lit("NO_CONTACT")).alias("activity_notes"),
        _contact_label(F.col("c_contact_type")).alias("contact_type"),
        F.coalesce(
            F.date_format(F.col("c_activity_date"), "yyyy-MM-dd"), F.lit("NO_CONTACT")
        ).alias("last_activity_date"),
        F.when(F.col("_field_hit").isNotNull(), "YES").otherwise("NO").alias(
            "field_visit_completed"
        ),
        "business_division",
        "customer_city",
        "coverage_area",
    ]


def _dedup_one_per_account(df: DataFrame, *order_cols: Column) -> DataFrame:
    w = Window.partitionBy("account_id").orderBy(
        *order_cols, F.col("operation_number").asc()
    )
    return (
        df.withColumn("row_num", F.row_number().over(w))
        .filter(F.col("row_num") == 1)
        .drop("row_num")
    )


def report_mortgage_portfolio(
    clean_accounts: DataFrame,
    clean_contacts_primary: DataFrame,
    clean_contacts_field: DataFrame,
) -> DataFrame:
    """Report 1 — Mortgage Portfolio Tracking (02:37-120)."""
    a = clean_accounts.filter(
        (F.col("product_type") == "MORTGAGE")
        & (F.col("business_division") == "RETAIL")
        & (F.col("containment_percentage") == 0)
    )
    c = _primary_side(clean_contacts_primary)
    f = _existence_probe(clean_contacts_field, "_field_hit")

    joined = a.join(c, "account_id", "left").join(f, "account_id", "left")
    filtered = joined.select(*_report12_payload())
    deduped = _dedup_one_per_account(filtered, F.col("risk_segment").desc())
    return deduped.select(F.lit(COMPANY).alias("company"), "*")


def report_restructuring_pipeline(
    clean_accounts: DataFrame,
    clean_contacts_primary: DataFrame,
    clean_contacts_field: DataFrame,
    clean_contacts_restructure: DataFrame,
) -> DataFrame:
    """Report 2 — Restructuring Pipeline (02:130-214). The WHERE on
    r.contact_type turns the restructure LEFT JOIN into INNER."""
    a = clean_accounts.filter(
        (F.col("business_division") == "RETAIL") & (F.col("containment_percentage") == 0)
    )
    c = _primary_side(clean_contacts_primary)
    f = _existence_probe(clean_contacts_field, "_field_hit")
    r = clean_contacts_restructure.select(
        "account_id", F.col("contact_type").alias("r_contact_type")
    )

    joined = (
        a.join(c, "account_id", "left")
        .join(f, "account_id", "left")
        .join(r, "account_id", "left")
        .filter(F.col("r_contact_type") == "RESTRUCTURE")
    )
    filtered = joined.select(*_report12_payload())
    deduped = _dedup_one_per_account(
        filtered, F.col("product_type").asc(), F.col("risk_segment").desc()
    )
    return deduped.select(F.lit(COMPANY).alias("company"), "*")


def report_commercial_promises(
    clean_accounts: DataFrame,
    clean_contacts_primary: DataFrame,
    clean_contacts_promise: DataFrame,
) -> DataFrame:
    """Report 3 — Commercial Loans with Payment Promises (02:224-292)."""
    a = clean_accounts.filter(
        (F.col("business_division") == "RETAIL")
        & (F.col("containment_percentage") == 0)
        & (F.col("product_type") == "COMMERCIAL_LOAN")
    )
    c = _primary_side(clean_contacts_primary)
    p = _existence_probe(
        clean_contacts_promise, "_promise_hit", {"next_activity_date": "p_next_activity_date"}
    )

    joined = a.join(c, "account_id", "left").join(p, "account_id", "left")
    filtered = joined.select(
        "account_id",
        "account_checkdigit",
        "customer_name",
        "agent_type",
        "risk_segment",
        "outstanding_balance",
        F.coalesce(F.col("c_collection_channel"), F.lit("NO_CONTACT")).alias(
            "collection_channel"
        ),
        _contact_label(F.col("c_contact_type")).alias("contact_type"),
        F.when(F.col("_promise_hit").isNotNull(), "YES").otherwise("NO").alias(
            "payment_promise_active"
        ),
        F.coalesce(
            F.date_format(F.col("p_next_activity_date"), "yyyy-MM-dd"),
            F.lit("NO_PROMISE_DATE"),
        ).alias("promise_date"),
        F.coalesce(F.col("c_phone_number"), F.lit("NO_CONTACT")).alias("contact_phone"),
        F.coalesce(F.col("c_notes"), F.lit("NO_CONTACT")).alias("activity_notes"),
        "operation_number",
    )
    deduped = _dedup_one_per_account(filtered, F.col("risk_segment").desc())
    return deduped.drop("operation_number").select(F.lit(COMPANY).alias("company"), "*")
