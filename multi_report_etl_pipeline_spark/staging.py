"""Staging layer: the five cleansing/dedup views as DataFrame builders
(reference: /root/reference/01_staging_layer.sql).

Design notes (Spark-first, not a translation):

- ``clean_accounts`` is a projection. Each of the four contact views is
  one ``ContactView`` spec in ``contact_view_specs``: its pre-filter, its
  channel/contact-type labels and its sort order. A change to a view's
  semantics is an edit in one place.
- Two physical forms derive from the specs, each faster on some workload.
  ``contact_views`` is the lazy form, the analog of the reference's
  non-materialized ``CREATE VIEW`` (01:23-25; README.md:116): one
  ``row_number()`` window per view with the filter below it, so the
  filter reaches the parquet scan and ``row_number() = 1`` compiles to a
  per-group top-1 limit (WindowGroupLimit). ``combined_contact_survivors``
  computes all four views in ONE ``min_by`` partial aggregation per
  account (filters folded into the keys), the form that is materialized
  and streamed; ``clean_views_from_survivors`` expands it back into views.
- ⚠ Determinism: the reference's window ORDER BYs are partial orders —
  ties leave the surviving row engine-dependent (SURVEY.md §2.5). Every
  view appends ``activity_id ASC, row_fp ASC`` (row_fp is unique) so the
  order is total and the DuckDB differential oracle can hash-match.
- All date work is ``try_to_date(col, 'dd/MM/yyyy')``: same null-on-
  malformed behavior as SQLite's ``DATE(SUBSTR...)`` pipeline (01:64-68)
  without the string surgery.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

ACTIVITY_OUTPUT_COLS = [
    "account_id",
    "activity_date",
    "activity_time",
    "next_activity_date",
    "collection_channel",
    "contact_type",
    "contact_outcome",
    "non_payment_reason",
    "contact_location",
    "next_action",
    "notes",
    "phone_number",
    "department",
    "agent_name",
]

METRO_AREAS = ("METRO_AREA_1", "METRO_AREA_2", "METRO_AREA_3")

def parse_ddmmyyyy(col: Column | str) -> Column:
    """DD/MM/YYYY string -> DateType, NULL on malformed input.

    Replaces the reference's SUBSTR/concat/DATE() pipeline (01:64-68) with
    one vectorized JVM expression; `try_to_date` nulls invalid dates like
    SQLite's DATE() does, even under ANSI mode.
    """
    return F.try_to_date(F.col(col) if isinstance(col, str) else col, "dd/MM/yyyy")


def channel_priority(col: Column | str) -> Column:
    """Channel -> priority-prefixed label (01:76-83). The '01.'..'05.'
    prefixes make lexicographic ASC ordering a priority order; Spark's
    UTF8 binary string comparison matches SQLite memcmp, so the encoding
    carries over unchanged."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.when(c == "PHONE", "01.PHONE")
        .when(c == "FIELD", "02.FIELD")
        .when(c == "MESSAGING", "03.MESSAGING")
        .when(c == "EMAIL", "04.EMAIL")
        .when(c == "AGENT_BANK", "05.AGENT_BANK")
        .otherwise("UNCLASSIFIED_CHANNEL")
    )


def contact_type_normalized(contact: Column, channel_raw: Column, agent: Column) -> Column:
    """Contact-type standardization, arm-for-arm with 01:85-97 (including
    the unreachable MESSAGING arms, kept for semantic parity)."""
    return (
        F.when(contact == "PRIMARY", "01.PRIMARY")
        .when(contact.isin("THIRD_PARTY", "RELATIVE"), "02.THIRD_PARTY")
        .when((contact == "NO_CONTACT") & (agent == "AUTO_DIALER"), "04.AUTO_DIALER")
        .when(contact == "NO_CONTACT", "03.NO_CONTACT")
        .when(contact.isin("GUARANTOR", "GUARANTOR_NO_CONTACT"), "GUARANTOR")
        .when(channel_raw == "FIELD", "FIELD")
        .when((channel_raw == "MESSAGING") & (contact == "PRIMARY"), "01.PRIMARY")
        .when(
            (channel_raw == "MESSAGING") & contact.isin("THIRD_PARTY", "RELATIVE"),
            "02.THIRD_PARTY",
        )
        .when((channel_raw == "MESSAGING") & (contact == "NO_CONTACT"), "03.NO_CONTACT")
        .when(channel_raw.isin("EMAIL", "AGENT_BANK"), "EMAIL")
        .otherwise("UNCLASSIFIED_CONTACT")
    )


def field_contact_type(contact: Column, agent: Column) -> Column:
    """Field-view contact normalization (01:173-180) — no channel arms."""
    return (
        F.when(contact == "PRIMARY", "01.PRIMARY")
        .when(contact.isin("THIRD_PARTY", "RELATIVE"), "02.THIRD_PARTY")
        .when((contact == "NO_CONTACT") & (agent == "AUTO_DIALER"), "04.AUTO_DIALER")
        .when(contact == "NO_CONTACT", "03.NO_CONTACT")
        .when(contact.isin("GUARANTOR", "GUARANTOR_NO_CONTACT"), "GUARANTOR")
        .otherwise("UNCLASSIFIED_CONTACT")
    )


def clean_accounts(stg_accounts: DataFrame) -> DataFrame:
    """View 1 (01:25-44): pass-through projection + coverage_area flag."""
    return stg_accounts.withColumn(
        "coverage_area",
        F.when(F.col("customer_city").isin(*METRO_AREAS), "YES").otherwise("NO"),
    )


# ---------------------------------------------------------------------------
# The four contact views (01:59-398), each stated once.


@dataclass(frozen=True)
class ContactView:
    """One contact view: the rows matching ``keep`` (all rows when None),
    labelled with ``channel`` and ``contact_type``, top-1 per account
    under ``order`` and then the unique (activity_id, row_fp) tiebreak.
    ``order`` names output columns; a leading "-" means DESC NULLS LAST,
    otherwise ASC."""

    keep: Column | None
    channel: Column
    contact_type: Column
    order: tuple[str, ...]


def contact_view_specs() -> dict[str, ContactView]:
    """The four specs (built per call: a Column needs a live session)."""
    chan = channel_priority("collection_channel")
    contact, agent = F.col("contact_type"), F.col("agent_name")
    by_recency = ("-activity_date", "-activity_time")
    return {
        "clean_contacts_primary": ContactView(
            None,
            chan,
            contact_type_normalized(contact, F.col("collection_channel"), agent),
            ("collection_channel", "contact_type", "-activity_date"),
        ),
        "clean_contacts_field": ContactView(
            F.col("collection_channel") == "FIELD",
            F.lit("02.FIELD"),
            field_contact_type(contact, agent),
            ("contact_type", "-activity_date"),
        ),
        "clean_contacts_promise": ContactView(
            F.col("contact_outcome") == "PAYMENT_PROMISE",
            chan,
            F.lit("PROMISE"),
            by_recency,
        ),
        "clean_contacts_restructure": ContactView(
            F.col("contact_outcome") == "RESTRUCTURE_REQUEST",
            chan,
            F.lit("RESTRUCTURE"),
            by_recency,
        ),
    }


_DATE_COLS = ("activity_date", "next_activity_date")
_TIEBREAK = ("activity_id", "row_fp")


def _projection(view: ContactView) -> dict[str, Column]:
    """The view's output columns after account_id, over stg_activities."""
    labels = {"collection_channel": view.channel, "contact_type": view.contact_type}
    return {
        c: parse_ddmmyyyy(c) if c in _DATE_COLS else labels.get(c, F.col(c))
        for c in ACTIVITY_OUTPUT_COLS[1:]
    }


def contact_views(stg_activities: DataFrame) -> dict[str, DataFrame]:
    """The lazy form: one row_number() window per view. The view's filter
    sits below the window, as in the reference (01:190, 274, 358), so it
    reaches the parquet scan, and filter(row_num = 1) compiles to a
    per-group limit (WindowGroupLimit): no second pass over the data."""
    views = {}
    for name, view in contact_view_specs().items():
        rows = stg_activities if view.keep is None else stg_activities.filter(view.keep)
        order = [
            F.col(t[1:]).desc_nulls_last() if t.startswith("-") else F.col(t).asc()
            for t in view.order
        ]
        w = Window.partitionBy("account_id").orderBy(
            *order, *(F.col(c).asc() for c in _TIEBREAK)
        )
        views[name] = (
            rows.select(
                "account_id",
                *_TIEBREAK,
                *(col.alias(c) for c, col in _projection(view).items()),
            )
            .withColumn("row_num", F.row_number().over(w))
            .filter(F.col("row_num") == 1)
            .select(*ACTIVITY_OUTPUT_COLS)
        )
    return views


def _ascending(cols: dict[str, Column], term: str) -> Column:
    """One order term as an ascending key. ASC terms compare natively.
    DESC NULLS LAST dates become -unix_date, NULL past the end. DESC NULLS
    LAST strings become their UTF-8 bytes as hex with every digit
    complemented, then 'G': binary order reversed, a proper prefix after
    its extensions, no cast that malformed input could fail; NULL maps to
    'H', past every encoding."""
    if not term.startswith("-"):
        return cols[term]
    c = cols[term[1:]]
    if term[1:] in _DATE_COLS:
        return F.coalesce(-F.unix_date(c), F.lit(2147483647))
    flipped = F.translate(F.hex(c), "0123456789ABCDEF", "FEDCBA9876543210")
    return F.coalesce(F.concat(flipped, F.lit("G")), F.lit("H"))


def combined_contact_survivors(stg_activities: DataFrame) -> DataFrame:
    """The survivors form: every contact view's top-1 row in ONE
    groupBy(account_id) pass, as min_by(payload, key) with the view's
    filter folded into its key (a NULL key is a row outside the view).
    min_by aggregates partially, so each map partition collapses to <=1
    row per account per view before the exchange and nothing is globally
    sorted. One row per account, one nullable payload struct per view,
    named after it; the unique tiebreak makes every key total."""
    aggs = []
    for name, view in contact_view_specs().items():
        cols = _projection(view)
        key = F.struct(
            *(_ascending(cols, t) for t in view.order), *(F.col(c) for c in _TIEBREAK)
        )
        if view.keep is not None:
            key = F.when(view.keep, key)
        payload = F.struct(*(col.alias(c) for c, col in cols.items()))
        aggs.append(F.min_by(payload, key).alias(name))
    return stg_activities.groupBy("account_id").agg(*aggs)


def clean_views_from_survivors(survivors: DataFrame) -> dict[str, DataFrame]:
    """The four contact views as struct expansions over a
    combined_contact_survivors table (columns as ACTIVITY_OUTPUT_COLS)."""
    return {
        name: survivors.filter(F.col(name).isNotNull()).select("account_id", f"{name}.*")
        for name in contact_view_specs()
    }
