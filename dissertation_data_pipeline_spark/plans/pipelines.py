"""The reference's five entry-point pipelines (SURVEY §3) as composable
DataFrame functions.

Each pipeline is a pure function DataFrame(s) -> DataFrame(s): no file
I/O inside (callers pair them with ``sources.io``), no collect in the
data plane, every stage a documented engine operator. The reference's
timestamped-file handoffs between stages become one lazy plan; callers
that want stage artifacts for provenance write intermediate parquet
checkpoints explicitly.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dissertation_data_pipeline_spark import functions as fx
from dissertation_data_pipeline_spark.operators import (
    dedup_priority,
    flag_both_sources,
    frequency,
    merge_duplicates_coalesce_fill,
    anti_report,
    union_conform,
)
from dissertation_data_pipeline_spark.schemas import (
    BILLS_COMBINED,
    BILLS_RAW,
    CORPUS_FINAL,
    MASTER_CORPUS,
    conform,
    fuzzy_rename,
)

#: collection-method priority (replaces the reference's lexicographic
#: accident at build_master_corpus.py:137-139 with an explicit ladder)
COLLECTION_PRIORITY = [
    "Manual_Curated",
    "Manual_AuditApr2026",
    "Both_Manual_and_API",
    "API_Pipeline_Mar2026",
]

#: header aliases for the fuzzy mapper (legiscan_normalizer.py:59-67)
BILL_HEADER_ALIASES = {
    "state": ["STATE", "st"],
    "bill_number": ["bill no", "billno", "bill num"],
    "title": ["bill title"],
    "legiscan_bill_url": ["bill url", "legiscan bill main page"],
    "legiscan_text_url": ["text url", "legiscan text page"],
    "status": ["bill status"],
    "last_action_date": ["last date", "action date"],
}


def normalize_bills(frames: Sequence[DataFrame]) -> DataFrame:
    """legiscan_normalizer.py main() (SURVEY §3, secondary): fuzzy
    header mapping -> conform -> value normalization -> union ->
    duplicate merge with coalesce-fill -> surrogate key."""
    conformed = []
    for df in frames:
        mapped = fuzzy_rename(df, BILL_HEADER_ALIASES)
        # multi-format date parse (F-d2) must run on the raw string,
        # before the contract coerces the column to DateType
        if "last_action_date" in mapped.columns:
            mapped = mapped.withColumn(
                "last_action_date",
                fx.parse_date_multi(F.col("last_action_date").cast("string")),
            )
        c = conform(mapped, BILLS_COMBINED, extra="drop")
        c = (
            c.withColumn("bill_number", fx.normalize_bill_number("bill_number"))
            .withColumn("title", fx.title_case("title"))
            .withColumn("legiscan_bill_url", fx.normalize_url("legiscan_bill_url"))
        )
        conformed.append(c)
    merged = union_conform(*conformed)
    merged = merged.withColumn("bill_id", fx.make_bill_id("state", "bill_number"))
    return merge_duplicates_coalesce_fill(
        merged,
        "bill_id",
        order_date_col="last_action_date",
        fill_cols=["title", "legiscan_bill_url", "legiscan_text_url", "status"],
        tiebreak=["state", "bill_number"],
    )


def build_master_corpus(
    manual: DataFrame, api: DataFrame, dim_states: DataFrame
) -> dict[str, DataFrame]:
    """build_master_corpus.py (SURVEY §3.3-secondary): conform both
    sources -> normalize -> state dim broadcast join -> union ->
    both-sources flag (W5) -> priority dedup (W1) -> reports.

    Returns the corpus plus the report DataFrames the reference printed
    (by-method/status/year frequencies, missing-states anti-join)."""
    def prep(df: DataFrame, method: str) -> DataFrame:
        c = conform(df, MASTER_CORPUS, extra="keep")
        c = (
            # canonicalize the abbrev FIRST (build_master_corpus.py:97
            # strips + uppercases): every downstream use — the dim
            # join, the dedup/both-sources key, the missing-states
            # anti-join — assumes 'CA', never ' ca '
            c.withColumn("state_abbrev", F.upper(F.trim("state_abbrev")))
            .withColumn("bill_number", fx.normalize_bill_number("bill_number"))
            .withColumn("status", fx.normalize_status("status"))
            .withColumn(
                "collection_method",
                F.coalesce(F.col("collection_method"), F.lit(method)),
            )
            .filter(F.coalesce(F.col("state_abbrev"), F.lit("")) != "US")
        )
        return conform(c, MASTER_CORPUS)

    a = prep(manual, "Manual_Curated")
    b = prep(api, "API_Pipeline_Mar2026")
    merged = union_conform(a, b)

    # dim join fixes state names from abbrevs (J2; broadcast by size)
    merged = (
        merged.join(
            F.broadcast(dim_states.select("state_abbrev", "state_name")),
            "state_abbrev",
            "left",
        )
        .withColumn("state", F.coalesce(F.col("state_name"), F.col("state")))
        .drop("state_name")
    )

    flagged = flag_both_sources(merged, ["state_abbrev", "bill_number"])
    corpus = dedup_priority(
        flagged,
        ["state_abbrev", "bill_number"],
        "collection_method",
        COLLECTION_PRIORITY,
        # (year, status) can tie for two same-method rows of one bill;
        # the title digest totalizes the order (partition-independent)
        tiebreak=["year", "status", F.md5(F.coalesce(F.col("title"), F.lit("")))],
    )
    return {
        "corpus": conform(corpus, MASTER_CORPUS),
        "by_method": frequency(corpus, "collection_method"),
        "by_status": frequency(corpus, "status"),
        "by_year": frequency(corpus, "year", sort_by_key=True),
        "missing_states": anti_report(
            dim_states, corpus.select("state_abbrev"), "state_abbrev"
        ),
    }


def build_corpus(
    corpus: DataFrame, decisions: DataFrame, *, min_year: int = 2010, min_text_len: int = 50
) -> dict[str, DataFrame]:
    """build_corpus.py (SURVEY §3.3): left join decisions (J1) ->
    conform -> filters (P4/P5) -> dedup (W1-style keep-first by
    bill_id) -> summary aggregates."""
    decision_cols = [
        "bill_id",
        "is_amendment",
        "strikethrough_detected",
        "strikethrough_limitation_flag",
        "raw_word_count",
        "normalized_word_count",
        "text_source",
    ]
    joined = corpus.join(
        decisions.select(*[c for c in decision_cols if c in decisions.columns]),
        "bill_id",
        "left",
    )
    conformed = conform(joined, CORPUS_FINAL)
    # canonicalize state BEFORE the 2-letter filter (build_corpus.py:68
    # uppercases+strips first): ' CO ' must pass as 'CO', and 'co'/'CO'
    # must not split the frequency reports or the dedup key space
    conformed = conformed.withColumn("state", F.upper(F.trim("state")))
    filtered = conformed.filter(
        (F.length("state") == 2)
        & (F.col("year") >= min_year)
        & F.col("normalized_text").isNotNull()
        & (F.length("normalized_text") > min_text_len)
    )
    deduped = dedup_priority(
        filtered, "bill_id", "text_source",
        ["legiscan_api", "cached", "unknown"],
        # full total order: year alone ties for two same-source scrapes
        # of one bill — the md5 of the published text is a deterministic,
        # content-derived final tiebreak (the dedup contract promises
        # partition-independent winners)
        tiebreak=["year", F.md5(F.coalesce(F.col("normalized_text"), F.lit("")))],
    )
    return {
        "corpus": deduped,
        "by_year": frequency(deduped, "year", sort_by_key=True),
        "by_state": frequency(deduped, "state"),
        "top_states": frequency(deduped, "state").limit(15),
    }


#: demo theme rules (tag_metadata.py:7-22 shape)
DEMO_THEME_RULES = {
    "mental_health": [r"mental health", r"counsel", r"psych"],
    "policing": [r"police", r"resource officer", r"sro\b"],
    "firearms": [r"firearm", r"gun", r"weapon"],
}


def tag_documents(
    records: DataFrame,
    text_cols: Sequence[str],
    theme_rules: dict[str, Sequence[str]] | None = None,
) -> DataFrame:
    """The Snakemake demo DAG (SURVEY §3.2) collapsed to one lazy plan:
    flattened records -> dynamic text-column concat (F-a2) -> per-theme
    regex tagging (F-a1) -> sorted tag array. Column *choice* (name
    contains title/summary/text) is driver-side, as in the reference
    (tag_metadata.py:24-25)."""
    rules = theme_rules or DEMO_THEME_RULES
    chosen = [
        c
        for c in records.columns
        if any(s in c.lower() for s in ("title", "summary", "text", "description"))
    ] or list(text_cols)
    blob = fx.concat_text_columns(*chosen)
    return records.withColumn("tags", fx.theme_tags(blob, rules))


def collect_bills(
    raw_bills: DataFrame,
    keywords: Sequence[str],
    *,
    year_range: tuple[int, int] = (2010, 2025),
) -> DataFrame:
    """legiscan_collector.py process_bill (SURVEY §3.1) relational core:
    final-status filter (P6), date-range filter (P7), best-text-by-mime
    preference (W4), keyword OR-filter (P9), projection to the
    11-column contract. Input rows mirror the bill JSON (T10): scalars
    + progress[] + texts[] arrays."""
    final_status = F.col("status").isin(3, 4) | F.exists(
        "progress", lambda p: p["event"] == 8
    )
    year = F.year(F.to_date(F.col("status_date")))
    in_range = year.between(*year_range) & ~F.col("status_date").startswith("0000")

    # W4 — mime preference: HTML (1) best, then generic, PDF (2) last
    pref = lambda t: (
        F.when(t["mime_id"] == 1, 0).when(t["mime_id"] == 2, 2).otherwise(1)
    )
    best_text = F.array_sort(
        F.transform(
            "texts",
            lambda t: F.struct(
                pref(t).alias("pref"), t["doc_id"].alias("doc_id"), t["url"].alias("url")
            ),
        )
    )[0]

    matched = fx.matched_keywords(
        fx.concat_text_columns("title", "description"), keywords
    )

    out = (
        raw_bills.filter(final_status)
        .filter(in_range)
        .withColumn("_best", best_text)
        .withColumn("_matched", matched)
        .filter(F.size("_matched") > 0)
        .select(
            F.col("state").alias("state"),
            fx.normalize_bill_number("bill_number").alias("bill_number"),
            fx.title_case("title").alias("title"),
            F.col("url").alias("legiscan_bill_url"),
            F.col("_best")["url"].alias("legiscan_text_url"),
            fx.decode_status_code("status", "progress").alias("status"),
            F.col("status_date").alias("last_action_date"),
            F.array_join("_matched", ", ").alias("matched_keywords"),
            F.lit("metadata").alias("search_method"),
            F.lit(None).cast("string").alias("bill_text_html_file"),
            F.lit(None).cast("string").alias("bill_text_txt_file"),
        )
    )
    return conform(out, BILLS_RAW)
