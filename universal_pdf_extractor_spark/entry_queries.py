"""Query catalogue for the driver contract (__spark_entry__.py).

Each entry maps one operator family from SURVEY.md §2 to a Spark
DataFrame plan over the driver's parquet tables, paired with an ANSI
SQL oracle DuckDB runs on the same tables.  Column names are aligned
on both sides; floating outputs are either integers, decimals, or
divisions of identical inputs (bit-stable across engines); sums use
DECIMAL casts so distributed accumulation order cannot change values.

Each entry is one `@register(name, sql)` on its Spark function, with
its oracle SQL beside it: a literal, or a builder defined above it.
Registration order is the queries() order, and nothing else writes
the registry.  SQL fragments that several oracles share (the
transcripts turns view, the money-token and date parsers, the raw
line frame) are defined once, as module constants or functions.

Input domain: DuckDB's regex engine is RE2, whose \\s is [\\t\\n\\f\\r ]
and whose \\d is [0-9], so the oracles hold for text whose whitespace
is in that set and whose digits are ASCII.  boilerplate_strip_docs
spells RE2's \\s out in its Spark body (the JVM's \\s also takes
\\x0b).  The entries that read pipeline output share the limit: the
pipeline normalizes whitespace with Python's \\s, which also takes
\\x0b and \\x1c-\\x1f.

Entries without SQL omit the oracle -> the driver records a rows-only
check.  The remaining no-oracle entries, each with its reason:

- transcripts_records / transcripts_conversations /
  transcripts_segments: the FULL rows depend on the per-segment
  record extraction, whose balance-chain solver carries sequential
  `current <- reported` state (balance_solver.py semantics) —
  inherently not expressible in set-oriented SQL.  Value equality is
  gated by tests/test_pipeline_e2e.py against the single-process
  oracle and by the frozen golden fixtures; the SQL-expressible
  projections ARE oracle-checked: transcripts_turns in full, segment
  turn ranges, and the record surface through three hash-checked
  oracles — transcripts_records_delim (every delim-tier record, all
  solver-independent columns), transcripts_records_pattern (every
  pattern-tier record), transcripts_records_amounts (every
  amount-bearing main-path record on headered segments: order, turn,
  date, exact cents), and transcripts_records_directions (the W4/W6
  balance-chain solver surface — direction, balance_confirmed,
  tolerance ladder, OCR rescue, confidence — on the case-1/case-3
  headered slice via the lag(reported-balance) reformulation) — plus
  transcripts_segments_balances (ranges + W7 opening/closing marker
  picks on the same slice).  Only headerless-segment rows and the
  geometry-only direction choice on UNCONFIRMED case-1 rows remain
  pytest-gated.
- transcripts_detected_tables: the histogram/peak column geometry it
  reports IS the non-relational kernel; the per-engine routing, row
  counts and structured-tier geometry (column_count/header_row) are
  hash-checked by transcripts_detected_tables_routing, the rest
  pinned by tests/test_fallback_tiers.py.
"""

from __future__ import annotations

import os
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F  # noqa: N812

from .datapipe import dedup, similarity, spread_documents, textstats
from .io.fixtures import n_convs_for_sf, transcripts_sdf
from .kernels.patterns import (
    ACCOUNT_HEADER_RLIKE,
    BALANCE_MARKER_RLIKE,
    BANK_STATEMENT_KEYWORDS,
    BOILERPLATE_RLIKE,
    HEADER_KEYWORDS,
    MOTOR_FINANCE_KEYWORDS,
    OPENING_BALANCE_RLIKE,
    PROVIDER_PATTERNS,
    STATEMENT_PERIOD_RLIKE,
    _noncapturing,
)
from .kernels.segment_extract import FALLBACK_SOURCES
from .stages.pipeline import run_pipeline

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def register(name: str, sql: str | None):
    def wrap(fn: QueryFn):
        _REGISTRY[name] = (fn, sql)
        return fn
    return wrap


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))


def sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(os.path.normpath(sf_dir))
    if base.startswith("sf"):
        try:
            return float(base[2:])
        except ValueError:
            pass
    return 0.01


# ───────────────────────── relational engine primitives ─────────────

@register("agg_pricing_summary", """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(FLOOR(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
           CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
""")
def agg_pricing_summary(spark, sf_dir):
    """A3/A4 aggregate mapping: grouped money sums.

    Money is fixed to exact integer cents via FLOOR(x*100) *before*
    aggregation: IEEE double multiply + floor is bit-identical across
    engines, whereas double->DECIMAL casts round half-way values
    differently in Spark (Java BigDecimal HALF_UP on the exact binary
    expansion) vs DuckDB (scaled-multiply rounding), and DECIMAL
    outputs additionally stringify with engine-specific trailing zeros.
    Integer cents sidestep both divergences.
    """
    li = _read(spark, sf_dir, "lineitem")

    def cents(col):
        return F.floor(F.col(col) * 100).cast("long")

    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(cents("l_quantity")).alias("sum_qty_cents"),
        F.sum(cents("l_extendedprice")).alias("sum_price_cents"),
    )


@register("join_orders_customers", """
    SELECT c.c_mktsegment AS mktsegment,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(FLOOR(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_price_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
""")
def join_orders_customers(spark, sf_dir):
    """J1 join mapping: broadcast the customer dimension.  Money sums
    in exact integer cents (see agg_pricing_summary)."""
    orders = _read(spark, sf_dir, "orders")
    customer = _read(spark, sf_dir, "customer")
    return (orders.join(F.broadcast(customer),
                        orders.o_custkey == customer.c_custkey)
            .groupBy(F.col("c_mktsegment").alias("mktsegment"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
                  .alias("total_price_cents")))


@register("window_lead_sessions", """
    SELECT event_id,
           CAST(date_diff('second', ts,
                lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                AS BIGINT) AS gap_seconds
    FROM events
""")
def window_lead_sessions(spark, sf_dir):
    """C4 mapping: lead() window replaces boundary->range conversion."""
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "event_id",
        (F.unix_timestamp(nxt) - F.unix_timestamp("ts")).cast("bigint").alias("gap_seconds"),
    )


@register("cumsum_segmentation", """
    SELECT event_id,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS UNBOUNDED PRECEDING) AS INT) AS segment_index
    FROM events
""")
def cumsum_segmentation(spark, sf_dir):
    """C3/C4 segment-id mapping: running boundary count (no range join)."""
    ev = _read(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    boundary = F.when(F.col("event_type") == "error", 1).otherwise(0)
    return ev.select("event_id",
                     F.sum(boundary).over(w).cast("int").alias("segment_index"))


@register("forward_fill_w8", """
    SELECT event_id,
           LAST_VALUE(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING) AS filled_micros
    FROM (SELECT event_id, user_id, ts,
                 CASE WHEN event_type = 'view' THEN NULL
                      ELSE CAST(FLOOR(value * 1000000) AS BIGINT) END AS v
          FROM events)
""")
def forward_fill_w8(spark, sf_dir):
    """W8 mapping: last(ignorenulls) carries values down rows.
    Values are fixed to integer micros before the fill (see
    agg_pricing_summary for why FLOOR-to-int, not DECIMAL casts)."""
    ev = _read(spark, sf_dir, "events")
    v = F.when(F.col("event_type") == "view", F.lit(None)) \
         .otherwise(F.floor(F.col("value") * 1000000).cast("long"))
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return ev.withColumn("v", v).select(
        "event_id", F.last("v", ignorenulls=True).over(w).alias("filled_micros"))


@register("latest_run_lookup", """
    SELECT user_id, event_id AS latest_event_id FROM (
        SELECT user_id, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1
""")
def latest_run_lookup(spark, sf_dir):
    """J4 mapping: is_latest flag via row_number over recency."""
    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (ev.withColumn("rn", F.row_number().over(w)).where("rn = 1")
            .select("user_id", F.col("event_id").alias("latest_event_id")))


@register("topk_ordering", """
    SELECT event_id, CAST(FLOOR(value * 1000000) AS BIGINT) AS value_micros
    FROM events ORDER BY value DESC, event_id ASC LIMIT 50
""")
def topk_ordering(spark, sf_dir):
    """O1/O7 mapping: deterministic total ordering + limit.
    Ordering runs on the raw double (identical IEEE comparisons both
    engines); output is exact integer micros."""
    ev = _read(spark, sf_dir, "events")
    return (ev.orderBy(F.desc("value"), F.asc("event_id")).limit(50)
            .select("event_id",
                    F.floor(F.col("value") * 1000000).cast("long").alias("value_micros")))


@register("fallback_cascade", """
    SELECT c.c_custkey AS custkey,
           CASE WHEN o.o_custkey IS NULL THEN 'FALLBACK' ELSE 'PRIMARY' END AS src
    FROM customer c LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
      ON c.c_custkey = o.o_custkey
""")
def fallback_cascade(spark, sf_dir):
    """§2.10 mapping: first-non-empty cascade == anti-join + union."""
    customer = _read(spark, sf_dir, "customer")
    orders = _read(spark, sf_dir, "orders").select("o_custkey").distinct()
    primary = (customer.join(orders, customer.c_custkey == orders.o_custkey, "left_semi")
               .select(F.col("c_custkey").alias("custkey"), F.lit("PRIMARY").alias("src")))
    fallback = (customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
                .select(F.col("c_custkey").alias("custkey"), F.lit("FALLBACK").alias("src")))
    return primary.unionByName(fallback)


@register("quality_gate_filter", """
    SELECT event_id FROM events
    WHERE value IS NOT NULL OR trim(coalesce(props, '')) <> ''
""")
def quality_gate_filter(spark, sf_dir):
    """P8 mapping: drop rows with no amount AND blank description."""
    ev = _read(spark, sf_dir, "events")
    return ev.where(F.col("value").isNotNull()
                    | (F.trim(F.coalesce(F.col("props"), F.lit(""))) != "")) \
             .select("event_id")


# ───────────────────── extraction kernels over testdata ─────────────

@register("boilerplate_strip_docs", r"""
    WITH lines AS (
        SELECT doc_id,
               list_filter(
                   list_transform(string_split(text, chr(10)),
                                  l -> trim(regexp_replace(l, '\s+', ' ', 'g'))),
                   l -> l <> '') AS norm_lines
        FROM documents)
    SELECT doc_id,
           array_to_string(
               list_filter(norm_lines, l -> NOT regexp_matches(lower(l),
                   '(?:(?:balance\s+)?(?:carried|brought)\s+(?:forward|fwd|f/?wd))|(?:\bb/?f\b)|(?:\bc/?f\b)|(?:balance\s+(?:at|on)\s+(?:start|end|close))|(?:(?:opening|closing)\s+balance)|(?:total\s+balance\s+(?:carried|brought))|(?:continued\s+(?:on|over))|(?:statement\s+continued)|(?:personal\s+account\s*(?:balance|statement))|(?:(?:total|net)\s+(?:balance|outgoings|deposits|income|payments|in|out))|(?:balance\s+in\s+pots?)|(?:(?:including|excluding)\s+(?:all\s+)?pots?)|(?:(?:regular|savings)\s+pots?\s+(?:with|provided))|(?:sort\s*code)|(?:account\s*number)|(?:\biban\b)|(?:\bbic\b)|(?:\bswift\b)|(?:statement\s+period)|(?:(?:from|to)\s+\d{1,2}[\/\-]\d{1,2}[\/\-]\d{2,4})|(?:(?:financial\s+services|compensation\s+scheme|fscs))|(?:(?:authorised|regulated)\s+by)|(?:registered\s+(?:office|in\s+england))|(?:company\s+(?:registered|number|no))|(?:monzo\s+bank\s+limited)|(?:pot\s+(?:type|name|balance|statement))|(?:this\s+pot\s+was\s+(?:closed|opened))|(?:(?:important\s+information|compensation\s+arrangements))|(?:(?:page|sheet)\s+\d+\s+(?:of|/)\s+\d+)')),
               chr(10)) AS clean_text
    FROM lines
""")
def boilerplate_strip_docs(spark, sf_dir):
    """S3+P5/P6 flagship slice over the documents table: reading-order
    normalization + boilerplate suppression, all JVM-side.  Whitespace
    is the oracle's (RE2) \\s, [\\t\\n\\f\\r ]: the JVM's \\s also takes
    \\x0b, which would strip lines and join words the oracle keeps."""
    docs = spread_documents(_read(spark, sf_dir, "documents"))
    space = r"[\t\n\f\r ]"
    norm = F.filter(
        F.transform(F.split(F.col("text"), "\n"),
                    lambda l: F.trim(F.regexp_replace(l, space + "+", " "))),
        lambda l: l != "")
    boiler = BOILERPLATE_RLIKE.replace(r"\s", space)
    kept = F.filter(norm, lambda l: ~F.lower(l).rlike(boiler))
    return docs.select("doc_id", F.array_join(kept, "\n").alias("clean_text"))


@register("date_parse_roundtrip", """
    SELECT o_orderkey, CAST(o_orderdate AS DATE) AS posted_date
    FROM orders
""")
def date_parse_roundtrip(spark, sf_dir):
    """P3 mapping: render each order date as a UK dd/MM/yyyy string,
    parse it back through the kernel ladder inside a pandas UDF."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DateType

    from .kernels.dates import parse_date_batch

    @pandas_udf(DateType())
    def parse_uk(raw: pd.Series) -> pd.Series:
        return parse_date_batch(raw)

    from .parallel import spread
    orders = spread(_read(spark, sf_dir, "orders")
                    .select("o_orderkey", "o_orderdate"))
    rendered = F.date_format(F.col("o_orderdate"), "dd/MM/yyyy")
    return orders.select("o_orderkey", parse_uk(rendered).alias("posted_date"))


@register("amount_parse_roundtrip", """
    SELECT l_orderkey, l_linenumber,
           CASE WHEN (l_orderkey + l_linenumber) % 4 = 1 THEN -c ELSE c END
               AS amount_cents
    FROM (SELECT l_orderkey, l_linenumber,
                 CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS c
          FROM lineitem)
""")
def amount_parse_roundtrip(spark, sf_dir):
    """P1 mapping: render prices in UK statement conventions
    (commas, parentheses-negative) and parse them back vectorized.
    The rendered string is built from exact integer cents (whole part
    thousands-grouped, fraction zero-padded) so the round-trip target
    is engine-independent; output is signed integer cents."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    from .kernels.amounts import parse_amount_batch

    @pandas_udf(LongType())
    def parse_uk_cents(raw: pd.Series) -> pd.Series:
        amounts = parse_amount_batch(raw)["amount"]
        ok = amounts.notna()
        out = pd.Series(pd.NA, index=raw.index, dtype="Int64")
        # Decimal(x.yz) * 100 is exact in decimal arithmetic; the
        # float64 hop is exact for |cents| < 2^53
        out.loc[ok] = (amounts[ok] * 100).astype("float64").round().astype("Int64")
        return out

    from .parallel import spread
    # scan-parallelism floor: lineitem is one small file -> one scan
    # task, which would run the whole pandas-UDF parse on a single core
    li = spread(_read(spark, sf_dir, "lineitem")
                .select("l_orderkey", "l_linenumber", "l_extendedprice"))
    cents = F.floor(F.col("l_extendedprice") * 100).cast("long")
    whole = F.floor(cents / 100).cast("long")
    frac = F.lpad((cents % 100).cast("string"), 2, "0")
    base = F.concat(F.format_number(whole, 0), F.lit("."), frac)
    styled = F.when((F.col("l_orderkey") + F.col("l_linenumber")) % 4 == 1,
                    F.concat(F.lit("("), base, F.lit(")"))) \
              .otherwise(base)
    return li.select("l_orderkey", "l_linenumber",
                     parse_uk_cents(styled).alias("amount_cents"))


@register("date_like_flags", r"""
    SELECT o_orderkey,
           regexp_matches(strftime(o_orderdate, '%d/%m/%Y'),
               '\d{1,2}[/\-\.]\d{1,2}[/\-\.]\d{2,4}') AS date_like,
           regexp_matches(o_orderpriority,
               '\d{1,2}[/\-\.]\d{1,2}[/\-\.]\d{2,4}') AS priority_date_like
    FROM orders
""")
def date_like_flags(spark, sf_dir):
    """P4 mapping: pure-regex predicate evaluated natively (rlike)."""
    orders = _read(spark, sf_dir, "orders")
    pat = r"\d{1,2}[/\-\.]\d{1,2}[/\-\.]\d{2,4}"
    return orders.select(
        "o_orderkey",
        F.date_format("o_orderdate", "dd/MM/yyyy").rlike(pat).alias("date_like"),
        F.col("o_orderpriority").rlike(pat).alias("priority_date_like"),
    )


@register("first_last_window", """
    SELECT user_id,
           MIN(first_v) AS opening_micros, MIN(last_v) AS closing_micros
    FROM (
        SELECT user_id,
               FIRST_VALUE(CAST(FLOOR(value * 1000000) AS BIGINT)) OVER w AS first_v,
               LAST_VALUE(CAST(FLOOR(value * 1000000) AS BIGINT)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_v
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
    GROUP BY user_id
""")
def first_last_window(spark, sf_dir):
    """W7 mapping: opening/closing picks = first/last over a window
    (the reference scans first/last balance-marker rows).  Integer
    micros keep the cross-engine comparison exact."""
    ev = _read(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    v = F.floor(F.col("value") * 1000000).cast("long")
    return (ev.select("user_id",
                      F.first(v).over(w).alias("first_v"),
                      F.last(v).over(w).alias("last_v"))
            .groupBy("user_id")
            .agg(F.min("first_v").alias("opening_micros"),
                 F.min("last_v").alias("closing_micros")))


@register("signed_direction_case2", """
    SELECT l_orderkey, l_linenumber,
           CASE WHEN (l_orderkey + l_linenumber) % 3 = 1 THEN 'DEBIT'
                WHEN CAST(l_extendedprice AS DECIMAL(15,2)) = 0 THEN 'UNKNOWN'
                ELSE 'CREDIT' END AS direction
    FROM lineitem
""")
def signed_direction_case2(spark, sf_dir):
    """W3 (solver case 2) mapping: sign-convention parse -> direction.
    Strings are rendered with parens/DR negatives by row parity; the
    kernel's _parse_signed_amount port decides the direction."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    from .kernels.solver import signed_direction_batch

    @pandas_udf(StringType())
    def direction_of(raw: pd.Series) -> pd.Series:
        return signed_direction_batch(raw)

    li = _read(spark, sf_dir, "lineitem")
    base = F.format_number(F.col("l_extendedprice").cast("decimal(15,2)"), 2)
    styled = F.when((F.col("l_orderkey") + F.col("l_linenumber")) % 3 == 1,
                    F.when((F.col("l_orderkey")) % 2 == 0,
                           F.concat(F.lit("("), base, F.lit(")")))
                     .otherwise(F.concat(base, F.lit(" DR")))) \
              .otherwise(base)
    return li.select("l_orderkey", "l_linenumber",
                     direction_of(styled).alias("direction"))


# each document's distinct lowered tokens (the two template oracles)
_TEMPLATE_TOKS_SQL = r"""toks AS (
        SELECT doc_id, source,
               list_distinct(string_split(
                   lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS tokens
        FROM documents)"""


@register("fingerprint_template_match", f"""
    WITH {_TEMPLATE_TOKS_SQL},
    templates AS (
        SELECT source AS template_source, tokens AS template_tokens
        FROM (SELECT source, tokens,
                     ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
              FROM toks) WHERE rn = 1),
    scored AS (
        SELECT t.doc_id, tp.template_source,
               len(list_intersect(t.tokens, tp.template_tokens)) AS inter_size,
               len(t.tokens) + len(tp.template_tokens)
                 - len(list_intersect(t.tokens, tp.template_tokens)) AS union_size
        FROM toks t, templates tp)
    SELECT doc_id, template_source,
           ROUND(0.3 + 0.7 * (inter_size * 1.0 / union_size), 6) AS score
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
              ORDER BY inter_size * 1.0 / union_size DESC, template_source ASC) AS rn
          FROM scored) WHERE rn = 1
      AND 0.3 + 0.7 * (inter_size * 1.0 / union_size) >= 0.5
""")
def fingerprint_template_match(spark, sf_dir):
    """C7 mapping (api/fingerprints.py:287-357): Jaccard of token sets
    against a broadcast template dimension, score = 0.3 + 0.7*jaccard,
    accept at >= 0.5, best template per document."""
    docs = _read(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source",
        F.array_distinct(F.split(
            F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))), " ")).alias("tokens"))
    w = Window.partitionBy("source").orderBy("doc_id")
    templates = (toks.withColumn("rn", F.row_number().over(w)).where("rn = 1")
                 .select(F.col("source").alias("template_source"),
                         F.col("tokens").alias("template_tokens")))
    inter = F.size(F.array_intersect("tokens", "template_tokens"))
    union = F.size("tokens") + F.size("template_tokens") - inter
    scored = (toks.crossJoin(F.broadcast(templates))
              .withColumn("inter_size", inter)
              .withColumn("union_size", union)
              .withColumn("jac", F.col("inter_size") * 1.0 / F.col("union_size")))
    wbest = Window.partitionBy("doc_id").orderBy(F.desc("jac"), F.asc("template_source"))
    return (scored.withColumn("rn", F.row_number().over(wbest)).where("rn = 1")
            .withColumn("score", F.round(0.3 + 0.7 * F.col("jac"), 6))
            .where(0.3 + 0.7 * F.col("jac") >= 0.5)
            .select("doc_id", "template_source", "score"))


@register("template_store_match", f"""
    WITH {_TEMPLATE_TOKS_SQL},
    versions AS (
        SELECT source AS template_name, tokens AS fingerprint_tokens,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS version_number
        FROM toks QUALIFY version_number <= 2),
    latest AS (
        SELECT template_name, version_number, fingerprint_tokens
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY template_name
                                           ORDER BY version_number DESC) AS rn
              FROM versions) WHERE rn = 1),
    scored AS (
        SELECT t.doc_id, l.template_name, l.version_number,
               len(list_intersect(t.tokens, l.fingerprint_tokens)) AS i,
               len(t.tokens) + len(l.fingerprint_tokens)
                 - len(list_intersect(t.tokens, l.fingerprint_tokens)) AS u
        FROM toks t, latest l)
    SELECT doc_id, template_name,
           CAST(version_number AS INT) AS matched_version,
           ROUND(0.3 + 0.7 * (i * 1.0 / u), 6) AS score
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
              ORDER BY i * 1.0 / u DESC, template_name ASC) AS rn
          FROM scored)
    WHERE rn = 1 AND 0.3 + 0.7 * (i * 1.0 / u) >= 0.5
""")
def template_store_match(spark, sf_dir):
    """Template store (templates x template_versions,
    tables.py:426-491) + match API (fingerprints.py:287-357): build a
    versioned dimension from the corpus, select the LATEST version per
    template, match every document against it."""
    from .io.templates import build_template_store, match_to_templates
    docs = _read(spark, sf_dir, "documents")
    store = build_template_store(docs, versions_per_template=2)
    return match_to_templates(docs, store)


# ───────────────────── training-data pipeline operators ─────────────

@register("dedup_exact_groups", """
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0)
    SELECT lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS content_key,
           MIN(doc_id) AS keep_id, COUNT(*) AS group_size
    FROM corpus
    GROUP BY 1 HAVING COUNT(*) > 1
""")
def dedup_exact_groups(spark, sf_dir):
    """Exact dedup (hash-groupBy).  The corpus is salted with known
    duplicates (doc_id%5) so the group structure is non-trivial."""
    docs = _read(spark, sf_dir, "documents")
    dups = docs.where(F.col("doc_id") % 5 == 0) \
               .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    corpus = docs.select("doc_id", "text").unionByName(dups)
    normed = corpus.select("doc_id", dedup.normalize_text(F.col("text")).alias("content_key"))
    return (normed.groupBy("content_key")
            .agg(F.min("doc_id").alias("keep_id"),
                 F.count(F.lit(1)).alias("group_size"))
            .where(F.col("group_size") > 1))


# each document's normalized lowered words, and their distinct word
# 3-shingles (the dedup oracles)
_WORDS_SQL = r"""words AS (
        SELECT doc_id,
               string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS w
        FROM documents)"""
_SHINGLED_SQL = """shingled AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(w) >= 3
                   THEN list_transform(range(1, len(w) - 1),
                                       i -> array_to_string(list_slice(w, i, i + 2), ' '))
                   ELSE [array_to_string(w, ' ')] END) AS shingles
        FROM words)"""


@register("dedup_ngram_jaccard", f"""
    WITH {_WORDS_SQL},
    {_SHINGLED_SQL},
    sized AS (SELECT doc_id, shingles, len(shingles) AS n FROM shingled),
    exploded AS (SELECT doc_id, n, unnest(shingles) AS shingle FROM sized),
    pairs AS (
        SELECT l.doc_id AS a, r.doc_id AS b, l.n AS na, r.n AS nb, COUNT(*) AS common
        FROM exploded l JOIN exploded r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
        GROUP BY 1, 2, 3, 4)
    SELECT a, b, ROUND(common * 1.0 / (na + nb - common), 6) AS jaccard
    FROM pairs WHERE common * 1.0 / (na + nb - common) >= 0.5
""")
def dedup_ngram_jaccard(spark, sf_dir):
    """n-gram Jaccard near-dup pairs (shingle self-join)."""
    docs = _read(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, threshold=0.5)


# 60-bit cross-engine hash (see datapipe.dedup.hash60): identical
# int64 in Spark (conv/substring/md5) and DuckDB (CAST '0x..' hex)
_H60_SQL = "CAST('0x' || substr(md5({s}), 1, 15) AS BIGINT)"
_MERSENNE = (1 << 31) - 1
_MH_B_MULT = 0x9E3779B9  # same coefficients as dedup.minhash_signatures
_MH_B_ADD = 0x85EBCA6B


@register("dedup_minhash_lsh", f"""
    WITH {_WORDS_SQL},
    {_SHINGLED_SQL},
    hashed AS (
        SELECT doc_id,
               list_transform(shingles, s -> {_H60_SQL.format(s='s')} % {_MERSENNE}) AS hs
        FROM shingled),
    sigs AS (
        SELECT doc_id,
               list_transform(range(0, 64), i ->
                   list_min(list_transform(hs, h ->
                       (h * (2*i + 1) + ((i * {_MH_B_MULT} + {_MH_B_ADD}) % {_MERSENNE}))
                       % {_MERSENNE}))) AS signature
        FROM hashed),
    banded AS (
        SELECT doc_id, signature, band,
               array_to_string(list_slice(signature, band*4 + 1, band*4 + 4), '_') AS bucket
        FROM sigs CROSS JOIN (SELECT unnest(range(0, 16)) AS band)),
    cand AS (
        SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
                        l.signature AS sa, r.signature AS sb
        FROM banded l JOIN banded r
          ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id)
    SELECT a, b,
           ROUND(len(list_filter(range(1, 65), k -> sa[k] = sb[k])) / 64.0, 6)
               AS est_jaccard
    FROM cand
    WHERE len(list_filter(range(1, 65), k -> sa[k] = sb[k])) / 64.0 >= 0.5
""")
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup pairs (shingle->minhash->band->bucket-join).
    The whole cascade — hash60 shingle hashes, 64 affine permutations
    (a=2i+1, b=i*0x9E3779B9+0x85EBCA6B mod p), 16x4 band keys,
    candidate join, est_jaccard >= 0.5 — is integer arithmetic, so the
    oracle reproduces it exactly; recall vs exact jaccard additionally
    tested in tests/test_entry_contract.py."""
    docs = _read(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(docs, threshold=0.5)


@register("dedup_simhash", f"""
    WITH {_WORDS_SQL},
    hs AS (SELECT doc_id,
                  list_transform(w, tk -> {_H60_SQL.format(s='tk')}) AS hs,
                  len(w) AS n
           FROM words),
    fp AS (SELECT doc_id,
                  CAST(list_sum(list_transform(range(0, 60), j ->
                      CASE WHEN 2 * len(list_filter(hs, h -> ((h >> j) & 1) = 1)) > n
                           THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS BIGINT) AS simhash
           FROM hs),
    blocked AS (
        SELECT doc_id, simhash, k AS block,
               (simhash >> (15 * CAST(k AS INTEGER))) & 32767 AS key
        FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS k)),
    pairs AS (
        SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
                        l.simhash AS ha, r.simhash AS hb
        FROM blocked l JOIN blocked r
          ON l.block = r.block AND l.key = r.key AND l.doc_id < r.doc_id)
    SELECT a, b, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
    FROM pairs WHERE bit_count(xor(ha, hb)) <= 3
""")
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup pairs (banded hamming blocking).  All bit
    arithmetic on hash60 values — exactly reproducible in the oracle.
    max_hamming=3 matches the 4-block pigeonhole guarantee: pairs at
    hamming 4+ may miss every block, so a larger filter would claim
    recall the blocking cannot deliver."""
    docs = _read(spark, sf_dir, "documents")
    return dedup.simhash_near_dups(docs, max_hamming=3)


# each query's top 10 by cosine, ties to the lower vec_id (the ANN
# oracles)
_ANN_TOP10_SQL = """
    ranked AS (
        SELECT query_id, vec_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, vec_id ASC) AS rank
        FROM scored)
    SELECT query_id, vec_id, ROUND(cosine, 6) AS cosine, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 10
"""


@register("ann_cosine_topk", f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
               FROM embeddings WHERE vec_id < 5),
    corpus AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
               FROM embeddings),
    scored AS (
        SELECT q.query_id, c.vec_id,
               list_sum(list_transform(range(1, len(c.vec) + 1),
                        i -> c.vec[i] * CAST(q.qvec[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(c.vec, x -> x * x)))
                  * sqrt(list_sum(list_transform(q.qvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
               AS cosine
        FROM corpus c, q WHERE c.vec_id <> q.query_id),{_ANN_TOP10_SQL}""")
def ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k baseline (exact, broadcast queries)."""
    emb = _read(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = similarity.brute_force_topk(emb, q, k=10)
    return out.withColumn("rank", F.col("rank").cast("int"))


@register("dedup_embedding_cosine", """
    WITH corpus AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        FROM embeddings WHERE vec_id < 200),
    pairs AS (
        SELECT a.vec_id AS a, b.vec_id AS b,
               list_sum(list_transform(range(1, len(a.vec) + 1),
                        i -> a.vec[i] * b.vec[i]))
               / (sqrt(list_sum(list_transform(a.vec, x -> x * x)))
                  * sqrt(list_sum(list_transform(b.vec, x -> x * x)))) AS cosine
        FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id)
    SELECT a, b, ROUND(cosine, 6) AS cosine
    FROM pairs WHERE cosine >= 0.35
""")
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs (exact threshold join on a
    bounded slice; the LSH variant is the scale path).  Threshold 0.35
    sits at the ~99.9th percentile of this corpus's random-embedding
    cosine distribution, so the oracle checks ~40 real pairs instead
    of an empty set."""
    from .datapipe.similarity import cosine_col
    emb = _read(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    corpus = emb.select(F.col("vec_id").alias("a"),
                        F.col("embedding").cast("array<double>").alias("va"))
    other = emb.select(F.col("vec_id").alias("b"),
                       F.col("embedding").cast("array<double>").alias("vb"))
    return (corpus.join(other, F.col("a") < F.col("b"))
            .withColumn("cosine", cosine_col(F.col("va"), F.col("vb")))
            .where(F.col("cosine") >= 0.35)
            .select("a", "b", F.round("cosine", 6).alias("cosine")))


_LSH_DIM = 64       # testdata embedding dimension (all scale factors)
_LSH_PLANES = 4
_LSH_TABLES = 8


def _ann_lsh_sql() -> str:
    """Oracle for the hyperplane-LSH top-k: the hyperplanes are
    deterministic (seeded numpy), so their exact float values are
    inlined as SQL literals; projections use a sequential left fold
    (list_reduce) matching Spark's F.aggregate order bit-for-bit, so
    bucket signs — and therefore candidate sets — agree exactly."""
    from .datapipe.similarity import _hyperplanes

    def fold_dot(vec: str, lits: list[float]) -> str:
        arr = "[" + ", ".join(repr(float(c)) for c in lits) + "]"
        return (f"list_reduce(list_prepend(0.0, list_transform(range(1, {_LSH_DIM + 1}),"
                f" i -> {vec}[i] * ({arr})[i])), (a, x) -> a + x)")

    def bucket(vec: str, t: int) -> str:
        planes = _hyperplanes(_LSH_DIM, _LSH_PLANES, seed=7 + t)
        bits = [f"(CASE WHEN {fold_dot(vec, p)} >= 0 THEN {1 << j} ELSE 0 END)"
                for j, p in enumerate(planes)]
        return " + ".join(bits)

    c_branches = " UNION ALL ".join(
        f"SELECT vec_id, v, {t} AS tbl, {bucket('v', t)} AS bucket FROM corpus"
        for t in range(_LSH_TABLES))
    q_branches = " UNION ALL ".join(
        f"SELECT query_id, qv, {t} AS tbl, {bucket('qv', t)} AS bucket FROM q"
        for t in range(_LSH_TABLES))
    return f"""
    WITH corpus AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
    q AS (
        SELECT vec_id AS query_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        FROM embeddings WHERE vec_id < 5),
    cb AS ({c_branches}),
    qb AS ({q_branches}),
    cand AS (
        SELECT DISTINCT qb.query_id, qb.qv, cb.vec_id, cb.v
        FROM cb JOIN qb ON cb.tbl = qb.tbl AND cb.bucket = qb.bucket
        WHERE cb.vec_id <> qb.query_id),
    scored AS (
        SELECT query_id, vec_id,
               list_sum(list_transform(range(1, {_LSH_DIM + 1}), i -> v[i] * qv[i]))
               / (sqrt(list_sum(list_transform(v, x -> x * x)))
                  * sqrt(list_sum(list_transform(qv, x -> x * x)))) AS cosine
        FROM cand),{_ANN_TOP10_SQL}    """


@register("ann_lsh_topk", _ann_lsh_sql())
def ann_lsh_topk(spark, sf_dir):
    """Hyperplane-LSH top-k; fully oracle-checked (deterministic
    planes + order-exact folds) and recall-tested vs brute force."""
    emb = _read(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    # wide-recall config: 16 buckets x 8 tables (random embeddings have
    # weak neighbourhood structure, so candidate sets must stay broad)
    return similarity.lsh_topk(emb, q, k=10, n_planes=_LSH_PLANES,
                               tables=_LSH_TABLES, dim=_LSH_DIM)


def _ann_ivf_sql() -> str:
    """Oracle for the IVF top-k.  Possible because the Lloyd step uses
    QUANTIZED integer sums (order-independent, engine-exact); the
    float cosine expressions reuse the fold patterns that already
    hash-match in ann_cosine_topk."""
    from .datapipe.similarity import IVF_QUANT

    def cos(a: str, b: str) -> str:
        return (f"list_sum(list_transform(range(1, 65), j -> {a}[j] * {b}[j]))"
                f" / (sqrt(list_sum(list_transform({a}, x -> x * x)))"
                f" * sqrt(list_sum(list_transform({b}, x -> x * x))))")

    return f"""
    WITH corpus AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings),
    seeds AS (
        SELECT vec_id AS centroid_id, v AS cvec FROM corpus
        ORDER BY vec_id LIMIT 16),
    a0 AS (
        SELECT c.vec_id, c.v, s.centroid_id, {cos('c.v', 's.cvec')} AS cos
        FROM corpus c, seeds s),
    assigned AS (
        SELECT vec_id, v, centroid_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                ORDER BY cos DESC, centroid_id ASC) AS rn FROM a0)
        WHERE rn = 1),
    cells AS (
        SELECT centroid_id, pos,
               CAST(SUM(CAST(FLOOR(val * {IVF_QUANT}) AS BIGINT)) AS BIGINT) AS s,
               COUNT(*) AS n
        FROM (SELECT centroid_id, p AS pos, v[p] AS val
              FROM assigned, UNNEST(range(1, len(v) + 1)) AS t(p))
        GROUP BY centroid_id, pos),
    centroids AS (
        SELECT centroid_id, list(mean ORDER BY pos) AS cvec
        FROM (SELECT centroid_id, pos, s / (n * {float(IVF_QUANT)}) AS mean
              FROM cells)
        GROUP BY centroid_id),
    inv0 AS (
        SELECT c.vec_id, c.v, k.centroid_id, {cos('c.v', 'k.cvec')} AS cos
        FROM corpus c, centroids k),
    inv AS (
        SELECT vec_id, v, centroid_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                ORDER BY cos DESC, centroid_id ASC) AS rn FROM inv0)
        WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, v AS qv FROM corpus WHERE vec_id < 5),
    qp0 AS (
        SELECT q.query_id, q.qv, k.centroid_id, {cos('q.qv', 'k.cvec')} AS cos
        FROM q, centroids k),
    qprobe AS (
        SELECT query_id, qv, centroid_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY cos DESC, centroid_id ASC) AS rn FROM qp0)
        WHERE rn <= 4),
    scored AS (
        SELECT p.query_id, i.vec_id, {cos('i.v', 'p.qv')} AS cosine
        FROM inv i JOIN qprobe p ON i.centroid_id = p.centroid_id
        WHERE i.vec_id <> p.query_id),{_ANN_TOP10_SQL}    """


@register("ann_ivf_topk", _ann_ivf_sql())
def ann_ivf_topk(spark, sf_dir):
    """IVF top-k (scale variant); fully oracle-checked thanks to the
    quantized (order-independent) Lloyd step."""
    emb = _read(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return similarity.ivf_topk(emb, q, k=10)


# snapshot path -> key of the input this process last wrote there
_SNAPSHOT_KEYS: dict[str, object] = {}


def _snapshot(df: DataFrame, path: str, key) -> DataFrame:
    """Write `df` to `path` unless this process already wrote it there
    under `key` (e.g. the corpus directory), then read it back: an
    engine and its oracle read the same snapshotted input."""
    if _SNAPSHOT_KEYS.get(path) != key:
        df.write.mode("overwrite").parquet(path)
        _SNAPSHOT_KEYS[path] = key
    return df.sparkSession.read.parquet(path)


def _payload_digest(snap: DataFrame) -> DataFrame:
    """(doc_id, n_bytes, payload_digest) of snapshotted page payloads;
    the digest is over the lowercase hex because DuckDB 1.0 has no
    sha256(BLOB)."""
    return snap.select(
        "doc_id",
        F.length("payload").cast("long").alias("n_bytes"),
        F.sha2(F.lower(F.hex("payload")), 256).alias("payload_digest"))


MEDIA_SNAPSHOT = "/tmp/updx_oracle_inputs/media.parquet"


def _multimodal_sql() -> str:
    """Oracle for the multimodal features: n_bytes/sha256 from the
    snapshotted payload BLOBs, geometry from metadata, and the signal
    sums RE-DERIVED from the deterministic content formulas — while
    the engine derives them by actually decoding the BMP/WAV bytes, so
    a decode defect (row order, padding, channel order, chunk walk)
    breaks the hash."""
    from .datapipe.multimodal import (
        AUD_A,
        AUD_I,
        AUDIO_N,
        PIX_A,
        PIX_C,
        PIX_X,
        PIX_Y,
    )
    return rf"""
    WITH m AS (
        SELECT media_id, kind, width, height, payload
        FROM read_parquet('{MEDIA_SNAPSHOT}/*.parquet')),
    sig AS (
        SELECT media_id, kind,
               CAST(octet_length(payload) AS BIGINT) AS n_bytes,
               -- DuckDB 1.0 has no sha256(BLOB); digest the lowercase
               -- hex encoding instead (Spark side mirrors exactly)
               sha256(lower(hex(payload))) AS payload_digest,
               CASE WHEN kind <> 'audio' THEN width END AS width,
               CASE WHEN kind <> 'audio' THEN height END AS height,
               CASE WHEN kind = 'audio'
                    THEN list_transform(range(0, {AUDIO_N}),
                         i -> ((media_id * {AUD_A} + i * {AUD_I}) % 65536)
                              - 32768)
                    ELSE list_transform(range(0, width * height * 3),
                         j -> (media_id * {PIX_A}
                               + (j // (width * 3)) * {PIX_Y}
                               + ((j % (width * 3)) // 3) * {PIX_X}
                               + (j % 3) * {PIX_C}) % 256)
               END AS signal
        FROM m)
    SELECT media_id, kind, n_bytes, payload_digest,
           CAST(width AS INT) AS width, CAST(height AS INT) AS height,
           CAST(len(signal) AS BIGINT) AS n_samples,
           CAST(list_sum(signal) AS BIGINT) AS signal_sum,
           CAST(least(8, len(signal)) AS INT) AS frames_sampled,
           CAST(list_sum(list_transform(
               range(0, least(8, len(signal))),
               k -> signal[1 + (k * (len(signal) - 1))
                           // greatest(least(8, len(signal)) - 1, 1)]))
               AS BIGINT) AS frame_sum
    FROM sig
    """


@register("multimodal_features", _multimodal_sql())
def multimodal_features(spark, sf_dir):
    """Multimodal processing: binary media columns -> flat feature
    table via REAL 24-bit-BMP / PCM16-WAV decode (pure numpy, public
    formats), oracle-checked against formula re-derivations over the
    snapshotted payloads (see _multimodal_sql)."""
    from .datapipe.multimodal import extract_features, synthetic_media
    snap = _snapshot(synthetic_media(spark, n=256), MEDIA_SNAPSHOT, 256)
    digest = snap.select(
        "media_id",
        F.sha2(F.lower(F.hex("payload")), 256).alias("payload_digest"))
    # the raw-bytes sha256 needs a BLOB hash DuckDB 1.0 lacks; it stays
    # pytest-pinned (test_multimodal) while the hex digest carries the
    # cross-engine payload-identity check
    return (extract_features(snap).drop("content_sha256")
            .join(digest, "media_id"))


RASTER_SNAPSHOT = "/tmp/updx_oracle_inputs/raster_pages.parquet"


def _raster_sql() -> str:
    """Oracle for the raster preprocessing path (SURVEY §2.7, S2 +
    R1-R4): the engine detects orientation / skew / profile from the
    page PIXELS alone, while the oracle re-derives the expected
    outputs from the snapshot's ground-truth synthesis parameters and
    the reference's decision rules (rotate when rot!=0 & conf>0.5,
    deskew when 0.5<|angle|<15, profile ladder 0.85/0.70/0.50 with
    enhancement skipped at >=0.85 — renderer.py:90,141,214-240).  A
    wrong rot90 direction, an off-by-one shear, or a mis-ordered
    profile ladder breaks the hash."""
    return f"""
    SELECT doc_id,
           CAST(base_w AS INT) AS width,
           CAST(base_h AS INT) AS height,
           CAST(rot_deg AS INT) AS orientation_detected,
           rot_deg <> 0 AS rotation_applied,
           CAST(skew_milli AS BIGINT) AS skew_milli,
           (abs(skew_milli) > 500 AND abs(skew_milli) < 15000) AS skew_applied,
           CASE WHEN conf_micros >= 850000 THEN 'none'
                WHEN conf_micros >= 700000 THEN 'B_adaptive_threshold'
                WHEN conf_micros >= 500000 THEN 'C_denoise_sharpen'
                ELSE 'D_high_contrast' END AS profile,
           CAST(octet_length(payload) AS BIGINT) AS n_bytes,
           sha256(lower(hex(payload))) AS payload_digest
    FROM read_parquet('{RASTER_SNAPSHOT}/*.parquet')
    """


@register("raster_preprocess", _raster_sql())
def raster_preprocess(spark, sf_dir):
    """Raster page preprocessing (S2 render + R1 orientation + R2
    deskew + R3 enhancement + R4 composition, renderer.py:37-242):
    documents -> deterministic synthetic page bitmaps (real BMP bytes
    in a binary column) -> one shuffle-free mapInPandas pass that
    detects orientation and skew from pixels, corrects them, and
    applies the confidence-keyed enhancement ladder.  Oracle-checked
    against the snapshot's ground-truth parameters (_raster_sql)."""
    from .datapipe.raster import preprocess_pages, render_pages
    snap = _snapshot(render_pages(_read(spark, sf_dir, "documents")),
                     RASTER_SNAPSHOT, sf_dir)
    out = preprocess_pages(snap)
    # orientation_conf / out_sha256 / ink_ratio are engine-measured
    # diagnostics with no SQL re-derivation; they stay pytest-pinned
    # (tests/test_raster.py) while the detection outcomes are hashed
    return (out.select("doc_id", "width", "height", "orientation_detected",
                       "rotation_applied", "skew_milli", "skew_applied",
                       "profile")
            .join(F.broadcast(_payload_digest(snap)), "doc_id"))


TABLE_SNAPSHOT = "/tmp/updx_oracle_inputs/raster_tables.parquet"
# ground-truth grid and payload identity (the two table oracles)
_GT_TABLE_SQL = """CAST(gt_rows AS INT) AS n_rows,
           CAST(gt_cols AS INT) AS n_cols,
           CAST(gt_x0 AS INT) AS bbox_x0, CAST(gt_y0 AS INT) AS bbox_y0,
           CAST(gt_x1 AS INT) AS bbox_x1, CAST(gt_y1 AS INT) AS bbox_y1,
           CAST(gt_filled AS INT) AS n_cells_filled,
           CAST(octet_length(payload) AS BIGINT) AS n_bytes,
           sha256(lower(hex(payload))) AS payload_digest"""


def _raster_tables_sql() -> str:
    """Oracle for the raster table-extraction tiers (S7 tabula/camelot
    analogues): the engine detects mode / grid shape / bbox / filled
    cells from the page PIXELS alone; the oracle re-reads the
    snapshot's ground truth (the draw plan's geometry, measured from
    the drawing commands at synthesis time — never from the
    detector)."""
    return f"""
    SELECT doc_id, gt_mode AS mode,
           {_GT_TABLE_SQL}
    FROM read_parquet('{TABLE_SNAPSHOT}/*.parquet')
    """


@register("raster_table_extract", _raster_tables_sql())
def raster_table_extract(spark, sf_dir):
    """S7 raster table-extraction tiers (tabula analogue
    orchestrator.py:982-1173, camelot analogue :1174-1341): documents
    -> synthetic table pages (real BMP bytes) -> one shuffle-free
    mapInPandas pass that detects ruling-line (lattice) tables first
    and falls back to whitespace-gap (stream) detection — the
    north-star's two table-detection heuristics, exercised on pixels
    and oracle-checked against the snapshot's ground truth."""
    from .datapipe.raster import extract_tables, render_table_pages
    snap = _snapshot(render_table_pages(_read(spark, sf_dir, "documents")),
                     TABLE_SNAPSHOT, sf_dir)
    return extract_tables(snap).join(F.broadcast(_payload_digest(snap)), "doc_id")


SKEWED_TBL_SNAPSHOT = "/tmp/updx_oracle_inputs/raster_skewed_tables.parquet"


def _raster_deskew_tables_sql() -> str:
    """Oracle for the composed R2∘S7 pipeline: ground truth carries
    the CANONICAL skew (the ink-support tie representative the
    detector must report — datapipe/raster.py:canonical_skew_milli)
    and the upright table geometry; the engine must first recover the
    shear from pixels, correct it, then detect the grid."""
    return f"""
    SELECT doc_id,
           CAST(gt_skew_milli AS BIGINT) AS skew_milli,
           gt_skew_applied AS skew_applied,
           gt_mode AS mode,
           {_GT_TABLE_SQL}
    FROM read_parquet('{SKEWED_TBL_SNAPSHOT}/*.parquet')
    """


@register("raster_deskew_table_extract", _raster_deskew_tables_sql())
def raster_deskew_table_extract(spark, sf_dir):
    """Composed raster pipeline (R2 ∘ S7, the preprocess→table-engine
    hand-off of renderer.py:221-242 → orchestrator table tiers):
    sheared table pages in, one shuffle-free mapInPandas pass that
    detects the shear, corrects it under the 0.5°<|θ|<15° gate, and
    runs lattice/stream table detection on the corrected pixels —
    both stages' outputs hash-checked against synthesis ground truth
    in a single query, so an error ANYWHERE in the composition
    (wrong angle, wrong correction direction, detection on
    uncorrected pixels) breaks the hash."""
    from .datapipe.raster import deskew_and_extract, render_skewed_table_pages
    snap = _snapshot(render_skewed_table_pages(_read(spark, sf_dir, "documents")),
                     SKEWED_TBL_SNAPSHOT, sf_dir)
    return deskew_and_extract(snap).join(F.broadcast(_payload_digest(snap)), "doc_id")


# ───────────────── transcripts snapshot and shared oracle SQL ──────

# The synthetic transcripts corpus is not part of the driver's parquet
# tables, so the transcripts queries snapshot their (deterministic)
# input here; the oracle SQL reads the same snapshot.  The driver runs
# each query before its oracle, so the write always precedes the read.
# Single-driver assumption: the path is shared per host — two
# concurrent correctness drivers at different scale factors would
# clobber each other (the driver protocol runs one at a time).
TRANSCRIPTS_SNAPSHOT = "/tmp/updx_oracle_inputs/transcripts.parquet"


def _ensure_snapshot(spark, sf_dir) -> DataFrame:
    """Write (once per process per size) and read the transcripts
    snapshot both engines share."""
    sf = sf_from_dir(sf_dir)
    n_convs = min(n_convs_for_sf(sf), 2_000)  # cap correctness-run size
    return _snapshot(transcripts_sdf(spark, n_convs), TRANSCRIPTS_SNAPSHOT, n_convs)


def _pipeline_outputs(spark, sf_dir):
    return run_pipeline(_ensure_snapshot(spark, sf_dir))


def _payload():
    """A turn's payload: its text, else its tool output, else ''."""
    text_ok = F.col("text").isNotNull() & (F.col("text") != "")
    tool_ok = F.col("tool").isNotNull() & (F.col("tool") != "")
    return F.when(text_ok, F.col("text")).when(tool_ok, F.col("tool")) \
            .otherwise(F.lit(""))


def _sql_regex(pattern: str) -> str:
    """Escape a Java/RE2-compatible regex for a DuckDB string literal."""
    return pattern.replace("'", "''")


_BOILERPLATE_SQL = _sql_regex(BOILERPLATE_RLIKE)
_MARKER_SQL = _sql_regex(BALANCE_MARKER_RLIKE)
# a money token (the pattern tier's _PATTERN_MONEY_RE): optional
# paren/minus/currency, grouped or plain digits, mandatory pence,
# optional trailing paren/minus
_MONEY_TOKEN_RE = ("^\\(?-?[" + chr(163) + chr(36) + chr(8364)
                   + r"]?(?:\d{1,3}(?:,\d{3})+|\d+)\.\d{2}\)?-?$")


def _tok_cents_abs(expr: str) -> str:
    """Exact unsigned cents of a money-regex-matched token."""
    return rf"""(CAST(replace(regexp_extract({expr}, '(\d[\d,]*)\.', 1),
                             ',', '') AS BIGINT) * 100
                + CAST(regexp_extract({expr}, '\.(\d{{2}})', 1) AS BIGINT))"""


def _tok_cents(expr: str) -> str:
    """parse_amount of a money-regex-matched token, exact cents: sign
    from a leading paren or a leading or trailing minus."""
    return rf"""(CASE WHEN {expr} LIKE '(%' OR {expr} LIKE '-%'
                          OR {expr} LIKE '%-' THEN -1 ELSE 1 END)
             * {_tok_cents_abs(expr)}"""


def _try_date(expr: str) -> str:
    """The date-format ladder over `expr` (NULL when none parses)."""
    return f"""COALESCE(
            CAST(try_strptime({expr}, '%d/%m/%Y') AS DATE),
            CAST(try_strptime({expr}, '%d %b %Y') AS DATE),
            CAST(try_strptime({expr}, '%d/%m/%y') AS DATE),
            CAST(try_strptime({expr}, '%Y-%m-%d') AS DATE),
            CAST(try_strptime({expr}, '%d %B %Y') AS DATE),
            CAST(try_strptime({expr}, '%d%b%y') AS DATE))"""


def _pivot(expr: str) -> str:
    """Two-digit years: 19yy above 50, else 20yy."""
    return f"""CASE WHEN year({expr}) < 100
            THEN make_date(CASE WHEN year({expr}) % 100 > 50
                                THEN 1900 + year({expr}) % 100
                                ELSE 2000 + year({expr}) % 100 END,
                           month({expr}), day({expr}))
            ELSE {expr} END"""


# boundary score >= 0.8 <=> at least one strong 1.0 signal group
# matches (period/opening/account); the page-number signal alone
# contributes 0.4 < 0.8 (segmenter.py:49-96 semantics)
_STRONG_BOUNDARY_SQL = _sql_regex(
    f"(?:{STATEMENT_PERIOD_RLIKE})|(?:{OPENING_BALANCE_RLIKE})"
    f"|(?:{ACCOUNT_HEADER_RLIKE})")
# Shared CTE chain: raw transcripts snapshot -> per-turn view (payload
# routing, whitespace-normalized lines, top-band text, boundary flags,
# running segment index) — the tokenize+segment stages re-derived
# independently in SQL from the same pattern tables
# (kernels/patterns.py; layout.py turn_view semantics).
_TURNS_VIEW_SQL = rf"""
    turns_in AS (
        SELECT conv_id, turn_idx,
               CASE WHEN text IS NOT NULL AND text <> '' THEN 'TEXT'
                    WHEN tool IS NOT NULL AND tool <> '' THEN 'TOOL'
                    ELSE 'EMPTY' END AS extraction_path,
               CASE WHEN text IS NOT NULL AND text <> '' THEN text
                    WHEN tool IS NOT NULL AND tool <> '' THEN tool
                    ELSE '' END AS payload
        FROM read_parquet('{TRANSCRIPTS_SNAPSHOT}/*.parquet')),
    turn_lines AS (
        SELECT conv_id, turn_idx, extraction_path,
               list_transform(string_split(payload, chr(10)),
                              l -> trim(regexp_replace(l, '\s+', ' ', 'g'))) AS all_lines
        FROM turns_in),
    turn_view AS (
        SELECT conv_id, turn_idx, extraction_path,
               list_filter(all_lines, l -> l <> '') AS norm_lines,
               lower(array_to_string(
                   list_filter(list_transform(range(1, least(len(all_lines), 12) + 1),
                                              i -> all_lines[i]),
                               l -> l <> ''), ' ')) AS top_text
        FROM turn_lines),
    turn_scored AS (
        SELECT conv_id, turn_idx, extraction_path, norm_lines,
               (ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY turn_idx) = 1
                OR regexp_matches(top_text, '{_STRONG_BOUNDARY_SQL}')) AS is_boundary
        FROM turn_view),
    turn_segmented AS (
        SELECT conv_id, turn_idx, extraction_path,
               coalesce(array_to_string(list_filter(norm_lines,
                   l -> NOT regexp_matches(lower(l), '{_BOILERPLATE_SQL}')), chr(10)), '') AS clean_text,
               CAST(SUM(CASE WHEN is_boundary THEN 1 ELSE 0 END)
                    OVER (PARTITION BY conv_id ORDER BY turn_idx
                          ROWS UNBOUNDED PRECEDING) - 1 AS INT) AS segment_index,
               CAST(len(norm_lines) AS INT) AS n_lines,
               CAST(coalesce(list_sum(list_transform(norm_lines,
                   l -> len(string_split(l, ' ')))), 0) AS INT) AS n_tokens
        FROM turn_scored)
    """


def _on_turns_view(ctes: str) -> str:
    """An oracle of `ctes` (more CTEs, then the final SELECT) over the
    shared turns view."""
    return f"""
    WITH {_TURNS_VIEW_SQL},
    {ctes}
"""


def _records_delim_sql() -> str:
    """Generated oracle for the delimiter fallback tier's records (W9
    field extraction on the delimited-table slice): segments routed to
    the delim tier are re-parsed in SQL from the snapshot — delimiter
    cell split, keyword header mapping, positional row fields, date
    ladder with the yy>50 pivot, exact integer-cent amounts, b/f and
    summary-row skips, last-date carry, per-segment row numbering.

    Corpus-safe simplifications (each would matter only for header
    shapes absent from the snapshot corpus, mirroring the RE2 note on
    the classification oracle): header keyword categories are treated
    as non-overlapping (the kernel's if/elif chain only diverges when
    one header cell matches two categories), one column per role (the
    kernel collects every match), credit checked before debit when
    both parse on one row (the kernel's last-write order depends on
    column order), and amounts are plain/comma-grouped with optional
    leading minus (the delim corpus renders no parens/CR/DR forms).
    """
    return rf"""
    {_delim_ctes_body()}
    SELECT conv_id, segment_index,
           CAST(ROW_NUMBER() OVER (PARTITION BY conv_id, segment_index
                                   ORDER BY line_ord) - 1 AS INT) AS row_index,
           CAST(turn_idx AS INT) AS turn_idx,
           posted_date, description_raw, amount_cents, balance_cents, direction
    FROM recs
    """


def _delim_geometry_sql() -> str:
    """Per-segment delim-tier geometry (detected_tables diagnostics
    re-derivation): column_count = cells of the header line,
    header_row = the header's 0-based rank among the segment's
    delimiter-bearing lines (the engine's grid-local data_start - 1,
    segment_extract._fallback_delim_records)."""
    return rf"""
    {_delim_ctes_body()}
    SELECT h.conv_id, h.segment_index,
           CAST(len(m.cells) AS INT) AS column_count,
           CAST((SELECT COUNT(*) FROM delim_lines d
                 WHERE d.conv_id = h.conv_id
                   AND d.segment_index = h.segment_index
                   AND d.line_ord < h.header_ord) AS INT) AS header_row
    FROM header h
    JOIN mapped m ON m.conv_id = h.conv_id
                 AND m.segment_index = h.segment_index
                 AND m.line_ord = h.header_ord
    """


def _delim_ctes_body() -> str:
    """Shared delim-tier CTE chain (through `recs`): lines, delimiter
    cells, routing rule, keyword header mapping, field projection —
    reused by the records oracle and the routing-geometry oracle.

    line_ord packs (turn_idx, line_no) into one ordinal assuming
    < 100000 non-empty lines per turn — a corpus bound far above the
    payload sizes the generator emits (<= a few hundred); a turn
    exceeding it would alias into the next turn's ordinal space.
    """
    def kw(col: str, words: list[str]) -> str:
        tests = " OR ".join(f"lower(c) LIKE '%{w}%'" for w in words)
        return (f"list_position(list_transform(cells, c -> ({tests})), true)"
                f" AS {col}")

    def cents(expr: str) -> str:
        return rf"""CASE WHEN {expr} IS NOT NULL
                 AND regexp_matches({expr}, '^-?\d[\d,]*\.\d{{2}}$')
            THEN (CASE WHEN {expr} LIKE '-%' THEN -1 ELSE 1 END)
                 * (CAST(replace(regexp_extract({expr}, '^-?([\d,]+)\.', 1),
                                 ',', '') AS BIGINT) * 100
                    + CAST(regexp_extract({expr}, '\.(\d{{2}})$', 1) AS BIGINT))
            END"""

    return rf"""
    seg_lines AS (
        SELECT s.conv_id, s.segment_index, s.turn_idx,
               unnest(v.norm_lines) AS line,
               s.turn_idx * 100000
                   + unnest(range(1, len(v.norm_lines) + 1)) AS line_ord
        FROM turn_segmented s
        JOIN turn_scored v USING (conv_id, turn_idx)),
    delim_lines AS (
        SELECT conv_id, segment_index, turn_idx, line_ord,
               list_transform(string_split_regex(line, '[|;]'),
                              c -> trim(regexp_replace(c, '\s+', ' ', 'g'))) AS cells
        FROM seg_lines
        WHERE regexp_matches(line, '[|;]')),
    -- delimiter-dominant routing rule (analyse_segment): the delim
    -- parser takes the segment iff a strict majority of its lines
    -- carry a delimiter
    seg_ok AS (
        SELECT conv_id, segment_index
        FROM seg_lines
        GROUP BY 1, 2
        HAVING 2 * SUM(CASE WHEN regexp_matches(line, '[|;]')
                            THEN 1 ELSE 0 END) > COUNT(*)),
    mapped AS (
        SELECT d.*,
               {kw("date_pos", ["date", "posted dte"])},
               {kw("desc_pos", ["description", "details", "particulars",
                                "narrative", "transaction"])},
               {kw("paid_in_pos", ["paid in", "credit", "money in",
                                   "deposit", "receipts"])},
               {kw("withdrawn_pos", ["withdrawn", "debit", "money out",
                                     "paid out", "withdrawal", "payments"])},
               {kw("balance_pos", ["balance"])},
               {kw("amount_pos", ["amount"])}
        FROM delim_lines d JOIN seg_ok USING (conv_id, segment_index)),
    header AS (
        SELECT conv_id, segment_index, MIN(line_ord) AS header_ord,
               arg_min(date_pos, line_ord) AS date_pos,
               arg_min(desc_pos, line_ord) AS desc_pos,
               arg_min(paid_in_pos, line_ord) AS paid_in_pos,
               arg_min(withdrawn_pos, line_ord) AS withdrawn_pos,
               arg_min(balance_pos, line_ord) AS balance_pos,
               arg_min(amount_pos, line_ord) AS amount_pos
        FROM mapped
        WHERE date_pos IS NOT NULL
          AND (paid_in_pos IS NOT NULL OR withdrawn_pos IS NOT NULL
               OR amount_pos IS NOT NULL)
        GROUP BY 1, 2),
    data_rows AS (
        SELECT m.conv_id, m.segment_index, m.turn_idx, m.line_ord, m.cells,
               h.date_pos, h.desc_pos, h.paid_in_pos, h.withdrawn_pos,
               h.balance_pos, h.amount_pos,
               lower(array_to_string(m.cells, ' ')) AS row_lower
        FROM mapped m JOIN header h USING (conv_id, segment_index)
        WHERE m.line_ord > h.header_ord),
    kept_rows AS (
        SELECT * FROM data_rows
        WHERE NOT (row_lower LIKE '%brought forward%'
                   OR row_lower LIKE '%carried forward%'
                   OR row_lower LIKE '%b/f%' OR row_lower LIKE '%c/f%')),
    fields AS (
        SELECT conv_id, segment_index, turn_idx, line_ord, row_lower,
               cells[date_pos] AS date_raw,
               coalesce(CASE WHEN desc_pos IS NOT NULL THEN cells[desc_pos] END,
                        '') AS descr,
               {cents("cells[paid_in_pos]")} AS credit_cents,
               {cents("cells[withdrawn_pos]")} AS debit_cents,
               {cents("cells[amount_pos]")} AS single_cents,
               {cents("cells[balance_pos]")} AS balance_cents
        FROM kept_rows),
    dated AS (
        SELECT *,
               last_value(pd_fixed IGNORE NULLS) OVER (
                   PARTITION BY conv_id, segment_index ORDER BY line_ord
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS posted_date
        FROM (
            SELECT *,
                   CASE WHEN year(pd0) < 100
                        THEN make_date(CASE WHEN year(pd0) % 100 > 50
                                            THEN 1900 + year(pd0) % 100
                                            ELSE 2000 + year(pd0) % 100 END,
                                       month(pd0), day(pd0))
                        ELSE pd0 END AS pd_fixed
            FROM (SELECT *, {_try_date('date_raw')} AS pd0 FROM fields))),
    recs AS (
        SELECT conv_id, segment_index, turn_idx, line_ord, posted_date,
               substr(descr, 1, 500) AS description_raw,
               abs(coalesce(credit_cents, debit_cents, single_cents))
                   AS amount_cents,
               balance_cents,
               CASE WHEN credit_cents IS NOT NULL THEN 'CREDIT'
                    WHEN debit_cents IS NOT NULL THEN 'DEBIT'
                    WHEN single_cents < 0 THEN 'DEBIT'
                    WHEN single_cents > 0 THEN 'CREDIT'
                    ELSE 'UNKNOWN' END AS direction
        FROM dated
        WHERE coalesce(credit_cents, debit_cents, single_cents) IS NOT NULL
          AND NOT regexp_matches(lower(trim(descr)), '{_BOILERPLATE_SQL}')
          AND NOT regexp_matches(row_lower, '{_BOILERPLATE_SQL}'))
    """


# each segment's non-blank RAW lines (the routing rules need their
# whitespace runs) and their normalized text; line_ord packs
# (turn_idx, line_no) — see the corpus-bound note in _delim_ctes_body
_RAW_LINES_SQL = r"""raw_lines AS (
        SELECT s.conv_id, s.segment_index, s.turn_idx,
               unnest(kept) AS raw_line,
               s.turn_idx * 100000 + unnest(range(1, len(kept) + 1)) AS line_ord
        FROM (SELECT t.conv_id, t.turn_idx,
                     list_filter(string_split(t.payload, chr(10)),
                         l -> trim(regexp_replace(l, '\s+', ' ', 'g')) <> '')
                         AS kept
              FROM turns_in t) t
        JOIN turn_segmented s USING (conv_id, turn_idx)),
    flagged AS (
        SELECT conv_id, segment_index, turn_idx, line_ord,
               trim(regexp_replace(raw_line, '\s+', ' ', 'g')) AS line,"""


def _records_pattern_sql() -> str:
    """Generated oracle for the pattern fallback tier's records: the
    single-space-dominant routing rule, the camelot date+keyword
    header gate, trailing-money-token detection (rightmost = balance
    when two), the grow-while-the-parse-changes leading-date rule, no
    date carry, b/f and summary skips, per-segment row numbering — all
    re-derived in SQL from the snapshot's RAW lines (the routing rule
    needs pre-normalization whitespace runs).
    """
    header_kw = ["description", "paid in", "withdrawn", "balance",
                 "money in", "money out", "debit", "credit", "amount"]
    kw_test = " OR ".join(f"hdr LIKE '%{w}%'" for w in header_kw)

    return rf"""
    {_RAW_LINES_SQL}
               (NOT regexp_matches(raw_line, '[|;]')
                AND NOT regexp_matches(raw_line, '\S\s\s+\S')) AS is_single
        FROM raw_lines),
    -- single-space-dominant routing rule (analyse_segment)
    seg_ok AS (
        SELECT conv_id, segment_index FROM flagged
        GROUP BY 1, 2
        HAVING 2 * SUM(CASE WHEN is_single THEN 1 ELSE 0 END) > COUNT(*)),
    -- camelot header gate: first line with 'date' + a table keyword
    header AS (
        SELECT conv_id, segment_index, MIN(line_ord) AS header_ord
        FROM (SELECT conv_id, segment_index, line_ord,
                     lower(line) AS hdr FROM flagged)
        WHERE hdr LIKE '%date%' AND ({kw_test})
        GROUP BY 1, 2),
    rows_in AS (
        SELECT f.conv_id, f.segment_index, f.turn_idx, f.line_ord, f.line,
               string_split(f.line, ' ') AS toks
        FROM flagged f
        JOIN seg_ok USING (conv_id, segment_index)
        JOIN header h USING (conv_id, segment_index)
        WHERE f.line_ord > h.header_ord
          AND NOT (lower(f.line) LIKE '%brought forward%'
                   OR lower(f.line) LIKE '%carried forward%'
                   OR lower(f.line) LIKE '%b/f%' OR lower(f.line) LIKE '%c/f%')),
    tails AS (
        SELECT *, len(toks) AS n,
               CASE WHEN NOT regexp_matches(toks[len(toks)], '{_MONEY_TOKEN_RE}') THEN 0
                    WHEN len(toks) >= 2
                         AND regexp_matches(toks[len(toks) - 1], '{_MONEY_TOKEN_RE}')
                         THEN 2
                    ELSE 1 END AS tail_len
        FROM rows_in
        WHERE len(toks) >= 1),
    dated AS (
        SELECT *, n - tail_len AS avail,
               CASE WHEN n - tail_len >= 1
                    THEN {_pivot(_try_date("toks[1]"))} END AS p1,
               CASE WHEN n - tail_len >= 2
                    THEN {_pivot(_try_date("array_to_string(list_slice(toks, 1, 2), ' ')"))}
                    END AS p2,
               CASE WHEN n - tail_len >= 3
                    THEN {_pivot(_try_date("array_to_string(list_slice(toks, 1, 3), ' ')"))}
                    END AS p3
        FROM tails
        WHERE tail_len > 0),
    grown AS (
        -- grow-while-the-parse-changes (segment_extract.py pattern
        -- tier): extend the date candidate only when the longer parse
        -- differs; stop at the first unchanged or failed extension
        -- after a success
        SELECT *,
               CASE WHEN p1 IS NOT NULL AND (p2 IS NULL OR p2 = p1) THEN 1
                    WHEN p1 IS NOT NULL AND p2 IS NOT NULL AND p2 <> p1
                         AND (p3 IS NULL OR p3 = p2) THEN 2
                    WHEN p1 IS NOT NULL AND p2 IS NOT NULL AND p2 <> p1
                         AND p3 IS NOT NULL AND p3 <> p2 THEN 3
                    WHEN p1 IS NULL AND p2 IS NOT NULL
                         AND (p3 IS NULL OR p3 = p2) THEN 2
                    WHEN p1 IS NULL AND p2 IS NOT NULL
                         AND p3 IS NOT NULL AND p3 <> p2 THEN 3
                    WHEN p1 IS NULL AND p2 IS NULL AND p3 IS NOT NULL THEN 3
                    ELSE 0 END AS date_end
        FROM dated),
    -- description materialized as a plain column BEFORE the summary
    -- regex filter: DuckDB re-compiles a regexp per row when its input
    -- is a computed list expression, which OOMs on this alternation
    projected AS MATERIALIZED (
        SELECT conv_id, segment_index, turn_idx, line_ord, line,
               toks, n, tail_len,
               CASE date_end WHEN 1 THEN p1 WHEN 2 THEN p2 WHEN 3 THEN p3 END
                   AS posted_date,
               array_to_string(list_slice(toks, date_end + 1, n - tail_len),
                               ' ') AS descr
        FROM grown),
    recs AS (
        SELECT conv_id, segment_index, turn_idx, line_ord, posted_date,
               substr(descr, 1, 500) AS description_raw,
               abs({_tok_cents("toks[n - tail_len + 1]")}) AS amount_cents,
               CASE WHEN tail_len = 2 THEN {_tok_cents("toks[n]")} END
                   AS balance_cents,
               CASE WHEN {_tok_cents("toks[n - tail_len + 1]")} < 0 THEN 'DEBIT'
                    WHEN {_tok_cents("toks[n - tail_len + 1]")} > 0 THEN 'CREDIT'
                    ELSE 'UNKNOWN' END AS direction
        FROM projected
        WHERE NOT regexp_matches(lower(trim(descr)), '{_BOILERPLATE_SQL}')
          AND NOT regexp_matches(lower(line), '{_BOILERPLATE_SQL}'))
    """


def _records_pattern_select() -> str:
    return """
    SELECT conv_id, segment_index,
           CAST(ROW_NUMBER() OVER (PARTITION BY conv_id, segment_index
                                   ORDER BY line_ord) - 1 AS INT) AS row_index,
           CAST(turn_idx AS INT) AS turn_idx,
           posted_date, description_raw, amount_cents, balance_cents, direction
    FROM recs
    """


def _review_scored_slice(spark, sf_dir):
    """Exact-integer conversation scoring over the REAL pipeline
    records restricted to the two fully-oracled fallback tiers
    (delim_table + row_pattern).  Mirrors the stages/score.py ladder
    (confidence_scorer.py:26-148) in BIGINT arithmetic so the DuckDB
    oracle can re-derive it without cross-engine float/rounding
    hazards: per-record confidences become basis points (the engine's
    tier constants, segment_extract.py:497-602), the weighted document
    score becomes exact floor-micros

        confidence_micros = (550000*n_reconciled + 10*M) DIV n,
        M = sum(2*dir_bp + amt_bp + date_bp)

    (0.35*recon + 0.25*0.8*recon collapses to 0.55*recon since
    mean_balance_confidence is 0.8*recon, orchestrator.py:398), and
    every gate/warning/threshold test is an integer comparison
    (floor preserves >= against integer thresholds).  The engine's
    real confidence columns feed the sums — a tier that assigned the
    wrong confidence, direction, or balance_confirmed breaks the hash.
    NO_TRANSACTIONS (needs zero-record convs) and the balance-mismatch
    gate (needs segment balances, dropped from the records output)
    cannot fire on this slice; NEEDS_REVIEW is reachable only via the
    threshold band."""
    from .stages.score import score_records_exact
    rec = _pipeline_outputs(spark, sf_dir)["records"]
    return score_records_exact(
        rec.where(F.col("direction_source").isin("delim_table",
                                                 "row_pattern")))


def _review_routed_ctes() -> str:
    """Oracle CTE chain for the review queue: the two tier record
    oracles unioned with their fixed tier confidences
    (segment_extract.py:497 delim 0.82/0.82/0.90/0.40, :600 pattern
    0.75/0.75/0.85/0.40, date-missing 0.30), the integer scoring
    ladder of _review_scored_slice re-derived (balance_confirmed is
    false by fallback-tier contract, so the recon terms vanish), and
    the routing policy of io/review.py:route_to_review."""
    return f"""
    rq_slice AS (
        SELECT conv_id, 8200 AS amt_bp,
               CASE WHEN posted_date IS NOT NULL THEN 8200 ELSE 3000 END
                   AS date_bp,
               CASE WHEN direction <> 'UNKNOWN' THEN 9000 ELSE 4000 END
                   AS dir_bp,
               direction
        FROM (WITH {_records_delim_sql()})
        UNION ALL
        SELECT conv_id, 7500,
               CASE WHEN posted_date IS NOT NULL THEN 7500 ELSE 3000 END,
               CASE WHEN direction <> 'UNKNOWN' THEN 8500 ELSE 4000 END,
               direction
        FROM (WITH {_records_pattern_sql()}
              {_records_pattern_select()})),
    rq_scored AS (
        SELECT conv_id,
               CAST(COUNT(*) AS BIGINT) AS n_records,
               CAST(SUM(CASE WHEN direction = 'UNKNOWN' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_unknown,
               CAST((10 * SUM(2 * dir_bp + amt_bp + date_bp)) // COUNT(*)
                    AS BIGINT) AS confidence_micros,
               SUM(amt_bp) AS s_amt, SUM(date_bp) AS s_date
        FROM rq_slice GROUP BY conv_id),
    rq_ladder AS (
        SELECT conv_id, n_records, n_unknown, confidence_micros,
               CASE WHEN n_unknown = n_records
                    THEN 'HARD_GATE_ALL_DIRECTIONS_UNKNOWN'
                    WHEN n_records > 5
                    THEN 'HARD_GATE_LOW_RECONCILIATION'
                    WHEN s_amt < 5000 * n_records
                    THEN 'HARD_GATE_LOW_AMOUNT_CONFIDENCE' END AS first_gate,
               (n_unknown = n_records OR n_records > 5
                OR s_amt < 5000 * n_records) AS has_gate,
               ((n_unknown > 0 AND n_unknown < n_records)
                OR s_date < 7000 * n_records) AS has_warn
        FROM rq_scored),
    rq_routed AS (
        SELECT conv_id, n_records, n_unknown, confidence_micros,
               'PENDING' AS status,
               COALESCE(first_gate, 'LOW_CONFIDENCE') AS reason,
               validation_status,
               CAST(CASE WHEN validation_status = 'NEEDS_REVIEW' THEN 3
                         ELSE 5 END AS INT) AS priority
        FROM (SELECT *,
                     CASE WHEN has_gate THEN 'FAIL'
                          WHEN confidence_micros >= 850000 AND NOT has_warn
                          THEN 'PASS'
                          WHEN confidence_micros >= 700000
                          THEN 'PASS_WITH_WARNINGS'
                          WHEN confidence_micros >= 500000
                          THEN 'NEEDS_REVIEW'
                          ELSE 'FAIL' END AS validation_status
              FROM rq_ladder) _
        WHERE validation_status NOT IN ('PASS', 'PASS_WITH_WARNINGS'))
    """


@register("review_queue_page", f"""
    WITH {_TURNS_VIEW_SQL},
    {_review_routed_ctes()}
    SELECT * FROM (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY priority, conv_id) AS INT)
                   AS rank,
               conv_id, status, priority, reason, validation_status,
               n_records, confidence_micros
        FROM rq_routed) _
    WHERE rank > 7 AND rank <= 47
""")
def review_queue_page(spark, sf_dir):
    """A5 route-to-review + O6 priority/pagination ordering
    (review/queue.py:20-69) over the oracled fallback-tier slice: the
    real records feed the exact-integer scoring ladder, io/review.py
    routes and paginates (distributed top-k, offset 7 / limit 40), and
    the oracle re-derives queue position, priority, reason, and the
    floor-micros document score from the snapshot."""
    from .io.review import pending_reviews, route_to_review
    items = route_to_review(_review_scored_slice(spark, sf_dir))
    page = pending_reviews(items, limit=40, offset=7)
    return page.select("rank", "conv_id", "status", "priority", "reason",
                       "validation_status", "n_records", "confidence_micros")


@register("review_queue_stats", f"""
    WITH {_TURNS_VIEW_SQL},
    {_review_routed_ctes()}
    SELECT status, reason, validation_status, priority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(n_records) AS BIGINT) AS n_records
    FROM rq_routed
    GROUP BY 1, 2, 3, 4
""")
def review_queue_rollup(spark, sf_dir):
    """A5 queue statistics (review/queue.py:72-88): GROUP BY rollup of
    the routed queue — item counts and records behind them per
    (status, reason, validation_status, priority)."""
    from .io.review import review_queue_stats, route_to_review
    items = route_to_review(_review_scored_slice(spark, sf_dir))
    return review_queue_stats(items)


def _xlsx_styled_sql() -> str:
    """Oracle CTEs + select for the styled export (run over the shared
    turns view)."""
    return f"""
    sx_slice AS (
        SELECT conv_id, segment_index, row_index, direction,
               amount_cents, posted_date
        FROM (WITH {_records_delim_sql()})
        UNION ALL
        SELECT conv_id, segment_index, row_index, direction,
               amount_cents, posted_date
        FROM (WITH {_records_pattern_sql()}
              {_records_pattern_select()})),
    sx AS (
        SELECT *,
               CASE WHEN direction = 'DEBIT' THEN -abs(amount_cents)
                    ELSE abs(amount_cents) END AS signed_cents,
               abs(amount_cents) AS mag
        FROM sx_slice)
    SELECT conv_id, segment_index, row_index, direction,
           CAST(signed_cents AS BIGINT) AS signed_cents,
           (CASE WHEN signed_cents < 0 THEN '-' ELSE '' END)
               || chr(163) || format('{{:,}}', mag // 100) || '.'
               || lpad(CAST(mag % 100 AS VARCHAR), 2, '0') AS amount_display,
           CASE WHEN direction = 'DEBIT' THEN 'CC0000'
                WHEN direction = 'CREDIT' THEN '006600' END AS font_color,
           strftime(posted_date, '%d/%m/%Y') AS date_display,
           concat(chr(163), '#,##0.00;[Red]-', chr(163), '#,##0.00;"-"')
               AS number_format
    FROM sx
    """


@register("xlsx_styled_export", _on_turns_view(_xlsx_styled_sql()))
def xlsx_styled_export(spark, sf_dir):
    """S12 styled XLSX export decisions (api/documents.py:650-731) on
    the oracled fallback-tier slice: signed cents, the comma-grouped
    pound rendering built from exact integer cents, the direction-
    keyed font colors, and the DD/MM/YYYY date rendering — every
    styling decision the workbook writer would apply, hash-checked."""
    from .io.sinks import xlsx_style_columns
    rec = _pipeline_outputs(spark, sf_dir)["records"]
    styled = xlsx_style_columns(
        rec.where(F.col("direction_source").isin("delim_table",
                                                 "row_pattern")))
    return styled.select(
        "conv_id", "segment_index", "row_index", "direction",
        (F.col("signed_amount") * 100).cast("long").alias("signed_cents"),
        "amount_display", "font_color", "date_display", "number_format")


def _token_ir_sql() -> str:
    """Generated oracle for the token IR (see transcripts_token_ir):
    line offsets and token columns re-derived as prefix sums, x from
    char-col/width (width = max(100, longest raw line)), y from the
    raw line index, exact integer outputs."""
    return rf"""
    WITH turns_tok AS (
        SELECT conv_id, turn_idx,
               CASE WHEN text IS NOT NULL AND text <> '' THEN text
                    WHEN tool IS NOT NULL AND tool <> '' THEN tool
                    ELSE '' END AS payload,
               CASE WHEN text IS NOT NULL AND text <> '' THEN 9500
                    ELSE 8800 END AS conf_bp
        FROM read_parquet('{TRANSCRIPTS_SNAPSHOT}/*.parquet')
        WHERE (text IS NOT NULL AND text <> '')
           OR (tool IS NOT NULL AND tool <> '')),
    widths AS (
        SELECT *, string_split(payload, chr(10)) AS ls,
               greatest(100.0, CAST(list_max(list_transform(
                   string_split(payload, chr(10)), l -> len(l))) AS DOUBLE))
                   AS width
        FROM turns_tok),
    lines AS (
        SELECT conv_id, turn_idx, conf_bp, width, ls,
               unnest(ls) AS line,
               unnest(range(1, len(ls) + 1)) AS li
        FROM widths),
    line_off AS (
        SELECT conv_id, turn_idx, conf_bp, width, li, line,
               (li - 1) + len(coalesce(
                   array_to_string(list_slice(ls, 1, li - 1), ''), ''))
                   AS off,
               string_split(line, ' ') AS parts
        FROM lines),
    toks AS (
        SELECT conv_id, turn_idx, conf_bp, width, li, off, parts,
               unnest(parts) AS part,
               unnest(range(1, len(parts) + 1)) AS k
        FROM line_off),
    tok_pos AS (
        SELECT *,
               (k - 1) + len(coalesce(
                   array_to_string(list_slice(parts, 1, k - 1), ''), ''))
                   AS a
        FROM toks WHERE part <> '')
    SELECT conv_id, CAST(turn_idx AS INT) AS turn_idx,
           CAST(ROW_NUMBER() OVER (PARTITION BY conv_id, turn_idx
                                   ORDER BY li, k) - 1 AS INT) AS token_index,
           part AS text,
           CAST(round((0.05 + (a / width) * 0.9) * 1000000) AS BIGINT)
               AS x0_micro,
           CAST(10000 + (li - 1) * 12000 AS BIGINT) AS y0_micro,
           CAST(round((0.05 + ((a + len(part)) / width) * 0.9) * 1000000)
                AS BIGINT) AS x1_micro,
           CAST(10000 + (li - 1) * 12000 + 8000 AS BIGINT) AS y1_micro,
           CAST(conf_bp AS BIGINT) AS conf_bp,
           CAST(off + a AS INT) AS start,
           CAST(off + a + len(part) AS INT) AS "end"
    FROM tok_pos
    """


@register("transcripts_token_ir", _token_ir_sql())
def transcripts_token_ir(spark, sf_dir):
    """Exploded token-IR diagnostics surface (contracts.py:20-26),
    oracle-checked: the whitespace tokenizer's char offsets are
    prefix-sum arithmetic over space-split parts (split(' ') keeps
    empties, so every part boundary is exactly one space — a
    corpus-safe simplification: the generator emits no tabs or other
    non-space whitespace, which \\S+ would treat as separators too),
    and the synthetic bbox geometry (layout.py coordinate tables) is
    affine in (char col / page width, raw line index).  Coordinates
    and confidence are compared as exact integer micro/bp units (the
    cross-engine float-stringify rule)."""
    from .stages.tokenize import tokens_table
    t = tokens_table(_ensure_snapshot(spark, sf_dir))
    return t.select(
        "conv_id", "turn_idx", "token_index", "text",
        F.round(F.col("x0") * 1e6).cast("long").alias("x0_micro"),
        F.round(F.col("y0") * 1e6).cast("long").alias("y0_micro"),
        F.round(F.col("x1") * 1e6).cast("long").alias("x1_micro"),
        F.round(F.col("y1") * 1e6).cast("long").alias("y1_micro"),
        F.round(F.col("confidence") * 10000).cast("long").alias("conf_bp"),
        "start", "end")


@register("text_token_count", r"""
    SELECT doc_id,
           CAST(CASE WHEN trim(regexp_replace(text, '\s+', ' ', 'g')) = '' THEN 0
                ELSE len(string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' '))
                END AS BIGINT) AS n_tokens
    FROM documents
""")
def text_token_count(spark, sf_dir):
    """Token counting (whitespace tokenizer), JVM-side."""
    docs = _read(spark, sf_dir, "documents")
    return textstats.token_count(docs).select("doc_id", "n_tokens")


@register("text_quality_scores", r"""
    WITH t AS (
        SELECT doc_id, text,
               string_split(trim(regexp_replace(text, '\s+', ' ', 'g')), ' ') AS toks,
               CAST(length(text) AS DOUBLE) AS n_chars
        FROM documents)
    SELECT doc_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           ROUND((n_chars - length(regexp_replace(text, '[0-9]', '', 'g')))
                 / greatest(n_chars, 1.0), 6) AS digit_ratio
    FROM t
""")
def text_quality_scores(spark, sf_dir):
    """Quality scoring signals (subset with exact cross-engine parity)."""
    docs = _read(spark, sf_dir, "documents")
    q = textstats.quality_scores(docs)
    return q.select("doc_id", "n_chars", "n_tokens", "digit_ratio")


def _lang_id_sql() -> str:
    """DuckDB oracle generated from the same LANG_PROFILES table:
    argmax hit-rate with first-seen tie-break, 'und' at rate 0."""
    from .datapipe.textstats import LANG_PROFILES
    langs = list(LANG_PROFILES)
    rate_cols = []
    for lang, words in LANG_PROFILES.items():
        lst = ", ".join(f"'{w}'" for w in words)
        rate_cols.append(
            f"len(list_filter(toks, x -> list_contains([{lst}], x)))"
            f" / greatest(len(toks), 1)::DOUBLE AS r_{lang}")
    best_when, lang_when = [], []
    for i, lang in enumerate(langs):
        cond = " AND ".join(f"r_{lang} >= r_{o}" for o in langs[i + 1:]) or "TRUE"
        best_when.append(f"WHEN {cond} THEN r_{lang}")
        lang_when.append(f"WHEN {cond} THEN '{lang}'")
    norm = r"trim(regexp_replace(text, '\s+', ' ', 'g'))"
    return f"""
    WITH t AS (
        SELECT doc_id,
               CASE WHEN {norm} = '' THEN []::VARCHAR[]
                    ELSE list_transform(string_split({norm}, ' '), x -> lower(x))
               END AS toks
        FROM documents),
    r AS (SELECT doc_id, {', '.join(rate_cols)} FROM t)
    SELECT doc_id,
           CASE WHEN best > 0 THEN lang ELSE 'und' END AS lang_guess,
           ROUND(best, 6) AS stopword_hit_rate
    FROM (SELECT doc_id,
                 CASE {' '.join(best_when)} END AS best,
                 CASE {' '.join(lang_when)} END AS lang
          FROM r)
    """


@register("text_language_id", _lang_id_sql())
def text_language_id(spark, sf_dir):
    """Language-ID heuristic; oracle generated from the same profile
    table (pure count/division column math, engine-exact)."""
    docs = _read(spark, sf_dir, "documents")
    return textstats.language_id(docs)


@register("text_fingerprints", f"""
    WITH t AS (
        SELECT doc_id,
               CASE WHEN trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) = ''
                    THEN []::VARCHAR[]
                    ELSE string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')
               END AS toks,
               sha256(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS content_sha256
        FROM documents)
    SELECT doc_id,
           list_reduce(list_prepend(0::BIGINT,
               list_transform(toks, tk -> {_H60_SQL.format(s='tk')} % {_MERSENNE})),
             (acc, x) -> (acc * 131 + x) % {_MERSENNE}) AS fingerprint,
           content_sha256
    FROM t
""")
def text_fingerprints(spark, sf_dir):
    """Rolling-hash fingerprint + content sha256; the hash60-based
    fold is integer arithmetic, reproduced exactly by the oracle."""
    docs = _read(spark, sf_dir, "documents")
    return textstats.fingerprints(docs)


# normalized non-empty lines / lowered tokens of a document (DuckDB)
_SQL_LINES = ("list_filter(list_transform(string_split(text, chr(10)),"
              r" l -> trim(regexp_replace(l, '\s+', ' ', 'g'))), l -> l <> '')")
_SQL_TOKS = (r"CASE WHEN trim(regexp_replace(lower(text), '\s+', ' ', 'g')) = ''"
             " THEN []::VARCHAR[]"
             r" ELSE string_split(trim(regexp_replace(lower(text), '\s+', ' ',"
             " 'g')), ' ') END")


@register("text_repetition_scores", f"""
    WITH base AS (
        SELECT doc_id, {_SQL_LINES} AS ls, {_SQL_TOKS} AS toks
        FROM documents),
    linestats AS (
        SELECT doc_id, toks,
               CAST(len(ls) AS BIGINT) AS n_lines,
               (len(ls) - len(list_distinct(ls)))
                   / greatest(CAST(len(ls) AS DOUBLE), 1.0) AS dup_line_frac,
               coalesce(list_sum(list_transform(ls,
                   x -> CASE WHEN len(list_filter(ls, y -> y = x)) > 1
                             THEN len(x) ELSE 0 END)), 0)
                   / greatest(CAST(coalesce(list_sum(
                         list_transform(ls, x -> len(x))), 0) AS DOUBLE), 1.0)
                   AS dup_line_char_frac
        FROM base),
    g2 AS (
        SELECT doc_id, MAX(c) * 1.0 / SUM(c) AS top_2gram_frac
        FROM (SELECT doc_id, g, COUNT(*) AS c
              FROM (SELECT doc_id,
                           unnest(CASE WHEN len(toks) >= 2
                               THEN list_transform(range(1, len(toks)),
                                   i -> {_H60_SQL.format(s="array_to_string(list_slice(toks, i, i + 1), ' ')")})
                               ELSE []::BIGINT[] END) AS g
                    FROM base)
              GROUP BY 1, 2)
        GROUP BY 1),
    g3 AS (
        SELECT doc_id,
               SUM(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0 / SUM(c)
                   AS dup_3gram_frac
        FROM (SELECT doc_id, g, COUNT(*) AS c
              FROM (SELECT doc_id,
                           unnest(CASE WHEN len(toks) >= 3
                               THEN list_transform(range(1, len(toks) - 1),
                                   i -> {_H60_SQL.format(s="array_to_string(list_slice(toks, i, i + 2), ' ')")})
                               ELSE []::BIGINT[] END) AS g
                    FROM base)
              GROUP BY 1, 2)
        GROUP BY 1)
    SELECT l.doc_id, l.n_lines,
           CAST(floor(l.dup_line_frac * 1000000) AS BIGINT) AS dup_line_ppm,
           CAST(floor(l.dup_line_char_frac * 1000000) AS BIGINT)
               AS dup_line_char_ppm,
           CAST(floor(coalesce(g2.top_2gram_frac, 0.0) * 1000000) AS BIGINT)
               AS top_2gram_ppm,
           CAST(floor(coalesce(g3.dup_3gram_frac, 0.0) * 1000000) AS BIGINT)
               AS dup_3gram_ppm
    FROM linestats l
    LEFT JOIN g2 USING (doc_id)
    LEFT JOIN g3 USING (doc_id)
""")
def text_repetition_scores(spark, sf_dir):
    """Gopher-style repetition quality rules (duplicate lines/chars,
    top-2-gram share, repeated-3-gram share), compared as exact
    floor-micro integers (ppm) — identical IEEE fractions floored the
    same on both engines, with no round-half dialect exposure."""
    docs = _read(spark, sf_dir, "documents")
    rep = textstats.repetition_scores(docs)
    ppm = lambda c: F.floor(F.col(c) * 1e6).cast("long")  # noqa: E731
    return rep.select(
        "doc_id", "n_lines",
        ppm("dup_line_frac").alias("dup_line_ppm"),
        ppm("dup_line_char_frac").alias("dup_line_char_ppm"),
        ppm("top_2gram_frac").alias("top_2gram_ppm"),
        ppm("dup_3gram_frac").alias("dup_3gram_ppm"))


def _components_sql() -> str:
    """Recursive-CTE oracle for the dedup closure: reachability over
    the (verified) near-dup edge set, min reachable doc_id = the
    canonical keeper — the same fixpoint the engine's min-label
    propagation converges to, independent of iteration order."""
    ngram = _REGISTRY["dedup_ngram_jaccard"][1]
    return f"""
    WITH RECURSIVE pairs AS (SELECT a, b FROM ({ngram})),
    edges AS (SELECT a, b FROM pairs
              UNION SELECT b AS a, a AS b FROM pairs),
    reach(v, u) AS (
        SELECT DISTINCT a, a FROM edges
        UNION
        SELECT r.v, e.b FROM reach r JOIN edges e ON e.a = r.u),
    lab AS (SELECT v AS doc_id, MIN(u) AS keep_id FROM reach GROUP BY v),
    sz AS (SELECT keep_id, CAST(COUNT(*) AS BIGINT) AS component_size
           FROM lab GROUP BY 1)
    SELECT l.doc_id, l.keep_id, s.component_size,
           l.doc_id = l.keep_id AS is_keeper
    FROM lab l JOIN sz s USING (keep_id)
    """


@register("dedup_components", _components_sql())
def dedup_components_query(spark, sf_dir):
    """Near-dup closure: connected components over the exact
    ngram-jaccard pairs, each document mapped to its component's
    canonical keeper (min doc_id) with the component size — pairwise
    similarity is not transitive, so keep/drop decisions need this
    step.  Iterative min-label propagation on the engine side,
    recursive-CTE reachability on the oracle side, converging to the
    same deterministic fixpoint."""
    docs = _read(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    return dedup.dedup_components(pairs)


def _pii_sql() -> str:
    from .datapipe.textstats import PII_RULES
    cur = "text"
    cols = []
    count_exprs = []
    for name, pattern, repl in PII_RULES:
        pat = _sql_regex(pattern)
        cnt = f"len(regexp_extract_all({cur}, '{pat}'))"
        count_exprs.append(cnt)
        cols.append(f"{cnt} AS n_{name}")
        cur = f"regexp_replace({cur}, '{pat}', '{repl}', 'g')"
    # has_pii from the match counts (not a re-scan of the redacted text
    # for tag literals) — mirrors textstats.pii_scan exactly
    total = " + ".join(count_exprs)
    return f"""
    SELECT doc_id,
           {', '.join(cols)},
           sha256({cur}) AS redacted_sha256,
           ({total}) > 0 AS has_pii
    FROM documents
    """


@register("text_pii_scan", _pii_sql())
def text_pii_scan(spark, sf_dir):
    """PII detection + redaction (emails, UK phones/postcodes/sort
    codes/account numbers): per-class counts computed on the
    sequentially-redacted text, plus the redacted text's sha256 — the
    scrub pass a training pipeline runs before publication.  The
    patterns are RE2-compatible so both engines run the literal same
    expressions."""
    docs = _read(spark, sf_dir, "documents")
    return textstats.pii_scan(docs)


def _duplicate_lines_sql() -> str:
    """Oracle over the transcripts snapshot (the driver documents
    table is single-line-per-doc, so the meaningful corpus for
    boilerplate discovery is the conversation payloads)."""
    return f"""
    WITH docs AS (
        SELECT conv_id AS doc_id,
               string_agg(CASE WHEN text IS NOT NULL AND text <> '' THEN text
                               WHEN tool IS NOT NULL AND tool <> '' THEN tool
                               ELSE '' END, chr(10) ORDER BY turn_idx) AS text
        FROM read_parquet('{TRANSCRIPTS_SNAPSHOT}/*.parquet')
        GROUP BY conv_id),
    lines AS (
        SELECT doc_id, unnest({_SQL_LINES}) AS line
        FROM docs)
    SELECT {_H60_SQL.format(s='line')} AS line_hash,
           MIN(line) AS line,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM lines
    GROUP BY 1
    HAVING COUNT(DISTINCT doc_id) >= 50
    """


@register("corpus_duplicate_lines", _duplicate_lines_sql())
def corpus_duplicate_lines(spark, sf_dir):
    """Corpus-level duplicate-line discovery (CCNet/RefinedWeb
    boilerplate primitive) over the transcripts corpus: normalized
    lines shared by >= 50 conversations — exactly the boilerplate
    (provider headers, FSCS notices, chatter stock phrases) a
    training pipeline strips before use.  Aggregated on hash60(line)
    so the shuffle key is a bounded integer."""
    docs = (_ensure_snapshot(spark, sf_dir).groupBy("conv_id")
            .agg(F.concat_ws("\n", F.array_sort(F.collect_list(
                F.struct("turn_idx", _payload().alias("p")))).getField("p"))
                 .alias("text"))
            .select(F.col("conv_id").alias("doc_id"), "text"))
    return textstats.duplicate_lines(docs, min_docs=50)


@register("transcripts_turns", f"""
    WITH {_TURNS_VIEW_SQL}
    SELECT conv_id, turn_idx, extraction_path, clean_text,
           segment_index, n_lines, n_tokens
    FROM turn_segmented
""")
def transcripts_turns(spark, sf_dir):
    """Flagship: per-turn main-content extraction (clean_text + spans).
    The oracle re-derives the tokenize+segment semantics in SQL from
    the same pattern tables over the snapshotted input — an
    independent engine computing the north-rule per-turn surface.
    Spans/raw_text value equality is additionally gated by
    tests/test_pipeline_e2e.py."""
    out = _pipeline_outputs(spark, sf_dir)["turns"]
    return out.select("conv_id", "turn_idx", "extraction_path", "clean_text",
                      "segment_index", "n_lines", "n_tokens")


@register("transcripts_segment_ranges", f"""
    WITH {_TURNS_VIEW_SQL}
    SELECT conv_id, segment_index,
           CAST(MIN(turn_idx) AS INT) AS start_turn,
           CAST(MAX(turn_idx) AS INT) AS end_turn
    FROM turn_segmented
    GROUP BY conv_id, segment_index
""")
def transcripts_segment_ranges(spark, sf_dir):
    """J2/C4 segment ranges (document_segments turn spans) — the
    SQL-expressible projection of the segments table."""
    out = _pipeline_outputs(spark, sf_dir)["segments"]
    return out.select("conv_id", "segment_index", "start_turn", "end_turn")


def _pattern_geometry_sql() -> str:
    """Per-segment pattern-tier geometry: header_row = the header
    line's 0-based kept-line index WITHIN ITS TURN (the engine records
    tokenize_turn's per-turn line_index,
    segment_extract._fallback_pattern_records); column_count is NULL
    for this tier (no cell structure)."""
    return rf"""
    {_records_pattern_sql()}
    SELECT conv_id, segment_index,
           CAST(NULL AS INT) AS column_count,
           CAST(header_ord % 100000 - 1 AS INT) AS header_row
    FROM header
    """


def _header_kw_sum() -> str:
    return " + ".join(f"(CASE WHEN low LIKE '%{kw}%' THEN 1 ELSE 0 END)"
                      for kw in sorted(HEADER_KEYWORDS))


def _mainslice_ctes() -> str:
    """Shared CTE prefix for the main-route oracles: per-segment RAW
    lines with ordering, routing flags, the neither-majority slice
    rule, and detect_header_line's headered restriction + header
    consumption (the engine strips the detected header line and
    everything before it — including a data row eaten as a false
    header, e.g. "DIRECT DEBIT ... DR" opening a headerless segment).
    """
    kw_sum = _header_kw_sum()
    return rf"""
    {_RAW_LINES_SQL}
               regexp_matches(raw_line, '[|;]') AS is_delim,
               (NOT regexp_matches(raw_line, '[|;]')
                AND NOT regexp_matches(raw_line, '\S\s\s+\S')) AS is_single
        FROM raw_lines),
    -- main-route slice: neither structured-tier majority rule fires
    seg_ok AS (
        SELECT conv_id, segment_index FROM flagged
        GROUP BY 1, 2
        HAVING 2 * SUM(CASE WHEN is_delim THEN 1 ELSE 0 END) <= COUNT(*)
           AND 2 * SUM(CASE WHEN is_single THEN 1 ELSE 0 END) <= COUNT(*)),
    headered AS (
        SELECT conv_id, segment_index, MIN(line_ord) AS header_ord
        FROM (SELECT conv_id, segment_index, line_ord, lower(line) AS low,
                     ROW_NUMBER() OVER (PARTITION BY conv_id, segment_index
                                        ORDER BY line_ord) AS ord
              FROM flagged)
        WHERE ord <= 10 AND ({kw_sum}) >= 2
        GROUP BY 1, 2)"""


def _money_tails(src: str) -> str:
    """`tails` over `src`'s token lists: amt_idx is the amount token —
    the money token before a CR/DR suffix, else the first of one or two
    trailing money tokens (NULL on a line without a money tail)."""
    return rf"""tails AS (
        SELECT *,
               CASE WHEN n >= 2 AND toks[n] IN ('CR', 'DR')
                         AND regexp_matches(toks[n - 1], '{_MONEY_TOKEN_RE}')
                    THEN n - 1
                    WHEN regexp_matches(toks[n], '{_MONEY_TOKEN_RE}')
                    THEN CASE WHEN n >= 2
                                   AND regexp_matches(toks[n - 1], '{_MONEY_TOKEN_RE}')
                              THEN n - 1 ELSE n END
                    END AS amt_idx
        FROM (SELECT *, len(toks) AS n FROM {src}) _
        WHERE len(toks) >= 1),"""


# p1..p3: the first one, two and three tokens parsed as dates, where
# they stand before the amount
_LEADING_DATES_SQL = f"""dated AS (
        SELECT *,
               CASE WHEN amt_idx > 1
                    THEN {_pivot(_try_date("toks[1]"))} END AS p1,
               CASE WHEN amt_idx > 2
                    THEN {_pivot(_try_date("array_to_string(list_slice(toks, 1, 2), ' ')"))}
                    END AS p2,
               CASE WHEN amt_idx > 3
                    THEN {_pivot(_try_date("array_to_string(list_slice(toks, 1, 3), ' ')"))}
                    END AS p3
        FROM tails WHERE amt_idx IS NOT NULL),"""


def _records_amounts_sql() -> str:
    """Generated oracle for the MAIN extraction path's amount rows
    (the solver-independent projection of W9 on the histogram/grid
    routes): for segments routed to neither structured tier (the
    complement of the two majority rules), every amount-bearing record
    the engine reconstructs corresponds to a transaction line whose
    trailing money tokens carry the amount (and balance, when the
    layout has one) and whose leading tokens carry the date — the
    line-level view of the same fields the column geometry extracts.
    The oracle re-derives (turn, seq, date, amount) per segment from
    the snapshot, pinning row recovery, ordering, date parsing and
    exact amounts without reproducing the histogram itself;
    description/roles/direction on this slice stay pytest-gated.
    Money shapes cover the corpus conventions (plain, comma-grouped,
    parens, leading/trailing minus, CR/DR suffix tokens).
    """
    return rf"""{_mainslice_ctes()},
    rows_in AS (
        SELECT f.conv_id, f.segment_index, f.turn_idx, f.line_ord, f.line,
               string_split(f.line, ' ') AS toks
        FROM flagged f
        JOIN seg_ok USING (conv_id, segment_index)
        JOIN headered h USING (conv_id, segment_index)
        WHERE f.line_ord > h.header_ord
          AND NOT regexp_matches(lower(f.line), '{_BOILERPLATE_SQL}')),
    {_money_tails("rows_in")}
    {_LEADING_DATES_SQL}
    grown AS (
        SELECT *,
               CASE WHEN p1 IS NOT NULL AND (p2 IS NULL OR p2 = p1) THEN 1
                    WHEN p1 IS NOT NULL AND p2 IS NOT NULL AND p2 <> p1
                         AND (p3 IS NULL OR p3 = p2) THEN 2
                    WHEN p1 IS NOT NULL AND p2 IS NOT NULL AND p2 <> p1
                         THEN CASE WHEN p3 IS NULL THEN 2 ELSE 3 END
                    WHEN p1 IS NULL AND p2 IS NOT NULL
                         AND (p3 IS NULL OR p3 = p2) THEN 2
                    WHEN p1 IS NULL AND p2 IS NOT NULL
                         THEN CASE WHEN p3 IS NULL THEN 2 ELSE 3 END
                    WHEN p3 IS NOT NULL THEN 3 ELSE 0 END AS date_end
        FROM dated),
    recs AS (
        SELECT conv_id, segment_index, turn_idx, line_ord,
               CASE date_end WHEN 1 THEN p1 WHEN 2 THEN p2 WHEN 3 THEN p3 END
                   AS posted_date,
               -- description = the tokens between the date and the
               -- amount: continuation-line cells land as SECOND cells
               -- in the description column and the field projection's
               -- first-occurrence dedup drops them
               -- (rows.extract_fields_from_row), so the opening line
               -- alone carries the description
               array_to_string(list_slice(toks, date_end + 1, amt_idx - 1),
                               ' ') AS description_raw,
               {_tok_cents_abs("toks[amt_idx]")} AS amount_cents
        FROM grown)
    SELECT conv_id, segment_index,
           CAST(ROW_NUMBER() OVER (PARTITION BY conv_id, segment_index
                                   ORDER BY line_ord) - 1 AS INT) AS seq,
           CAST(turn_idx AS INT) AS turn_idx,
           posted_date, amount_cents
    FROM recs
    """


_DESC_KW_SQL = " OR ".join(
    f"hl LIKE '%{w}%'" for w in ["description", "details", "particulars",
                                 "narrative", "transaction"])


def _records_descriptions_sql() -> str:
    """Generated oracle for the main-path description column on the
    REAL-header slice: segments whose detected header line maps a
    DESCRIPTION keyword.  The corpus' wiped-turn segments can match a
    pseudo-header (a data row containing two keywords), and on those
    the role passes may leave description empty — geometry the
    line-level view cannot see, so they are excluded by the same data
    rule on both engines.  Continuation-line text never reaches
    description (first-occurrence cell dedup), so the opening line's
    middle tokens ARE the description."""
    return rf"""{_records_amounts_sql().rsplit("SELECT conv_id, segment_index,", 1)[0]},
    desc_gate AS (
        SELECT f.conv_id, f.segment_index
        FROM flagged f
        JOIN headered h ON f.conv_id = h.conv_id
                       AND f.segment_index = h.segment_index
                       AND f.line_ord = h.header_ord
        WHERE ({_DESC_KW_SQL.replace("hl", "lower(f.line)")})),
    desc_rows AS (
        SELECT r.conv_id, r.segment_index, r.line_ord, r.turn_idx,
               r.description_raw, r.amount_cents
        FROM recs r JOIN desc_gate USING (conv_id, segment_index))
    SELECT conv_id, segment_index,
           CAST(ROW_NUMBER() OVER (PARTITION BY conv_id, segment_index
                                   ORDER BY line_ord) - 1 AS INT) AS seq,
           CAST(turn_idx AS INT) AS turn_idx,
           description_raw, amount_cents
    FROM desc_rows
    """


def _records_headerless_sql() -> str:
    """Generated oracle for the headerless main-path branch (see the
    engine-side docstring): all lines participate (no header strip),
    rows are money-tail lines, amount is the first tail token
    (signed: parens / leading/trailing minus / CR-DR suffix), balance
    the second, date the grow-while-the-parse-changes leading tokens —
    restricted to uniform-tail segments where role statistics are
    value-determined."""
    return rf"""{_mainslice_ctes()},
    -- uniform-tail rule on RAW lines (fixed-width ends), excluding
    -- marker/summary lines like the engine-side helper
    tail_ends AS (
        SELECT r.conv_id, r.segment_index,
               COUNT(DISTINCT CASE WHEN
                   regexp_matches(toks[len(toks)], '{_MONEY_TOKEN_RE}')
                   AND len(toks) >= 2
                   AND regexp_matches(toks[len(toks) - 1], '{_MONEY_TOKEN_RE}')
                 THEN len(rtrim(regexp_replace(r.raw_line, '\s*\S+\s*$', '')))
                 END) AS n_ends,
               SUM(CASE WHEN regexp_matches(toks[len(toks)], '{_MONEY_TOKEN_RE}')
                        THEN 1 ELSE 0 END) AS n_tail
        FROM (SELECT conv_id, segment_index, raw_line,
                     string_split(trim(regexp_replace(raw_line, '\s+', ' ', 'g')),
                                  ' ') AS toks
              FROM raw_lines
              WHERE NOT regexp_matches(
                  lower(trim(regexp_replace(raw_line, '\s+', ' ', 'g'))),
                  '{_BOILERPLATE_SQL}')) r
        GROUP BY 1, 2),
    -- n_tail >= 12: the histogram peak-height floor (see the
    -- engine-side helper's size-floor note)
    hl_slice AS (
        SELECT s.conv_id, s.segment_index
        FROM seg_ok s
        JOIN tail_ends e USING (conv_id, segment_index)
        LEFT JOIN headered h USING (conv_id, segment_index)
        WHERE h.conv_id IS NULL AND e.n_ends <= 1 AND e.n_tail >= 12),
    rows_in AS (
        SELECT f.conv_id, f.segment_index, f.turn_idx, f.line_ord,
               string_split(f.line, ' ') AS toks
        FROM flagged f
        JOIN hl_slice USING (conv_id, segment_index)
        WHERE NOT regexp_matches(lower(f.line), '{_BOILERPLATE_SQL}')),
    {_money_tails("rows_in")}
    {_LEADING_DATES_SQL}
    recs AS (
        SELECT conv_id, segment_index, turn_idx, line_ord,
               CASE WHEN p1 IS NOT NULL AND (p2 IS NULL OR p2 = p1) THEN p1
                    WHEN p1 IS NOT NULL AND p2 IS NOT NULL AND p2 <> p1
                         AND (p3 IS NULL OR p3 = p2) THEN p2
                    WHEN p1 IS NOT NULL AND p2 IS NOT NULL AND p2 <> p1
                         THEN coalesce(p3, p2)
                    WHEN p1 IS NULL AND p2 IS NOT NULL
                         AND (p3 IS NULL OR p3 = p2) THEN p2
                    WHEN p1 IS NULL AND p2 IS NOT NULL THEN coalesce(p3, p2)
                    ELSE p3 END AS posted_date,
               abs({_tok_cents("toks[amt_idx]")}) AS amount_cents,
               ({_tok_cents("toks[amt_idx]")} < 0
                OR (amt_idx = n - 1 AND toks[n] = 'DR')) AS is_neg,
               {_tok_cents("toks[amt_idx]")} = 0 AS is_zero,
               CASE WHEN amt_idx = n - 1 AND toks[n] NOT IN ('CR', 'DR')
                    THEN {_tok_cents("toks[n]")} END AS balance_cents
        FROM dated)
    SELECT conv_id, segment_index,
           CAST(ROW_NUMBER() OVER (PARTITION BY conv_id, segment_index
                                   ORDER BY line_ord) - 1 AS INT) AS seq,
           CAST(turn_idx AS INT) AS turn_idx,
           posted_date, amount_cents, balance_cents,
           CASE WHEN is_zero THEN 'UNKNOWN'
                WHEN is_neg THEN 'DEBIT' ELSE 'CREDIT' END AS direction,
           CASE WHEN is_zero THEN 'single_amount_zero'
                WHEN is_neg THEN 'sign_negative'
                ELSE 'sign_positive' END AS direction_source
    FROM recs
    """


def _records_directions_sql() -> str:
    """Generated oracle for the balance-chain solver columns on the
    case-1/case-3 headered main-route slice (see the engine-side
    docstring on transcripts_records_directions): the per-row chain
    state is lag(reported balance) anchored on the opening marker, the
    tolerance ladder is [0, 1, 2, 5, 100] hundredths with the solver's
    tolerance->confidence map applied engine-side, and the OCR rescue
    re-derives the digit-substitution candidates (only '7'->'1' and
    '3'->'8' can occur in a pure-digit decimal string) in candidate
    order with debit tried before credit per position
    (solver.attempt_balance_correction parity).
    """
    def ladder(expr: str) -> str:
        return (f"CASE WHEN {expr} <= 0 THEN 0 WHEN {expr} <= 1 THEN 1"
                f" WHEN {expr} <= 2 THEN 2 WHEN {expr} <= 5 THEN 5"
                f" WHEN {expr} <= 100 THEN 100 END")

    deb_kw = " OR ".join(f"hl LIKE '%{k}%'" for k in
                         ["debit", "paid out", "money out", "withdrawal",
                          "payments"])
    cred_kw = " OR ".join(f"hl LIKE '%{k}%'" for k in
                          ["credit", "paid in", "money in", "deposit",
                           "receipts"])
    bal_kw = "hl LIKE '%balance%' OR hl LIKE '%running%' OR hl LIKE '%closing%'"

    return rf"""{_mainslice_ctes()},
    hdr_case AS (
        SELECT conv_id, segment_index, header_ord,
               CASE WHEN ({deb_kw}) AND ({cred_kw}) AND ({bal_kw})
                    THEN 'case1'
                    WHEN hl LIKE '%amount%' AND ({bal_kw})
                         AND NOT (({deb_kw}) OR ({cred_kw}))
                    THEN 'case3' END AS case_type
        FROM (SELECT f.conv_id, f.segment_index, h.header_ord,
                     lower(f.line) AS hl
              FROM flagged f
              JOIN headered h ON f.conv_id = h.conv_id
                             AND f.segment_index = h.segment_index
                             AND f.line_ord = h.header_ord
              JOIN seg_ok s ON f.conv_id = s.conv_id
                           AND f.segment_index = s.segment_index)
        WHERE case_type IS NOT NULL),
    data_lines AS (
        SELECT f.conv_id, f.segment_index, f.turn_idx, f.line_ord,
               c.case_type, string_split(f.line, ' ') AS toks
        FROM flagged f
        JOIN hdr_case c USING (conv_id, segment_index)
        WHERE f.line_ord > c.header_ord
          AND NOT regexp_matches(lower(f.line), '{_BOILERPLATE_SQL}')),
    {_money_tails("data_lines")}
    tail_rows AS (
        SELECT conv_id, segment_index, turn_idx, line_ord, case_type,
               abs({_tok_cents("toks[amt_idx]")}) AS amt_cents,
               {_tok_cents("toks[amt_idx]")} AS amt_signed,
               (toks[amt_idx] LIKE '(%' OR toks[amt_idx] LIKE '-%'
                OR toks[amt_idx] LIKE '%-'
                OR toks[n] IN ('CR', 'DR')) AS signish,
               CASE WHEN amt_idx = n - 1 AND toks[n] NOT IN ('CR', 'DR')
                    THEN {_tok_cents("toks[n]")} END AS bal_cents
        FROM tails WHERE amt_idx IS NOT NULL),
    -- case-2 exclusion: >30% signed amount tokens -> sign solver
    seg_sign_ok AS (
        SELECT conv_id, segment_index FROM tail_rows
        GROUP BY 1, 2
        HAVING AVG(CASE WHEN signish THEN 1.0 ELSE 0.0 END) <= 0.3),
    -- W7 opening anchor: first post-header marker row's money token
    opening AS (
        SELECT m.conv_id, m.segment_index,
               arg_min({_tok_cents("m.money_tok")}, m.line_ord) AS opening_cents
        FROM (
            SELECT f.conv_id, f.segment_index, f.line_ord,
                   string_split(f.line, ' ')[len(string_split(f.line, ' '))]
                       AS money_tok
            FROM flagged f
            JOIN hdr_case c USING (conv_id, segment_index)
            WHERE f.line_ord > c.header_ord
              AND regexp_matches(lower(f.line), '{_MARKER_SQL}')) m
        WHERE regexp_matches(m.money_tok, '{_MONEY_TOKEN_RE}')
        GROUP BY 1, 2),
    chain AS (
        SELECT t.*,
               coalesce(last_value(t.bal_cents IGNORE NULLS) OVER (
                   PARTITION BY t.conv_id, t.segment_index
                   ORDER BY t.line_ord
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   o.opening_cents) AS prev_cents
        FROM tail_rows t
        JOIN seg_sign_ok USING (conv_id, segment_index)
        LEFT JOIN opening o USING (conv_id, segment_index)),
    fitted AS (
        SELECT *,
               {ladder("abs(prev_cents - amt_cents - bal_cents)")} AS tol_d,
               {ladder("abs(prev_cents + amt_cents - bal_cents)")} AS tol_c
        FROM chain),
    -- OCR digit-substitution rescue (solver._OCR_SUBSTITUTIONS): in a
    -- decimal string only '7' (sub of 1) and '3' (sub of 8) match a
    -- substitution list; candidates tested in position order, debit
    -- hypothesis before credit, +/-1 hundredth.  Case-3 only — the
    -- case-1 chain-validation pass has no OCR branch.
    ocr_prep AS (
        SELECT *,
               (CASE WHEN bal_cents < 0 THEN '-' ELSE '' END)
                 || CAST(abs(bal_cents) // 100 AS VARCHAR) || '.'
                 || lpad(CAST(abs(bal_cents) % 100 AS VARCHAR), 2, '0') AS bs
        FROM fitted),
    ocr_cands AS (
        SELECT *,
               list_transform(
                 list_filter(
                   list_transform(range(1, len(bs) + 1),
                                  p -> {{'p': p, 'c': bs[p]}}),
                   x -> x.c IN ('7', '3')),
                 x -> (CASE WHEN bs LIKE '-%' THEN -1 ELSE 1 END) *
                      (CAST(regexp_extract(
                         substr(bs, 1, x.p - 1)
                           || (CASE x.c WHEN '7' THEN '1' ELSE '8' END)
                           || substr(bs, x.p + 1), '(\d+)\.', 1)
                         AS BIGINT) * 100
                       + CAST(regexp_extract(
                         substr(bs, 1, x.p - 1)
                           || (CASE x.c WHEN '7' THEN '1' ELSE '8' END)
                           || substr(bs, x.p + 1), '\.(\d\d)$', 1)
                         AS BIGINT))) AS cand_cents
        FROM ocr_prep),
    ocr AS (
        SELECT *,
               CASE WHEN case_type = 'case3'
                         AND tol_d IS NULL AND tol_c IS NULL
                         AND prev_cents IS NOT NULL AND bal_cents IS NOT NULL
                         AND first_hit IS NOT NULL
                    THEN CASE WHEN abs(prev_cents - amt_cents - first_hit) <= 1
                              THEN 'DEBIT' ELSE 'CREDIT' END
                    END AS ocr_dir
        FROM (SELECT *,
                     list_filter(cand_cents,
                       y -> abs(prev_cents - amt_cents - y) <= 1
                         OR abs(prev_cents + amt_cents - y) <= 1)[1]
                         AS first_hit
              FROM ocr_cands)),
    solved AS (
        SELECT *,
               CASE WHEN amt_cents IS NULL OR prev_cents IS NULL
                         OR bal_cents IS NULL THEN 'UNKNOWN'
                    WHEN tol_d IS NOT NULL AND tol_c IS NULL THEN 'DEBIT'
                    WHEN tol_c IS NOT NULL AND tol_d IS NULL THEN 'CREDIT'
                    WHEN tol_d IS NOT NULL AND tol_c IS NOT NULL
                    THEN 'UNKNOWN'
                    ELSE coalesce(ocr_dir, 'UNKNOWN') END AS sr_dir,
               CASE WHEN tol_d IS NOT NULL AND tol_c IS NULL THEN tol_d
                    WHEN tol_c IS NOT NULL AND tol_d IS NULL THEN tol_c
                    WHEN tol_d IS NOT NULL AND tol_c IS NOT NULL
                    THEN least(tol_d, tol_c)
                    WHEN ocr_dir IS NOT NULL THEN 1
                    ELSE 0 END AS sr_tol
        FROM ocr),
    final_rows AS (
        SELECT conv_id, segment_index, turn_idx, line_ord,
               amt_cents AS amount_cents, bal_cents AS balance_cents,
               CASE WHEN case_type = 'case3' THEN
                      CASE WHEN amt_signed = 0 THEN 'UNKNOWN'
                           WHEN signish AND amt_signed < 0 THEN 'DEBIT'
                           ELSE 'CREDIT' END
                    WHEN sr_dir <> 'UNKNOWN' THEN sr_dir END AS direction,
               CASE WHEN case_type = 'case3' THEN
                      CASE WHEN amt_signed = 0 THEN 'single_amount_zero'
                           WHEN signish AND amt_signed < 0 THEN 'sign_negative'
                           ELSE 'sign_positive' END
                    WHEN sr_dir <> 'UNKNOWN'
                    THEN 'column_' || lower(sr_dir) END AS direction_source,
               CASE WHEN case_type = 'case3' THEN
                      CASE WHEN amt_signed = 0 THEN 5000
                           WHEN signish AND amt_signed < 0 THEN 9500
                           ELSE 9000 END
                    WHEN sr_dir <> 'UNKNOWN' THEN 9500 END AS conf_bp,
               (sr_dir <> 'UNKNOWN') AS balance_confirmed,
               CAST(sr_tol AS BIGINT) AS tol_hundredths
        FROM solved)
    SELECT conv_id, segment_index,
           CAST(ROW_NUMBER() OVER (PARTITION BY conv_id, segment_index
                                   ORDER BY line_ord) - 1 AS INT) AS seq,
           CAST(turn_idx AS INT) AS turn_idx,
           amount_cents, balance_cents, direction, direction_source,
           conf_bp, balance_confirmed, tol_hundredths
    FROM final_rows
    """


def _line_frame(turns: DataFrame) -> DataFrame:
    """Each segment's whitespace-normalized non-blank lines in reading
    order `_ord` (from 1), with `_hdr` set on header candidates: lines
    among the first 10 holding >= 2 HEADER_KEYWORDS — the
    detect_header_line data rule (kernels/rows.py), re-expressed
    natively so an oracle's slice restriction is the same pure data
    property on both engines."""
    lines = turns.select(
        "conv_id", "segment_index", "turn_idx",
        F.posexplode(F.filter(
            F.transform(F.split(F.coalesce("raw_text", F.lit("")), "\n"),
                        lambda l: F.trim(F.regexp_replace(l, r"\s+", " "))),
            lambda l: l != "")).alias("pos", "line"))
    w = Window.partitionBy("conv_id", "segment_index").orderBy("turn_idx", "pos")
    low = F.lower("line")
    kw_count = None
    for kw in sorted(HEADER_KEYWORDS):
        term = low.contains(kw).cast("int")
        kw_count = term if kw_count is None else kw_count + term
    return (lines.withColumn("_ord", F.row_number().over(w))
            .withColumn("_hdr", (F.col("_ord") <= 10) & (kw_count >= 2)))


def _segment_headers(lines: DataFrame) -> DataFrame:
    """(conv_id, segment_index, hl, header_ord): each segment's first
    header candidate among `_line_frame` lines, lowered, and its _ord."""
    return (lines.where("_hdr").groupBy("conv_id", "segment_index")
            .agg(F.lower(F.min_by("line", "_ord")).alias("hl"),
                 F.min("_ord").alias("header_ord")))


def _headered_segments(turns: DataFrame) -> DataFrame:
    """(conv_id, segment_index) whose first 10 lines hold a header line
    (see _line_frame).  Headerless segments (the corpus wipes ~5% of
    opening turns) are where merged right-justified columns cannot be
    split by header evidence, the one remaining class the line-level
    oracle cannot predict."""
    return (_line_frame(turns).where("_hdr")
            .select("conv_id", "segment_index").distinct())


def _main_amount_rows(rec: DataFrame, *slices: DataFrame) -> DataFrame:
    """Amount-bearing main-path (non-fallback) records on the segments
    of every `slices` frame, numbered `seq` from 0 per segment in row
    order."""
    rows = rec.where((~F.col("direction_source").isin(*FALLBACK_SOURCES))
                     & F.col("amount").isNotNull())
    for seg in slices:
        rows = rows.join(seg, ["conv_id", "segment_index"])
    w = Window.partitionBy("conv_id", "segment_index").orderBy("row_index")
    return rows.withColumn("seq", (F.row_number().over(w) - 1).cast("int"))


def _segments_balances_sql() -> str:
    """Generated oracle for the segments table's turn ranges and
    opening/closing balances (W7 first/last marker picks,
    orchestrator.py:599-613) on the headered main-route slice: marker
    rows are post-header lines matching the balance-marker patterns,
    their balance value is the trailing money token, and a segment has
    balance picks at all only when its header maps a BALANCE column
    (match_header keywords — the corpus' headered segments assign
    ROLE_BALANCE exactly by header keyword)."""
    cents = r"""(CASE WHEN m.money_tok LIKE '(%' OR m.money_tok LIKE '-%'
                      OR m.money_tok LIKE '%-' THEN -1 ELSE 1 END)
         * (CAST(replace(regexp_extract(m.money_tok, '(\d[\d,]*)\.', 1),
                         ',', '') AS BIGINT) * 100
            + CAST(regexp_extract(m.money_tok, '\.(\d{2})', 1) AS BIGINT))"""
    return rf"""{_mainslice_ctes()},
    ranges AS (
        SELECT conv_id, segment_index,
               CAST(MIN(turn_idx) AS INT) AS start_turn,
               CAST(MAX(turn_idx) AS INT) AS end_turn
        FROM turn_segmented GROUP BY 1, 2),
    hdr_balance AS (
        SELECT f.conv_id, f.segment_index,
               (lower(f.line) LIKE '%balance%' OR lower(f.line) LIKE '%running%'
                OR lower(f.line) LIKE '%closing%') AS has_balance
        FROM flagged f
        JOIN headered h ON f.conv_id = h.conv_id
                       AND f.segment_index = h.segment_index
                       AND f.line_ord = h.header_ord),
    marker_vals AS (
        SELECT m.conv_id, m.segment_index, m.line_ord, {cents} AS bal
        FROM (
            SELECT f.conv_id, f.segment_index, f.line_ord,
                   string_split(f.line, ' ')[len(string_split(f.line, ' '))]
                       AS money_tok
            FROM flagged f
            JOIN headered h USING (conv_id, segment_index)
            WHERE f.line_ord > h.header_ord
              AND regexp_matches(lower(f.line), '{_MARKER_SQL}')) m
        WHERE regexp_matches(m.money_tok, '{_MONEY_TOKEN_RE}')),
    balances AS (
        SELECT conv_id, segment_index,
               arg_min(bal, line_ord) AS opening,
               arg_max(bal, line_ord) AS closing
        FROM marker_vals GROUP BY 1, 2)
    SELECT r.conv_id, r.segment_index, r.start_turn, r.end_turn,
           CASE WHEN hb.has_balance THEN b.opening END AS opening_cents,
           CASE WHEN hb.has_balance THEN b.closing END AS closing_cents
    FROM ranges r
    JOIN seg_ok USING (conv_id, segment_index)
    JOIN hdr_balance hb USING (conv_id, segment_index)
    LEFT JOIN balances b USING (conv_id, segment_index)
    """


@register("transcripts_segments_balances", _on_turns_view(_segments_balances_sql()))
def transcripts_segments_balances(spark, sf_dir):
    """Segments-table projection (ranges + W7 opening/closing marker
    balances) on the headered main-route slice, hash-checked against
    _segments_balances_sql.  The slice is the same pure data rule on
    both engines (see transcripts_records_amounts)."""
    out = _pipeline_outputs(spark, sf_dir)
    segs = out["segments"]
    turns = out["turns"]
    headered = _headered_segments(turns)
    main = _mainroute_segments(spark, turns)
    return (segs.join(headered, ["conv_id", "segment_index"])
            .join(main, ["conv_id", "segment_index"])
            .select("conv_id", "segment_index", "start_turn", "end_turn",
                    (F.col("opening_balance") * 100).cast("long").alias("opening_cents"),
                    (F.col("closing_balance") * 100).cast("long").alias("closing_cents")))


def _raw_segment_lines(spark: SparkSession, turns: DataFrame) -> DataFrame:
    """(conv_id, segment_index, raw): each segment's non-blank lines as
    the snapshot payloads hold them — the routing rules need the
    whitespace runs the turns output's raw_text has normalized away."""
    snap = spark.read.parquet(TRANSCRIPTS_SNAPSHOT)
    return (snap.select("conv_id", "turn_idx", _payload().alias("payload"))
            .join(turns.select("conv_id", "turn_idx", "segment_index"),
                  ["conv_id", "turn_idx"])
            .select("conv_id", "segment_index",
                    F.explode(F.filter(
                        F.split("payload", "\n"),
                        lambda l: F.trim(F.regexp_replace(l, r"\s+", " ")) != ""))
                    .alias("raw")))


def _mainroute_segments(spark: SparkSession, turns: DataFrame) -> DataFrame:
    """(conv_id, segment_index) where neither structured-tier majority
    rule fires — the analyse_segment routing complement, as a native
    re-derivation of the same data property (see _line_frame)."""
    is_delim = F.col("raw").rlike("[|;]")
    is_single = (~is_delim) & (~F.col("raw").rlike(r"\S\s\s+\S"))
    return (_raw_segment_lines(spark, turns)
            .groupBy("conv_id", "segment_index")
            .agg(F.sum(is_delim.cast("int")).alias("_d"),
                 F.sum(is_single.cast("int")).alias("_s"),
                 F.count(F.lit(1)).alias("_n"))
            .where((2 * F.col("_d") <= F.col("_n"))
                   & (2 * F.col("_s") <= F.col("_n")))
            .select("conv_id", "segment_index"))


@register("transcripts_records_amounts", _on_turns_view(_records_amounts_sql()))
def transcripts_records_amounts(spark, sf_dir):
    """Solver-independent projection of the MAIN-path records (W9,
    orchestrator.py:692-789) on headered segments: amount-bearing rows
    with their dates, exact cents and per-segment order, oracle-checked
    against a line-level re-derivation (see _records_amounts_sql)."""
    out = _pipeline_outputs(spark, sf_dir)
    return (_main_amount_rows(out["records"], _headered_segments(out["turns"]))
            .select("conv_id", "segment_index", "seq", "turn_idx", "posted_date",
                    (F.col("amount") * 100).cast("long").alias("amount_cents")))


@register("transcripts_records_descriptions", _on_turns_view(_records_descriptions_sql()))
def transcripts_records_descriptions(spark, sf_dir):
    """Main-path description column (W9), oracle-checked on the
    real-header slice: the detected header line must map a DESCRIPTION
    keyword, the same data rule the SQL side applies — wiped-turn
    segments matching a pseudo-header (where role passes may leave
    description empty) are excluded by construction.  See
    _records_descriptions_sql for why the opening line's middle tokens
    are exactly the engine's description."""
    out = _pipeline_outputs(spark, sf_dir)
    turns = out["turns"]
    hl = F.col("hl")
    desc_kw = (hl.contains("description") | hl.contains("details")
               | hl.contains("particulars") | hl.contains("narrative")
               | hl.contains("transaction"))
    slice_segs = (_segment_headers(_line_frame(turns)).where(desc_kw)
                  .select("conv_id", "segment_index"))
    return (_main_amount_rows(out["records"], slice_segs,
                              _mainroute_segments(spark, turns))
            .select("conv_id", "segment_index", "seq", "turn_idx",
                    "description_raw",
                    (F.col("amount") * 100).cast("long").alias("amount_cents")))


def _solver_case_segments(spark: SparkSession, turns: DataFrame) -> DataFrame:
    """(conv_id, segment_index, case_type) for headered main-route
    segments the solver routes to case 1 (separate debit/credit
    columns) or case 3 (single amount + balance), re-derived natively
    from the same line-level data properties the SQL oracle uses, so
    both engines select the identical segment set by construction
    (the _line_frame pattern).

    Corpus-safe simplifications (documented like the delim oracle's):
    the header's role keywords are matched on the whole header line
    (the kernel's match_header walks per-cell with precedence — they
    diverge only for header shapes mixing one role's keyword inside
    another cell's text, absent from the corpus), and the short 'dr' /
    'cr' keywords are omitted ('description' contains 'cr').  The
    case-2 exclusion (>=30% sign-convention amounts route to the sign
    solver, balance_solver.py:82) is applied over the post-header
    money-tail rows' amount tokens — the line-level proxy for
    rows_have_sign_convention's amount_raw scan.
    """
    lines = _line_frame(turns)
    hdr = _segment_headers(lines)
    hl = F.col("hl")
    deb = (hl.contains("debit") | hl.contains("paid out")
           | hl.contains("money out") | hl.contains("withdrawal")
           | hl.contains("payments"))
    cred = (hl.contains("credit") | hl.contains("paid in")
            | hl.contains("money in") | hl.contains("deposit")
            | hl.contains("receipts"))
    bal = hl.contains("balance") | hl.contains("running") | hl.contains("closing")
    amt = hl.contains("amount")
    cases = (hdr.select(
        "conv_id", "segment_index", "header_ord",
        F.when(deb & cred & bal, F.lit("case1"))
         .when(amt & bal & ~(deb | cred), F.lit("case3")).alias("case_type"))
        .where(F.col("case_type").isNotNull()))

    # case-2 exclusion: signed amount tokens on >30% of money-tail rows
    data = (lines.join(cases, ["conv_id", "segment_index"])
            .where(F.col("_ord") > F.col("header_ord"))
            .where(~F.lower("line").rlike(BOILERPLATE_RLIKE)))
    toks = F.split("line", " ")
    n = F.size(toks)
    last = F.element_at(toks, -1)
    last2 = F.when(n >= 2, F.try_element_at(toks, F.lit(-2)))
    is_money_last = last.rlike(_MONEY_TOKEN_RE)
    is_money_last2 = F.coalesce(last2.rlike(_MONEY_TOKEN_RE), F.lit(False))
    amt_tok = (F.when((n >= 2) & last.isin("CR", "DR") & is_money_last2, last2)
               .when(is_money_last & is_money_last2, last2)
               .when(is_money_last, last))
    signish = (amt_tok.startswith("(") | amt_tok.startswith("-")
               | amt_tok.endswith("-") | last.isin("CR", "DR"))
    frac = (data.select("conv_id", "segment_index", "case_type",
                        amt_tok.alias("amt_tok"), signish.alias("signish"))
            .where(F.col("amt_tok").isNotNull())
            .groupBy("conv_id", "segment_index", "case_type")
            .agg(F.avg(F.col("signish").cast("int")).alias("sign_frac"))
            .where(F.col("sign_frac") <= 0.3))
    main = _mainroute_segments(spark, turns)
    return frac.join(main, ["conv_id", "segment_index"]) \
               .select("conv_id", "segment_index", "case_type")


def _headerless_uniform_segments(spark: SparkSession,
                                 turns: DataFrame) -> DataFrame:
    """(conv_id, segment_index) of main-route segments WITHOUT a
    header line whose two-money-token rows share ONE amount-token end
    column in the raw text — the line-level-predictable complement of
    _headered_segments.

    The excluded class (non-uniform ends) is the sparse separate
    debit/credit layout: with no header evidence the histogram merges
    the sparse columns and role statistics may drop one of them —
    engine output there is geometry-dependent, which a line-level
    oracle must not pretend to predict.  Uniform ends mean one amount
    column (single-amount layouts, with or without a balance), where
    the stats passes assign roles deterministically from the values
    themselves.  Computed from the snapshot's RAW lines (fixed-width
    column ends vanish after whitespace normalization).
    """
    norm = F.trim(F.regexp_replace("raw", r"\s+", " "))
    lines = (_raw_segment_lines(spark, turns).withColumn("norm", norm)
             .where(~F.lower("norm").rlike(BOILERPLATE_RLIKE)))
    toks = F.split("norm", " ")
    n = F.size(toks)
    last = F.element_at(toks, -1)
    last2 = F.when(n >= 2, F.try_element_at(toks, F.lit(-2)))
    two_tail = (last.rlike(_MONEY_TOKEN_RE)
                & F.coalesce(last2.rlike(_MONEY_TOKEN_RE), F.lit(False)))
    amt_end = F.length(F.rtrim(F.regexp_replace("raw", r"\s*\S+\s*$", "")))
    # size floor: the column histogram needs each x-cluster's smoothed
    # peak to clear the absolute height floor 2.0; a single-bin cluster
    # of k starts peaks at k * 0.266 (gaussian sigma=1.5), so k >= 8 is
    # the theoretical minimum and right-justified amounts split their
    # cluster across adjacent bins — require >= 12 money-tail rows so
    # the slice only contains segments where detection is guaranteed
    # by the data (columns.py:21-25 constants; corpus margin: the
    # largest failing segment has 7, the smallest succeeding 13)
    any_tail = last.rlike(_MONEY_TOKEN_RE)
    ends = (lines.withColumn("amt_end", F.when(two_tail, amt_end))
            .withColumn("is_tail", any_tail.cast("int"))
            .groupBy("conv_id", "segment_index")
            .agg(F.countDistinct("amt_end").alias("n_ends"),
                 F.sum("is_tail").alias("n_tail"))
            .where((F.col("n_ends") <= 1) & (F.col("n_tail") >= 12))
            .select("conv_id", "segment_index"))
    main = _mainroute_segments(spark, turns)
    headered = _headered_segments(turns)
    return (ends.join(main, ["conv_id", "segment_index"])
            .join(headered, ["conv_id", "segment_index"], "left_anti"))


@register("transcripts_records_headerless", _on_turns_view(_records_headerless_sql()))
def transcripts_records_headerless(spark, sf_dir):
    """Headerless-branch records oracle (the complement of
    transcripts_records_amounts): amount-bearing main-path records on
    headerless uniform-tail segments, where the stats passes
    (semantic_mapper.py:167-281 analogue) assign roles from values —
    order, turn, date, exact cents, balance, sign direction all
    re-derived line-level in SQL."""
    out = _pipeline_outputs(spark, sf_dir)
    seg_slice = _headerless_uniform_segments(spark, out["turns"])
    return (_main_amount_rows(out["records"], seg_slice)
            .select("conv_id", "segment_index", "seq", "turn_idx", "posted_date",
                    (F.col("amount") * 100).cast("long").alias("amount_cents"),
                    (F.col("running_balance") * 100).cast("long")
                    .alias("balance_cents"),
                    "direction", "direction_source"))


@register("transcripts_records_directions", _on_turns_view(_records_directions_sql()))
def transcripts_records_directions(spark, sf_dir):
    """W4/W6 balance-chain solver oracle (balance_solver.py:172-245,
    390-430 parity surface): on the case-1/case-3 headered main-route
    slice, the chain state is lag(reported balance) because the solver
    re-anchors on every reported balance (`current <- reported`), so
    direction fit, balance_confirmed, the tolerance ladder and the OCR
    digit-substitution rescue are all row-local given that lag — the
    SQL side re-derives them from the snapshot.  Chain discontinuities
    (the corpus' wiped turns) produce unconfirmed rows on both sides.

    Column semantics (orchestrator.py:617-624 merge rule): direction /
    source / confidence come from the field projection (sign or
    debit-credit column) since the solver only fills UNKNOWN rows; on
    case-1 rows the column choice is geometry the line-level oracle
    cannot see, so direction is compared only where the chain confirms
    it (balance_confirmed) — an engine that puts the amount in the
    wrong column fails the chain fit and therefore the hash.
    """
    out = _pipeline_outputs(spark, sf_dir)
    r = _main_amount_rows(out["records"], _solver_case_segments(spark, out["turns"]))
    checked = (F.col("case_type") == "case3") | F.col("balance_confirmed")
    return r.select(
        "conv_id", "segment_index", "seq", "turn_idx",
        (F.col("amount") * 100).cast("long").alias("amount_cents"),
        (F.col("running_balance") * 100).cast("long").alias("balance_cents"),
        F.when(checked, F.col("direction")).alias("direction"),
        F.when(checked, F.col("direction_source")).alias("direction_source"),
        F.when(checked, (F.col("confidence_direction") * 10000).cast("long"))
         .alias("conf_bp"),
        "balance_confirmed",
        (F.col("balance_tolerance_used") * 100).cast("long")
        .alias("tol_hundredths"))


def _tier_records(spark, sf_dir, source: str) -> DataFrame:
    """The records one fallback tier extracted, in its oracle's columns."""
    rec = _pipeline_outputs(spark, sf_dir)["records"]
    return (rec.where(F.col("direction_source") == source)
            .select("conv_id", "segment_index", "row_index", "turn_idx",
                    "posted_date", "description_raw",
                    (F.col("amount") * 100).cast("long").alias("amount_cents"),
                    (F.col("running_balance") * 100).cast("long").alias("balance_cents"),
                    "direction"))


@register("transcripts_records_pattern", f"""
    WITH {_TURNS_VIEW_SQL},
    {_records_pattern_sql()}
    {_records_pattern_select()}
""")
def transcripts_records_pattern(spark, sf_dir):
    """W9 field extraction, oracle-checked on the pattern-tier slice
    (see transcripts_records_delim — same routing-pinning argument)."""
    return _tier_records(spark, sf_dir, "row_pattern")


@register("transcripts_records_delim", _on_turns_view(_records_delim_sql()))
def transcripts_records_delim(spark, sf_dir):
    """W9 field extraction, oracle-checked on the delimiter-tier slice:
    every record the pipeline extracts through the delim fallback is
    re-derived in SQL from the snapshot (cells, header mapping, date
    ladder, exact cents, skips, row numbering).  The slice filter
    (direction_source) also pins tier ROUTING: a segment the engine
    mis-routes produces rows on exactly one side and fails the hash."""
    return _tier_records(spark, sf_dir, "delim_table")


def _classification_sql() -> str:
    """Generated oracle for conversation classification (C1/C2 +
    currency): the doc-family weighted keyword folds, provider argmax
    and currency marker counts re-derived in SQL from the same pattern
    tables over the snapshot.  Float parity: the keyword score is a
    left fold over per-pattern 0.15/0.12-or-0.0 terms in pattern order
    (list_reduce), exactly matching the Spark stage's chained adds.

    One RE2 limitation: the motor-finance pattern
    r"\\bhp\\b(?!\\s*(sauce|printer))" uses a negative lookahead RE2
    lacks; the oracle decomposes it as (matches hp) AND NOT (matches
    hp-sauce/printer), which diverges only for texts containing BOTH a
    suppressed and a bare 'hp' — verified absent from the snapshot
    corpus (zero \\bhp\\b occurrences).
    """
    from .kernels.classify import (
        BANK_STATEMENT_WEIGHT,
        CLASSIFY_FLOOR,
        CURRENCY_PATTERN_STRINGS,
        MOTOR_FINANCE_WEIGHT,
        PROVIDER_MATCH_WEIGHT,
    )

    def term(pattern: str, weight: float) -> str:
        if pattern == r"\bhp\b(?!\s*(sauce|printer))":
            cond = (r"(regexp_matches(t, '\bhp\b') AND NOT "
                    r"regexp_matches(t, '\bhp\b\s*(?:sauce|printer)'))")
        else:
            cond = f"regexp_matches(t, '{_sql_regex(_noncapturing(pattern))}')"
        return f"CASE WHEN {cond} THEN {weight} ELSE 0.0 END"

    def fold(patterns: list[str], weight: float) -> str:
        terms = ", ".join(term(p, weight) for p in patterns)
        return (f"least(list_reduce(list_prepend(0.0, [{terms}]),"
                f" (a, x) -> a + x), 1.0)")

    mf = fold(MOTOR_FINANCE_KEYWORDS, MOTOR_FINANCE_WEIGHT)
    bs = fold(BANK_STATEMENT_KEYWORDS, BANK_STATEMENT_WEIGHT)

    prov_cols = []
    names = list(PROVIDER_PATTERNS)
    for prov, pats in PROVIDER_PATTERNS.items():
        cnts = " + ".join(
            f"CASE WHEN regexp_matches(t, '{_sql_regex(_noncapturing(p))}')"
            f" THEN 1 ELSE 0 END" for p in pats)
        safe = prov.lower().replace(" ", "_").replace("-", "_")
        prov_cols.append(
            f"least(({cnts}) * {PROVIDER_MATCH_WEIGHT}, 1.0) AS s_{safe}")
    safe_names = [p.lower().replace(" ", "_").replace("-", "_") for p in names]
    best_when_s, best_when_n = [], []
    for i, (prov, safe) in enumerate(zip(names, safe_names)):
        cond = " AND ".join(f"s_{safe} >= s_{o}" for o in safe_names[i + 1:]) or "TRUE"
        best_when_s.append(f"WHEN {cond} THEN s_{safe}")
        best_when_n.append(f"WHEN {cond} THEN '{prov}'")

    ccy_cnt = {c: f"len(regexp_extract_all(t, '{_sql_regex(p)}'))"
               for c, p in CURRENCY_PATTERN_STRINGS}
    currency = f"""
        CASE WHEN {ccy_cnt['GBP']} >= {ccy_cnt['USD']}
              AND {ccy_cnt['GBP']} >= {ccy_cnt['EUR']}
              AND {ccy_cnt['GBP']} > 0 THEN 'GBP'
             WHEN {ccy_cnt['USD']} >= {ccy_cnt['EUR']}
              AND {ccy_cnt['USD']} > 0 THEN 'USD'
             WHEN {ccy_cnt['EUR']} > 0 THEN 'EUR'
             ELSE 'GBP' END"""

    return rf"""
    WITH turns_in AS (
        SELECT conv_id, turn_idx,
               CASE WHEN text IS NOT NULL AND text <> '' THEN text
                    WHEN tool IS NOT NULL AND tool <> '' THEN tool
                    ELSE '' END AS payload
        FROM read_parquet('{TRANSCRIPTS_SNAPSHOT}/*.parquet')),
    turn_raw AS (
        SELECT conv_id, turn_idx,
               coalesce(array_to_string(list_filter(
                   list_transform(string_split(payload, chr(10)),
                                  l -> trim(regexp_replace(l, '\s+', ' ', 'g'))),
                   l -> l <> ''), chr(10)), '') AS raw_text
        FROM turns_in),
    conv AS (
        SELECT conv_id,
               lower(coalesce(string_agg(raw_text, chr(10) ORDER BY turn_idx)
                              FILTER (WHERE raw_text <> ''), '')) AS t
        FROM turn_raw GROUP BY conv_id),
    scored AS (
        SELECT conv_id, {mf} AS mf, {bs} AS bs,
               {', '.join(prov_cols)},
               {currency} AS currency
        FROM conv),
    best AS (
        SELECT conv_id, mf, bs, currency,
               CASE {' '.join(best_when_s)} END AS best_score,
               CASE {' '.join(best_when_n)} END AS best_name
        FROM scored)
    SELECT conv_id,
           CASE WHEN bs > mf AND bs >= {CLASSIFY_FLOOR} THEN 'BANK_STATEMENT'
                WHEN mf > bs AND mf >= {CLASSIFY_FLOOR} THEN 'MOTOR_FINANCE'
                ELSE 'UNKNOWN' END AS doc_family,
           CASE WHEN bs > mf AND bs >= {CLASSIFY_FLOOR} THEN bs
                WHEN mf > bs AND mf >= {CLASSIFY_FLOOR} THEN mf
                ELSE greatest(bs, mf) END AS doc_family_confidence,
           CASE WHEN best_score > 0 THEN best_name END AS provider,
           CASE WHEN best_score > 0 THEN best_score END AS provider_confidence,
           currency
    FROM best
    """


@register("transcripts_classification", _classification_sql())
def transcripts_classification(spark, sf_dir):
    """C1/C2 + currency over the snapshot corpus, oracle-checked: the
    classification regex folds and argmaxes are pure column math, so
    the oracle re-derives them from the same pattern tables."""
    from .stages.classify import classify_stage
    from .stages.tokenize import tokenize_stage

    turns = tokenize_stage(_ensure_snapshot(spark, sf_dir))
    conv = classify_stage(turns)
    return conv.select("conv_id", "doc_family", "doc_family_confidence",
                       "provider", "provider_confidence", "currency")


@register("transcripts_conversations_meta", f"""
    WITH {_TURNS_VIEW_SQL},
    nseg AS (
        SELECT conv_id, CAST(MAX(segment_index) + 1 AS INT) AS n_segments
        FROM turn_segmented GROUP BY conv_id)
    SELECT c.conv_id, n.n_segments, c.doc_family, c.currency
    FROM ({_classification_sql()}) c
    JOIN nseg n USING (conv_id)
""")
def transcripts_conversations_meta(spark, sf_dir):
    """SQL-expressible projection of the conversations rollup: the
    n_segments wiring (max segment index + 1 joined onto the rollup)
    plus the classification columns, hash-checked — the full rollup
    row stays rows-only (solver-dependent totals/gates)."""
    conv = _pipeline_outputs(spark, sf_dir)["conversations"]
    return conv.select("conv_id", "n_segments", "doc_family", "currency")


@register("transcripts_segments_counts", f"""
    WITH {_TURNS_VIEW_SQL}
    SELECT conv_id, segment_index, CAST(COUNT(*) AS INT) AS n_records
    FROM (WITH {_records_delim_sql()})
    GROUP BY 1, 2
    UNION ALL
    SELECT conv_id, segment_index, CAST(COUNT(*) AS INT) AS n_records
    FROM (WITH {_records_pattern_sql()}
          {_records_pattern_select()})
    GROUP BY 1, 2
""")
def transcripts_segments_counts(spark, sf_dir):
    """Segments-table n_records wiring on the structured-tier slices:
    per-segment record counts re-derived by the tier oracles must
    equal the segments table's n_records column (the routing oracle
    pins the diagnostics row_count; this pins the segments table)."""
    out = _pipeline_outputs(spark, sf_dir)
    segs = out["segments"]
    tier_segs = (out["records"]
                 .where(F.col("direction_source").isin("delim_table",
                                                       "row_pattern"))
                 .select("conv_id", "segment_index").distinct())
    return (segs.join(tier_segs, ["conv_id", "segment_index"])
            .select("conv_id", "segment_index", "n_records"))


@register("transcripts_records", None)
def transcripts_records(spark, sf_dir):
    """Flagship records output.  The driver canonicalizes results by
    sorting/factorizing a pandas frame, which cannot hash list cells —
    array columns are therefore projected through to_json (a
    deterministic, sortable string; the pipeline schema itself keeps
    the structs, see stages/extract.py RECORDS_STAGE_SCHEMA)."""
    rec = _pipeline_outputs(spark, sf_dir)["records"]
    return rec.withColumn("evidence", F.to_json("evidence"))


@register("transcripts_conversations", None)
def transcripts_conversations(spark, sf_dir):
    """Conversation rollup output; array columns stringified for the
    driver's canonicalization (see transcripts_records)."""
    conv = _pipeline_outputs(spark, sf_dir)["conversations"]
    return (conv.withColumn("hard_gate_failures", F.to_json("hard_gate_failures"))
                .withColumn("warnings", F.to_json("warnings")))


@register("transcripts_segments", None)
def transcripts_segments(spark, sf_dir):
    return _pipeline_outputs(spark, sf_dir)["segments"]


@register("transcripts_detected_tables_routing", f"""
    WITH {_TURNS_VIEW_SQL}
    SELECT c.conv_id, c.segment_index, 'delim_grid' AS engine,
           'TRANSACTION_TABLE' AS table_type, c.row_count,
           g.column_count, g.header_row
    FROM (SELECT conv_id, segment_index, CAST(COUNT(*) AS INT) AS row_count
          FROM (WITH {_records_delim_sql()})
          GROUP BY 1, 2) c
    JOIN (WITH {_delim_geometry_sql()}) g USING (conv_id, segment_index)
    UNION ALL
    SELECT c.conv_id, c.segment_index, 'row_pattern' AS engine,
           'TRANSACTION_TABLE' AS table_type, c.row_count,
           g.column_count, g.header_row
    FROM (SELECT conv_id, segment_index, CAST(COUNT(*) AS INT) AS row_count
          FROM (WITH {_records_pattern_sql()}
                {_records_pattern_select()})
          GROUP BY 1, 2) c
    JOIN (WITH {_pattern_geometry_sql()}) g USING (conv_id, segment_index)
""")
def transcripts_detected_tables_routing(spark, sf_dir):
    """Diagnostics routing oracle: on the structured-tier slices the
    detected_tables row (engine, table_type, row_count) is fully
    data-derivable — the oracle re-counts each tier's parsed rows, so
    a mis-routed or mis-counted diagnostics row fails the hash."""
    diag = _pipeline_outputs(spark, sf_dir)["detected_tables"]
    return (diag.where(F.col("engine").isin("delim_grid", "row_pattern"))
            .select("conv_id", "segment_index", "engine", "table_type",
                    "row_count", "column_count",
                    F.get_json_object("header_json", "$.line_index")
                    .cast("int").alias("header_row")))


@register("transcripts_detected_tables", None)
def transcripts_detected_tables(spark, sf_dir):
    """detected_tables diagnostics (tables.py:252-292 analogue): per
    segment, which engine produced the table (column_histogram /
    text_grid / delim_grid / row_pattern / none), its column geometry,
    role map and header line.  No SQL oracle: the histogram/peak
    geometry is the non-relational kernel itself; the row/engine
    contract is pinned by tests/test_fallback_tiers.py."""
    return _pipeline_outputs(spark, sf_dir)["detected_tables"]


def queries() -> dict[str, QueryFn]:
    return {name: fn for name, (fn, _sql) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_fn, sql) in _REGISTRY.items() if sql is not None}
