"""Output sinks: bucketed parquet writes + CSV export.

- write_outputs: parquet partitioned by a conv_id hash bucket with
  (conv_id, turn_idx / row ordering) sorted within partitions — the
  Iceberg-style bucket(N, conv_id) + sort-order layout SURVEY.md §4
  maps the reference's b-tree indexes onto (min/max pruning replaces
  point lookups).
- export_records_csv: the reference's CSV export (api/documents.py:
  241-282) — records joined to conversations, ordered, with the XLSX
  signed-amount rule (api/documents.py:585-772: signed = -abs(amount)
  when direction == DEBIT) kept as a column expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

DEFAULT_BUCKETS = 64


def signed_amount_col(amount_col, direction_col):
    """XLSX export rule: debits negative, credits positive."""
    return F.when(direction_col == "DEBIT", -F.abs(amount_col)) \
            .otherwise(F.abs(amount_col))


# Reference styled-workbook constants (api/documents.py:650-731)
XLSX_AMOUNT_FORMAT = '£#,##0.00;[Red]-£#,##0.00;"-"'  # :731
XLSX_DEBIT_COLOR = "CC0000"                                     # :656
XLSX_CREDIT_COLOR = "006600"                                    # :657


def xlsx_style_columns(records: DataFrame) -> DataFrame:
    """S12 styled XLSX export re-expressed as DATA (the container has
    no openpyxl; `export_records_xlsx` stubs the workbook write while
    every styling DECISION the reference makes per cell
    (api/documents.py:650-731) is computed distributively and
    oracle-checkable):

      signed_amount      debits negative (the S12 rule)
      amount_display     what the number_format renders — comma-
                         grouped pound string, built from exact
                         integer cents (no float formatting)
      font_color         CC0000 debit / 006600 credit (:656-657),
                         null otherwise (default money font)
      date_display       DD/MM/YYYY rendering (:716)
      number_format      the reference's accounting format (:731)
    """
    signed = signed_amount_col(F.col("amount"), F.col("direction"))
    cents = (signed * 100).cast("long")
    mag = F.abs(cents)
    # exact integer split: (mag - mag%100)/100 is integer-valued
    pounds = ((mag - mag % 100) / 100).cast("long")
    body = F.concat(F.format_number(pounds, 0), F.lit("."),
                    F.lpad((mag % 100).cast("string"), 2, "0"))
    return (records
            .withColumn("signed_amount", signed)
            .withColumn("amount_display",
                        F.when(cents < 0, F.concat(F.lit("-£"), body))
                         .otherwise(F.concat(F.lit("£"), body)))
            .withColumn("font_color",
                        F.when(F.col("direction") == "DEBIT",
                               F.lit(XLSX_DEBIT_COLOR))
                         .when(F.col("direction") == "CREDIT",
                               F.lit(XLSX_CREDIT_COLOR)))
            .withColumn("date_display",
                        F.date_format("posted_date", "dd/MM/yyyy"))
            .withColumn("number_format", F.lit(XLSX_AMOUNT_FORMAT)))


def export_records_xlsx(records: DataFrame, conversations: DataFrame,
                        path: str) -> None:
    """Styled-workbook export (api/documents.py:595-745).  The styled
    frame is fully computed Spark-side; the single-file workbook write
    is driver-side by nature (one .xlsx artifact) and requires
    openpyxl, absent from this container — gated behind the import."""
    styled = xlsx_style_columns(records).join(
        F.broadcast(conversations.select("conv_id", "doc_family",
                                         "provider")),
        "conv_id", "inner").orderBy("conv_id", "segment_index", "row_index")
    try:
        import openpyxl  # noqa: F401
    except ImportError as exc:                     # pragma: no cover
        raise NotImplementedError(
            "openpyxl unavailable in this environment; styled frame is "
            "computed — collect styled.toPandas() and write when the "
            "dependency exists") from exc
    pdf = styled.toPandas()                        # pragma: no cover
    from openpyxl import Workbook                  # pragma: no cover
    from openpyxl.styles import Font               # pragma: no cover
    wb = Workbook()                                # pragma: no cover
    ws = wb.active                                 # pragma: no cover
    ws.append(list(pdf.columns))                   # pragma: no cover
    for _, row in pdf.iterrows():                  # pragma: no cover
        ws.append(list(row))
        if row["font_color"]:
            ws.cell(ws.max_row, list(pdf.columns).index("signed_amount") + 1
                    ).font = Font(color=row["font_color"])
    wb.save(path)                                  # pragma: no cover


def write_outputs(outputs: dict[str, DataFrame], out_dir: str,
                  n_buckets: int = DEFAULT_BUCKETS) -> None:
    """Bucketed, sorted parquet layout for every output table."""
    order_keys = {
        "turns": ["conv_id", "turn_idx"],
        "records": ["conv_id", "segment_index", "row_index"],
        "segments": ["conv_id", "segment_index"],
        "conversations": ["conv_id"],
    }
    for name, df in outputs.items():
        if name.startswith("_"):
            continue
        keys = order_keys.get(name, ["conv_id"])
        bucketed = df.withColumn("bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)))
        (bucketed.repartition("bucket")
         .sortWithinPartitions(*keys)
         .write.mode("overwrite")
         .partitionBy("bucket")
         .parquet(f"{out_dir}/{name}"))


def export_records_csv(records: DataFrame, conversations: DataFrame,
                       path: str) -> None:
    """Reference CSV export: records x conversations, stable order."""
    joined = records.join(
        F.broadcast(conversations.select(
            "conv_id", "doc_family", "provider", "account_holder_name")),
        "conv_id", "inner")
    out = joined.select(
        "conv_id", "segment_index", "row_index", "turn_idx",
        "posted_date", "description_clean", "amount", "direction",
        signed_amount_col(F.col("amount"), F.col("direction")).alias("signed_amount"),
        "running_balance", "balance_confirmed",
        "doc_family", "provider", "account_holder_name",
    ).orderBy("conv_id", "segment_index", "row_index")
    out.write.mode("overwrite").option("header", True).csv(path)
