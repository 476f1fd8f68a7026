"""Stage 3 — conversation-level classification (one Arrow UDF).

Parity with the integrated reference path (orchestrator.py:316-345):
classification, provider detection and customer-info extraction all
run over ONE combined string — '\\n'.join of the non-empty per-turn
raw_texts in turn order.

One scalar pandas UDF over that string makes, per conversation, the
same four kernel calls as kernels/oracle.process_conversation:

- classify_document (doc_classifier.py:62-105): per-keyword weighted
  additions chained in pattern order, capped at 1.0, argmax with a
  0.3 floor;
- detect_provider (provider_detector.py:99-127): per-provider match
  counts * 0.4 capped at 1.0; best score wins, first-seen provider
  wins ties;
- detect_currency: most frequent currency marker, GBP default;
- extract_customer_info (orchestrator.py:79-146): postcode anchor +
  walk-back block over the first 50 lines.

So the stage has Python `re` semantics (Unicode `\\d`, `\\s` and
case folding), the reference's, with no second regex engine to keep
in step.  The groupBy(conv_id) reuses the segment stage's hash
exchange when chained after it.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from ..kernels.classify import (
    classify_document,
    detect_currency,
    detect_provider,
)
from ..kernels.customer import extract_customer_info

_CLASSIFY_TYPE = StructType([
    StructField("doc_family", StringType(), False),
    StructField("doc_family_confidence", DoubleType(), False),
    StructField("provider", StringType(), True),
    StructField("provider_confidence", DoubleType(), True),
    StructField("currency", StringType(), False),
    StructField("account_holder_name", StringType(), True),
    StructField("account_holder_address", StringType(), True),
    StructField("account_holder_postcode", StringType(), True),
])


def _classify_one(text: str) -> dict:
    family = classify_document([text])
    provider = detect_provider([text])
    return {
        "doc_family": family["doc_family"],
        "doc_family_confidence": family["confidence"],
        "provider": provider["provider_name"],
        # null when no provider matched, as in the SQL oracle
        "provider_confidence": (provider["confidence"]
                                if provider["provider_name"] else None),
        "currency": detect_currency(text),
        **extract_customer_info(text),
    }


@pandas_udf(_CLASSIFY_TYPE)
def _classify_udf(conv_text: pd.Series) -> pd.DataFrame:
    return pd.DataFrame([_classify_one(t) for t in conv_text],
                        index=conv_text.index)


# Bounded classification scan: the reference classifies over a whole
# document's text, which is fine for <=50-page statements but unbounded
# for transcripts.  Conversations beyond this many characters classify
# on their prefix — the same bounded-scan rule the reference applies
# elsewhere (10-line header scan, 50-line customer scan, 3-page
# provider scan; SURVEY §2.9 O2-O5).  Far above any fixture
# conversation (~0.25 MB max), so parity is unaffected; at 10^12-turn
# scale it bounds the collect_list row size.
CLASSIFY_CHAR_CAP = 2_000_000


def conversation_text(turns: DataFrame,
                      char_cap: int = CLASSIFY_CHAR_CAP,
                      extra_aggs: tuple = ()) -> DataFrame:
    """conv_id -> combined '\\n'-joined non-empty raw_texts in order
    (prefix-capped at ``char_cap`` cumulative characters).

    ``extra_aggs``: additional aggregate expressions computed in the
    SAME groupBy — callers that need other per-conversation aggregates
    (e.g. the pipeline's n_segments) fold them into this pass instead
    of paying a second full aggregation over the turns frame."""
    from pyspark.sql import Window
    w = (Window.partitionBy("conv_id").orderBy("turn_idx")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = F.sum(F.length(F.col("raw_text")) + F.lit(1)).over(w)
    # the first turn is ALWAYS included even when it alone exceeds the
    # cap — otherwise an oversized opening turn yields conv_text='' and
    # a silent UNKNOWN classification instead of classifying on a
    # truncated-to-one-turn prefix (same window spec, so no new sort)
    rn = F.row_number().over(Window.partitionBy("conv_id").orderBy("turn_idx"))
    # collect_list drops the when()'s nulls -> over-cap turns excluded
    # without a second aggregation or join; the window reuses the
    # segment stage's exchange + sort
    in_cap = F.when((rn == 1) | (cum <= char_cap),
                    F.struct("turn_idx", "raw_text"))
    return turns.withColumn("_in_cap", in_cap).groupBy("conv_id").agg(
        F.array_join(F.filter(
            F.transform(F.array_sort(F.collect_list("_in_cap")),
                        lambda x: x["raw_text"]),
            lambda t: t != ""), "\n").alias("conv_text"),
        F.count(F.lit(1)).cast("int").alias("n_turns"),
        *extra_aggs,
    )


def classify_stage(turns: DataFrame, extra_aggs: tuple = (),
                   extra_cols: tuple = ()) -> DataFrame:
    """turns -> one row per conversation with family/provider/customer
    (+ any ``extra_aggs`` passed through as ``extra_cols``)."""
    conv = conversation_text(turns, extra_aggs=extra_aggs) \
        .withColumn("_cls", _classify_udf(F.col("conv_text")))
    return conv.select(
        "conv_id", "n_turns",
        *(F.col(f"_cls.{f.name}").alias(f.name) for f in _CLASSIFY_TYPE.fields),
        *extra_cols,
    )
