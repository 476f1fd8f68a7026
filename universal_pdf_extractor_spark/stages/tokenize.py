"""Stage 1 — tokenize + boilerplate strip (shuffle-free).

Maps each transcript turn through the layout kernel
(kernels/layout.py) with ONE Arrow round trip: a struct-returning
scalar pandas UDF computes raw_text (reading-order reconstruction),
clean_text + spans (boilerplate strip, the north-rule primary
output), the segment-boundary score of the top band (the
kernels.classify scorer, so Python `re` semantics) and token/line
counts.  The lowered top-band text itself stays inside the UDF.

Engine selection mirrors the reference's text-layer probe
(app/engines/pdfplumber_engine.py:169-185 routing,
orchestrator.py:259-275): a turn whose `text` is non-empty takes the
TEXT path; otherwise a non-empty `tool` payload takes the TOOL path
(the OCR-fallback analogue, producing the identical shape,
app/engines/tesseract_engine.py:82-169); else EMPTY.

No shuffle: the whole stage pipelines inside the scan stage, and
Catalyst prunes unused transcript columns away from the parquet read.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..kernels.layout import TOOL_TOKEN_CONFIDENCE, turn_view_batch

VIEW_TYPE = StructType([
    StructField("raw_text", StringType(), False),
    StructField("clean_text", StringType(), False),
    StructField("span_starts", ArrayType(IntegerType()), False),
    StructField("span_ends", ArrayType(IntegerType()), False),
    StructField("n_lines", IntegerType(), False),
    StructField("n_tokens", IntegerType(), False),
    StructField("boundary_score", DoubleType(), False),
])


@pandas_udf(VIEW_TYPE)
def _turn_view_udf(payload: pd.Series) -> pd.DataFrame:
    return turn_view_batch(payload)


def tokens_table(transcripts: DataFrame) -> DataFrame:
    """Diagnostic token-IR surface (contracts.py:20-26 analogue).

    One row per token with normalized [0,1] bbox, source-path tag and
    char offsets into the original turn text — the NormalizedPage
    token list as an exploded columnar table.  Not on the hot path;
    used for layout debugging and external token consumers.

    Vectorized per turn instead of per token: ONE finditer over the
    whole payload (\\S+ never crosses a newline), line indices by
    searchsorted over newline positions, and x/y looked up from the
    same Python-rounded memo tables tokenize_turn uses — so every
    emitted value is identical to the per-token loop (pinned by the
    transcripts_token_ir oracle hash over 1.5M rows).
    """
    import numpy as np
    import pandas as pd  # noqa: F811

    from ..kernels.layout import (
        TOKEN_CONFIDENCE,
        _TOKEN_RE,
        _page_width,
        _x_table,
        _y_tables,
    )
    from ..schemas import TOKEN_TYPE

    out_schema = StructType([
        StructField("conv_id", StringType(), False),
        StructField("turn_idx", IntegerType(), False),
        StructField("token_index", IntegerType(), False),
    ] + list(TOKEN_TYPE.fields))
    out_cols = [f.name for f in out_schema.fields]

    def run(batches):
        for pdf in batches:
            text_ok = pdf["text"].notna() & (pdf["text"] != "")
            tool_ok = pdf["tool"].notna() & (pdf["tool"] != "")
            payload = pdf["text"].where(text_ok, pdf["tool"].where(tool_ok, ""))
            is_tool = (~text_ok) & tool_ok
            frames = []
            for conv_id, turn_idx, text, via_tool in zip(
                    pdf["conv_id"], pdf["turn_idx"], payload, is_tool):
                if not text:
                    continue
                spans = [m.span() for m in _TOKEN_RE.finditer(text)]
                if not spans:
                    continue
                starts = np.fromiter((s for s, _ in spans), np.int64,
                                     count=len(spans))
                ends = np.fromiter((e for _, e in spans), np.int64,
                                   count=len(spans))
                raw_lines = text.split("\n")
                # char offset of each original line -> 0-based line per
                # token (CHAR offsets, matching the regex spans — byte
                # offsets would diverge on non-ASCII payloads)
                lens = np.fromiter((len(l) for l in raw_lines), np.int64,
                                   count=len(raw_lines))
                starts_per_line = np.concatenate(
                    ([0], np.cumsum(lens + 1)[:-1]))
                line_idx = np.searchsorted(starts_per_line, starts,
                                           side="right") - 1
                line_start = starts_per_line[line_idx]
                width = _page_width(raw_lines)
                xs = np.asarray(_x_table(width, int((ends - line_start).max())))
                y0s, y1s = _y_tables(len(raw_lines) - 1)
                conf = TOOL_TOKEN_CONFIDENCE if via_tool else TOKEN_CONFIDENCE
                frames.append(pd.DataFrame({
                    "conv_id": conv_id,
                    "turn_idx": int(turn_idx),
                    "token_index": np.arange(len(spans), dtype=np.int64),
                    "text": [text[s:e] for s, e in spans],
                    "x0": xs[starts - line_start],
                    "y0": np.asarray(y0s)[line_idx],
                    "x1": xs[ends - line_start],
                    "y1": np.asarray(y1s)[line_idx],
                    "confidence": conf,
                    "start": starts,
                    "end": ends,
                }))
            if frames:
                yield pd.concat(frames, ignore_index=True)
            else:
                yield pd.DataFrame({c: [] for c in out_cols})

    return transcripts.select("conv_id", "turn_idx", "text", "tool") \
                      .mapInPandas(run, schema=out_schema)


# the extraction_path values tokenize_stage assigns, in routing order
EXTRACTION_PATHS = ("TEXT", "TOOL", "EMPTY")


def tokenize_stage(transcripts: DataFrame) -> DataFrame:
    """transcripts -> + (extraction_path, payload, view columns)."""
    text_ok = F.col("text").isNotNull() & (F.col("text") != "")
    tool_ok = F.col("tool").isNotNull() & (F.col("tool") != "")
    df = transcripts.withColumn(
        "extraction_path",
        F.when(text_ok, F.lit("TEXT"))
         .when(tool_ok, F.lit("TOOL"))
         .otherwise(F.lit("EMPTY")),
    ).withColumn(
        "payload",
        F.when(text_ok, F.col("text"))
         .when(tool_ok, F.col("tool"))
         .otherwise(F.lit("")),
    )
    df = df.withColumn("view", _turn_view_udf(F.col("payload")))
    return df.select(
        "conv_id", "turn_idx", "role", "ts", "extraction_path", "payload",
        F.col("view.raw_text").alias("raw_text"),
        F.col("view.clean_text").alias("clean_text"),
        F.col("view.span_starts").alias("span_starts"),
        F.col("view.span_ends").alias("span_ends"),
        F.col("view.n_lines").alias("n_lines"),
        F.col("view.n_tokens").alias("n_tokens"),
        F.col("view.boundary_score").alias("boundary_score"),
        # PageMetrics analogue (contracts.py:67-80): text-path tokens
        # carry fixed 0.95 (pdfplumber_engine.py:125,154); TOOL-path
        # turns carry the OCR-analogue tier 0.88 (see kernels.layout.
        # TOOL_TOKEN_CONFIDENCE); the 50-token quick sample
        # (tesseract_engine.py:195-212) equals the page mean when
        # per-token confidence is constant, so one column serves both
        F.when(F.col("view.n_tokens") <= 0, F.lit(0.0))
         .when(F.col("extraction_path") == "TOOL", F.lit(TOOL_TOKEN_CONFIDENCE))
         .otherwise(F.lit(0.95))
         .alias("mean_token_confidence"),
    )
