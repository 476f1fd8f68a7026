"""Stage 4 — per-segment record extraction (one mapInPandas pass).

The sequential parts of the reference pipeline — row reconstruction
(table_extractor.py:243-321), role assignment ordering
(semantic_mapper.py:167-281) and the balance-chain walks
(balance_solver.py:172-245,390-430) — carry genuine running state, so
they run in Python, one ``analyse_segment`` call per segment, inside
ONE ``mapInPandas`` that streams many whole conversations per Arrow
batch.  Each segment's lines come from ``kernels.layout.segment_lines``,
which the oracle calls too and which tokenizes the segment's
payloads and decides x over the whole segment.  Everything upstream
(tokenize, boundary scoring, segment ids) and downstream (scoring,
joins, ordering) is native.

That call yields every per-segment surface at once, in one
row_type-discriminated frame: the `transactions` rows
(tables.py:298-382) and one diag row per segment.  The diag row holds
the `detected_tables` diagnostics (tables.py:252-292) and the whole
`document_segments` row (turn range, record count, opening/closing
balances), as the reference writes both in the same per-document pass;
``segments_table`` only selects it.
"""

from __future__ import annotations

from decimal import Decimal

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DateType,
    DecimalType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..kernels.layout import segment_lines
from ..kernels.segment_extract import analyse_segment

# per-field provenance (transaction_evidence analogue, tables.py:388-420)
EVIDENCE_TYPE = StructType([
    StructField("field", StringType(), False),
    StructField("turn_idx", IntegerType(), False),
    StructField("start", IntegerType(), False),
    StructField("end", IntegerType(), False),
])

RECORDS_STAGE_SCHEMA = StructType([
    StructField("conv_id", StringType(), False),
    StructField("segment_index", IntegerType(), False),
    StructField("row_index", IntegerType(), False),
    StructField("turn_idx", IntegerType(), False),
    StructField("posted_date", DateType(), True),
    StructField("description_raw", StringType(), True),
    StructField("description_clean", StringType(), True),
    StructField("amount", DecimalType(15, 2), True),
    StructField("direction", StringType(), False),
    StructField("direction_source", StringType(), True),
    StructField("running_balance", DecimalType(15, 2), True),
    StructField("balance_confirmed", BooleanType(), False),
    StructField("balance_tolerance_used", DecimalType(6, 4), True),
    StructField("confidence_amount", DecimalType(5, 4), True),
    StructField("confidence_date", DecimalType(5, 4), True),
    StructField("confidence_direction", DecimalType(5, 4), True),
    StructField("fallback_used", BooleanType(), False),
    StructField("evidence", ArrayType(EVIDENCE_TYPE), False),
    StructField("segment_opening_balance", DecimalType(15, 2), True),
    StructField("segment_closing_balance", DecimalType(15, 2), True),
    StructField("segment_closing_distinct", BooleanType(), False),
])

# combined records+diagnostics output: ONE analyse_segment pass emits
# both surfaces (discriminated by row_type), so materializing
# detected_tables costs zero extra Python work.  Diagnostics follow the
# reference's detected_tables row: which engine produced the table, its
# column geometry, assigned roles and header line, with JSON columns
# mirroring bbox_json / header_row_json / column_mapping_json
_DIAG_FIELDS = [
    StructField("engine", StringType(), True),
    StructField("table_type", StringType(), True),
    StructField("row_count", IntegerType(), True),
    StructField("column_count", IntegerType(), True),
    StructField("bbox_json", StringType(), True),
    StructField("header_json", StringType(), True),
    StructField("column_mapping_json", StringType(), True),
]

# the document_segments facts a diag row adds to the balances it shares
# with the record rows; detected_tables does not select them
_SEGMENT_FIELDS = [
    StructField("start_turn", IntegerType(), True),
    StructField("end_turn", IntegerType(), True),
    StructField("n_records", IntegerType(), True),
]

COMBINED_STAGE_SCHEMA = StructType(
    [StructField("row_type", StringType(), False)]
    + [StructField(f.name, f.dataType, True) if f.name not in
       ("conv_id", "segment_index") else f
       for f in RECORDS_STAGE_SCHEMA.fields]
    + _DIAG_FIELDS + _SEGMENT_FIELDS)

_COMBINED_COLUMNS = [f.name for f in COMBINED_STAGE_SCHEMA.fields]
# each output row starts from it: pandas fills a missing key with float
# NaN, which Arrow cannot place in Decimal / struct-typed columns
_BLANK_ROW = dict.fromkeys(_COMBINED_COLUMNS)
RECORD_COLUMNS = [f.name for f in RECORDS_STAGE_SCHEMA.fields]
DIAG_COLUMNS = ["conv_id", "segment_index"] + [f.name for f in _DIAG_FIELDS]


_CONF_MEMO: dict[float, Decimal] = {}


def _conf(x: float) -> Decimal:
    # reference persists Decimal(str(round(x, 4))) (orchestrator.py:676-678);
    # confidences take a handful of distinct values, so memoize
    d = _CONF_MEMO.get(x)
    if d is None:
        if len(_CONF_MEMO) >= 4096:
            _CONF_MEMO.clear()
        d = _CONF_MEMO[x] = Decimal(str(round(x, 4)))
    return d


def _diag_row(conv_id: str, seg_idx: int, d: dict) -> dict:
    import json

    return {
        "conv_id": conv_id,
        "segment_index": int(seg_idx),
        "engine": d["engine"],
        "table_type": d["table_type"],
        "row_count": int(d["row_count"]),
        "column_count": (int(d["column_count"])
                         if d.get("column_count") is not None else None),
        "bbox_json": (json.dumps(d["bbox"], sort_keys=True)
                      if d.get("bbox") is not None else None),
        "header_json": (json.dumps(d["header"], sort_keys=True)
                        if d.get("header") is not None else None),
        "column_mapping_json": (json.dumps(d["column_mapping"], sort_keys=True)
                                if d.get("column_mapping") is not None else None),
    }


def _analyse_combined_into(pdf: pd.DataFrame, conv_id: str,
                           out_rows: list[dict]) -> None:
    """Records AND diagnostics from one analyse_segment call per
    segment (row_type-discriminated)."""
    for seg_idx, seg in pdf.groupby("segment_index", sort=True):
        result = analyse_segment(
            segment_lines(zip(seg["turn_idx"], seg["payload"])))
        seg_idx = int(seg_idx)
        fallback_used = result["fallback_used"]
        opening = result["opening_balance"]
        closing = result["closing_balance"]
        closing_distinct = result["closing_balance_distinct"]
        for rec in result["records"]:
            # rec's keys name their columns; the ones outside the
            # schema (line_indices) are not selected
            out_rows.append({
                **_BLANK_ROW, **rec,
                "row_type": "record",
                "conv_id": conv_id,
                "segment_index": seg_idx,
                "confidence_amount": _conf(rec["confidence_amount"]),
                "confidence_date": _conf(rec["confidence_date"]),
                "confidence_direction": _conf(rec["confidence_direction"]),
                "fallback_used": fallback_used,
                "evidence": [(e["field"], e["turn_idx"], e["start"], e["end"])
                             for e in rec["evidence"]],
                "segment_opening_balance": opening,
                "segment_closing_balance": closing,
                "segment_closing_distinct": closing_distinct,
            })
        # the segment's document_segments row: its turn range covers
        # every slim row, EMPTY turns included; balances only when the
        # segment yielded records
        n_records = len(result["records"])
        out_rows.append(dict(_BLANK_ROW,
                             **_diag_row(conv_id, seg_idx,
                                         result["diagnostics"]),
                             row_type="diag", evidence=[],
                             start_turn=int(seg["turn_idx"].min()),
                             end_turn=int(seg["turn_idx"].max()),
                             n_records=n_records,
                             segment_opening_balance=opening if n_records else None,
                             segment_closing_balance=closing if n_records else None))


def _stream_conversations(batches):
    """mapInPandas body: many conversations per Arrow batch, with the
    partition's trailing (possibly incomplete) conversation buffered
    across batch boundaries."""
    leftover: pd.DataFrame | None = None
    for pdf in batches:
        if leftover is not None and len(leftover):
            pdf = pd.concat([leftover, pdf], ignore_index=True)
            leftover = None
        if not len(pdf):
            continue
        last_conv = pdf["conv_id"].iloc[-1]
        tail_mask = (pdf["conv_id"] == last_conv).to_numpy()
        # conv_ids are contiguous in a sorted partition, so the tail
        # mask is a suffix run; hold it back for the next batch
        split_at = len(pdf) - int(tail_mask.sum())
        complete, leftover = pdf.iloc[:split_at], pdf.iloc[split_at:]
        if len(complete):
            yield _analyse_batch(complete)
    if leftover is not None and len(leftover):
        yield _analyse_batch(leftover)


def _analyse_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    out_rows: list[dict] = []
    for conv_id, grp in pdf.groupby("conv_id", sort=False):
        _analyse_combined_into(grp, conv_id, out_rows)
    return pd.DataFrame(out_rows, columns=_COMBINED_COLUMNS)


def extract_combined_stage(turns_seg: DataFrame,
                           split_segments: bool = False) -> DataFrame:
    """turns(+segment_index) -> row_type-discriminated union of
    extracted records and per-segment diagnostics, from ONE pass.

    The stream needs each conversation's rows contiguous and in
    turn order within a partition.  The segment stage's window leaves
    exactly that layout: hash-partitioned by conv_id and sorted by
    (conv_id, turn_idx) (WindowExec's required sort covers partition
    keys then order keys), so the default path adds no exchange and
    one Arrow batch carries many whole conversations instead of one
    Python round trip per group.

    split_segments=True is the skew escape hatch: repartition on
    (conv_id, segment_index) so giant documents split at statement
    boundaries, then re-sort within partitions.  Each segment lands
    whole in one partition and analysis state never crosses a segment
    boundary, so the output is identical; the cost is one extra
    exchange.
    """
    slim = turns_seg.select("conv_id", "turn_idx", "segment_index", "payload")
    if split_segments:
        slim = slim.repartition("conv_id", "segment_index") \
                   .sortWithinPartitions("conv_id", "turn_idx")
    return slim.mapInPandas(_stream_conversations, schema=COMBINED_STAGE_SCHEMA)


def segments_table(combined: DataFrame) -> DataFrame:
    """Per-segment ranges + balances (document_segments analogue): the
    diag row the extraction pass emits for each segment, so no
    aggregate or join runs over the turns or the records."""
    return combined.where(F.col("row_type") == "diag").select(
        "conv_id", "segment_index", "start_turn", "end_turn",
        F.col("segment_opening_balance").alias("opening_balance"),
        F.col("segment_closing_balance").alias("closing_balance"),
        "n_records")
