"""Template store: persisted, versioned layout fingerprints.

The reference keeps a ``templates`` dimension (one row per provider
layout; tables.py:426-456) and append-only ``template_versions``
(fingerprint + column-mapping + quirks JSON per version,
tables.py:461-491), consulted by the pipeline through the match API
(api/fingerprints.py:287-357): candidate templates filtered by
provider, LATEST version per template, score = 0.5 for a bare
provider match or 0.3 + 0.7 * jaccard(header tokens) when a
fingerprint exists, accepted at >= 0.5.

Spark-first re-expression: the store is a small versioned dimension
DataFrame (parquet at rest), always broadcast — template counts are
O(providers x versions), never corpus-sized.  Matching is a broadcast
join + jaccard on token sets; latest-version selection is a
row_number window over the dimension.

Input: documents ``(doc_id, source, text)``, ``source`` naming the
provider.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F  # noqa: N812

from ..kernels.patterns import HEADER_KEYWORDS

ACCEPT_SCORE = 0.5   # fingerprints.py match acceptance


def _token_set(text_col):
    return F.array_distinct(F.split(
        F.lower(F.trim(F.regexp_replace(text_col, r"\s+", " "))), " "))


def build_template_store(documents: DataFrame,
                         versions_per_template: int = 2) -> DataFrame:
    """Learn a versioned template dimension from a corpus.

    One template per provider; version k (1-based) fingerprints the
    provider's k-th document (by id — deterministic).  Columns mirror
    templates x template_versions: template_name, provider_name,
    version_number, fingerprint_tokens, column_mapping (the header
    keywords present in the fingerprint), quirks, sample_count,
    is_active.
    """
    w = Window.partitionBy("source").orderBy("doc_id")
    kw = F.array(*[F.lit(k) for k in sorted(HEADER_KEYWORDS)])
    counts = documents.groupBy("source").agg(
        F.count(F.lit(1)).alias("sample_count"))
    return (documents
            .withColumn("version_number", F.row_number().over(w))
            .where(F.col("version_number") <= versions_per_template)
            .join(F.broadcast(counts), "source")
            .select(
                F.col("source").alias("template_name"),
                F.col("source").alias("provider_name"),
                F.lit("BANK_STATEMENT").alias("doc_family"),
                F.lit(True).alias("is_active"),
                F.col("version_number").cast("int").alias("version_number"),
                _token_set(F.col("text")).alias("fingerprint_tokens"),
                # column_mapping analogue: header keywords the
                # fingerprint exhibits, in dictionary order
                F.array_intersect(kw, _token_set(F.col("text")))
                 .alias("column_mapping"),
                F.create_map().cast("map<string,string>").alias("quirks"),
                F.col("sample_count").cast("int").alias("sample_count"),
            ))


def latest_template_versions(store: DataFrame) -> DataFrame:
    """Newest version per template (fingerprints.py:311-318)."""
    w = Window.partitionBy("template_name").orderBy(F.desc("version_number"))
    return (store.where("is_active")
            .withColumn("_rn", F.row_number().over(w))
            .where("_rn = 1").drop("_rn"))


def match_to_templates(documents: DataFrame, store: DataFrame) -> DataFrame:
    """Best-template match per document (fingerprints.py:287-357).

    score = 0.3 + 0.7 * jaccard(document tokens, latest fingerprint);
    best template per document (ties -> template_name asc), accepted
    at >= ACCEPT_SCORE.
    """
    latest = F.broadcast(latest_template_versions(store).select(
        "template_name", "version_number", "fingerprint_tokens"))
    docs = documents.select("doc_id", _token_set(F.col("text")).alias("tokens"))
    inter = F.size(F.array_intersect("tokens", "fingerprint_tokens"))
    union = F.size("tokens") + F.size("fingerprint_tokens") - inter
    scored = (docs.crossJoin(latest)
              .withColumn("jac", inter * 1.0 / union)
              .withColumn("score", F.round(0.3 + 0.7 * F.col("jac"), 6)))
    wbest = Window.partitionBy("doc_id").orderBy(F.desc("jac"),
                                                 F.asc("template_name"))
    return (scored.withColumn("_rn", F.row_number().over(wbest))
            .where("_rn = 1")
            .where(0.3 + 0.7 * F.col("jac") >= ACCEPT_SCORE)
            .select("doc_id", "template_name",
                    F.col("version_number").alias("matched_version"), "score"))


def write_template_store(store: DataFrame, path: str) -> None:
    store.write.mode("overwrite").parquet(path)


def read_template_store(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)
