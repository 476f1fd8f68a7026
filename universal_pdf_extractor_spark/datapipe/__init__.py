"""Large-scale training-data pipeline operators.

Deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard),
approximate similarity search over embeddings, text analysis
(language id, quality scoring, token counting, fingerprinting), and
multimodal binary-column plumbing.

Input contracts: the column names are fixed, not parameters, and a
caller renames its columns to them before calling.
- documents (dedup, textstats, raster renderers): ``(doc_id, text)``;
  ``doc_id`` must be unique, since the signature builders group by it;
- templates (``io.templates``): ``(doc_id, source, text)``;
- ANN (similarity): embeddings ``(vec_id, embedding)`` and queries
  ``(query_id, embedding)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..parallel import spread


def spread_documents(documents: DataFrame) -> DataFrame:
    """``(doc_id, text)`` behind ``spread``: the per-document work
    chained onto it parallelizes even when the input is one small
    file (guide §2; a no-op on a real corpus)."""
    return spread(documents.select("doc_id", "text"))
