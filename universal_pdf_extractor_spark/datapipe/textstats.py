"""Text analysis operators: token counting, quality scoring,
language id, document fingerprinting.

All-native column expressions (JVM-side, SQL-oracle-checkable) except
the rolling-hash fingerprint, which is a deterministic arithmetic
fold over tokens (still no UDF).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

from ..parallel import barrier
from . import spread_documents
from .dedup import hash60

# tiny per-language stopword profiles for the n-gram/stopword heuristic
LANG_PROFILES = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "den"],
    "fr": ["le", "la", "les", "et", "est", "une", "dans", "que", "pour", "des"],
    "es": ["el", "la", "los", "y", "es", "una", "en", "que", "por", "con"],
}

EN_STOPWORDS = LANG_PROFILES["en"] + ["on", "with", "as", "this", "was", "are"]

# polynomial rolling-hash field: 31-bit Mersenne prime keeps every
# intermediate (h*BASE + term) far below int64 under ANSI mode
ROLLING_MOD = (1 << 31) - 1
ROLLING_BASE = 131

# duplicate_lines' doc-derived salt: partial rows per hot line
DUP_LINE_SALT_BUCKETS = 64


def tokens_col(text_col):
    """Whitespace tokenization (empty string -> empty array)."""
    trimmed = F.trim(F.regexp_replace(text_col, r"\s+", " "))
    return F.when(trimmed == "", F.array().cast("array<string>")) \
            .otherwise(F.split(trimmed, " "))


def token_count(documents: DataFrame) -> DataFrame:
    """Whitespace token count + a BPE-ish subword estimate
    (ceil(chars/4) per token, the common 4-chars-per-token rule)."""
    toks = tokens_col(F.col("text"))
    return spread_documents(documents).select(
        F.col("doc_id"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.aggregate(toks, F.lit(0).cast("long"),
                    lambda acc, t: acc + F.ceil(F.length(t) / 4.0).cast("long"))
         .alias("n_subwords_est"),
    )


def quality_scores(documents: DataFrame) -> DataFrame:
    """Length / punctuation / stopword / uppercase quality signals.

    Columns: n_chars, n_tokens, mean_token_len, punct_ratio,
    stopword_ratio, upper_ratio, digit_ratio, quality_score in [0,1].
    """
    t = F.col("text")
    toks = tokens_col(t)
    n_chars = F.length(t).cast("double")
    n_tokens = F.size(toks).cast("double")
    safe_chars = F.greatest(n_chars, F.lit(1.0))
    safe_tokens = F.greatest(n_tokens, F.lit(1.0))

    lowered = F.transform(toks, lambda x: F.lower(x))
    stop_arr = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    stopword_ratio = F.size(F.filter(lowered, lambda x: F.array_contains(stop_arr, x))) / safe_tokens

    punct_ratio = (n_chars - F.length(F.regexp_replace(t, r"[^\w\s]", ""))) / safe_chars
    upper_ratio = (n_chars - F.length(F.regexp_replace(t, r"[A-Z]", ""))) / safe_chars
    digit_ratio = (n_chars - F.length(F.regexp_replace(t, r"[0-9]", ""))) / safe_chars
    mean_token_len = F.aggregate(toks, F.lit(0).cast("long"),
                                 lambda acc, x: acc + F.length(x)) / safe_tokens

    # C4-style heuristic: long enough, mostly words, some stopwords,
    # not punctuation/digit soup
    quality = (
        F.least(n_tokens / 50.0, F.lit(1.0)) * 0.3
        + F.least(stopword_ratio * 5.0, F.lit(1.0)) * 0.3
        + (1.0 - F.least(punct_ratio * 4.0, F.lit(1.0))) * 0.2
        + (1.0 - F.least(digit_ratio * 4.0, F.lit(1.0))) * 0.2
    )
    return spread_documents(documents).select(
        F.col("doc_id"),
        n_chars.cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        F.round(mean_token_len, 6).alias("mean_token_len"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stopword_ratio, 6).alias("stopword_ratio"),
        F.round(upper_ratio, 6).alias("upper_ratio"),
        F.round(digit_ratio, 6).alias("digit_ratio"),
        F.round(quality, 6).alias("quality_score"),
    )


def language_id(documents: DataFrame) -> DataFrame:
    """Stopword-profile language guess (argmax hit-rate, 'und' if 0)."""
    toks = F.transform(tokens_col(F.col("text")), lambda x: F.lower(x))
    safe_tokens = F.greatest(F.size(toks).cast("double"), F.lit(1.0))
    candidates = []
    for order, (lang, words) in enumerate(LANG_PROFILES.items()):
        arr = F.array(*[F.lit(w) for w in words])
        rate = F.size(F.filter(toks, lambda x: F.array_contains(arr, x))) / safe_tokens
        candidates.append(F.struct(rate.alias("rate"),
                                   F.lit(-order).alias("neg_order"),
                                   F.lit(lang).alias("lang")))
    best = F.greatest(*candidates)
    return spread_documents(documents).select(
        F.col("doc_id"),
        F.when(best["rate"] > 0, best["lang"]).otherwise(F.lit("und")).alias("lang_guess"),
        F.round(best["rate"], 6).alias("stopword_hit_rate"),
    )


def _norm_lines(text_col):
    """Non-empty whitespace-normalized lines of a document."""
    return F.filter(
        F.transform(F.split(text_col, "\n"),
                    lambda l: F.trim(F.regexp_replace(l, r"\s+", " "))),
        lambda l: l != "")


def repetition_scores(documents: DataFrame) -> DataFrame:
    """Gopher-style repetition signals (public quality rules):

    - dup_line_frac / dup_line_char_frac: fraction of duplicate lines
      and of characters inside them (array ops: line counts per doc
      are small);
    - top_2gram_frac: fraction of 2-grams taken by the most common
      one; dup_3gram_frac: fraction of 3-grams that repeat — both via
      an explode -> groupBy(doc, hash60(gram)) plan (shuffle keys are
      bounded integers, never gram text; scales where per-doc O(n^2)
      array scans would not).
    """
    t = F.col("text")
    # stage the normalized-lines array in its own projection: the
    # stats below reference it five times (size, char fold, and a
    # nested duplicate filter), and inlining the split+normalize chain
    # per reference multiplies the projection cost; CollapseProject
    # keeps the staging projection because the alias is multi-referenced
    staged = spread_documents(documents).select(
        F.col("doc_id"),
        _norm_lines(t).alias("_lines"),
        tokens_col(F.lower(t)).alias("_toks"))
    lines = F.col("_lines")
    n_lines = F.size(lines)
    line_chars = F.aggregate(lines, F.lit(0).cast("long"),
                             lambda a, x: a + F.length(x))
    dup_chars = F.aggregate(
        lines, F.lit(0).cast("long"),
        lambda a, x: a + F.when(
            F.size(F.filter(lines, lambda y: y == x)) > 1,
            F.length(x)).otherwise(F.lit(0)))
    # barrier after the array construction: `base` feeds THREE plan
    # branches (line stats + 2-gram + 3-gram); the exchange lets them
    # reuse one computation of the line/token arrays instead of each
    # re-deriving them from the scan (removing it raised repetition
    # CPU from 2.41 to 3.79 s on an 8-file input, local[4] on a
    # 4-core host, 5 warm reps)
    base = staged.select(
        F.col("doc_id"),
        F.col("_toks").alias("toks"),
        n_lines.cast("long").alias("n_lines"),
        # raw IEEE fractions (identical int->double division on any
        # engine); consumers needing stable stringification floor to
        # integer micro-units — round(x, 6) would sit on the
        # half-even/half-away dialect boundary for power-of-two
        # denominators (1/128 = 0.0078125)
        ((n_lines - F.size(F.array_distinct(lines)))
         / F.greatest(n_lines.cast("double"), F.lit(1.0)))
        .alias("dup_line_frac"),
        (dup_chars / F.greatest(line_chars.cast("double"), F.lit(1.0)))
        .alias("dup_line_char_frac"),
    )
    base = barrier(base, "doc_id")

    def grams(k: int):
        n = F.size(F.col("toks"))
        return F.when(n >= k, F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: hash60(F.concat_ws(" ", F.slice(F.col("toks"), i + 1, k))))
        ).otherwise(F.array().cast("array<long>"))

    def gram_stats(k: int, top_name: str, dup_name: str):
        g = (base.select("doc_id", F.explode(grams(k)).alias("g"))
             .groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
             .groupBy("doc_id")
             .agg(F.sum("c").alias("n_grams"),
                  F.max("c").alias("top_c"),
                  F.sum(F.when(F.col("c") > 1, F.col("c"))
                        .otherwise(F.lit(0))).alias("dup_c")))
        return g.select(
            "doc_id",
            (F.col("top_c") / F.col("n_grams").cast("double")).alias(top_name),
            (F.col("dup_c") / F.col("n_grams").cast("double")).alias(dup_name))

    g2 = gram_stats(2, "top_2gram_frac", "_d2")
    g3 = gram_stats(3, "_t3", "dup_3gram_frac")
    return (base.drop("toks")
            .join(g2.select("doc_id", "top_2gram_frac"), "doc_id", "left")
            .join(g3.select("doc_id", "dup_3gram_frac"), "doc_id", "left")
            .select("doc_id", "n_lines", "dup_line_frac",
                    "dup_line_char_frac",
                    F.coalesce("top_2gram_frac", F.lit(0.0)).alias("top_2gram_frac"),
                    F.coalesce("dup_3gram_frac", F.lit(0.0)).alias("dup_3gram_frac")))


# PII patterns: RE2-compatible (no lookaround/backrefs) so the Spark
# and DuckDB engines run the LITERAL same expressions.  Redaction is
# sequential — each class scans the output of the previous one — so
# e.g. the 8-digit account rule cannot re-match digits inside an
# already-redacted phone number.
PII_RULES = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("phone", r"(?:\+44|\b0)\d{9,10}\b", "[PHONE]"),
    ("postcode", r"\b[A-Z]{1,2}\d[A-Z\d]? \d[A-Z]{2}\b", "[POSTCODE]"),
    ("sortcode", r"\b\d{2}-\d{2}-\d{2}\b", "[SORTCODE]"),
    ("account", r"\b\d{8}\b", "[ACCOUNT]"),
]


def pii_scan(documents: DataFrame) -> DataFrame:
    """PII detection + redaction over the documents table (the scrub
    pass a training pipeline runs before publication): per-class match
    counts and the fully-redacted text, all native regexp ops."""
    cur = F.col("text")
    cols = [F.col("doc_id")]
    counts = []
    for name, pattern, repl in PII_RULES:
        cnt = F.size(F.regexp_extract_all(cur, F.lit(pattern), F.lit(0))).cast("long")
        counts.append(cnt)
        cols.append(cnt.alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pattern, repl)
    cols.append(F.sha2(cur, 256).alias("redacted_sha256"))
    # has_pii comes from the match counts, NOT from re-scanning the
    # redacted text for tag literals — a document whose ORIGINAL text
    # contains "[EMAIL]" must not be flagged with all counts zero.
    total = counts[0]
    for c in counts[1:]:
        total = total + c
    cols.append((total > 0).alias("has_pii"))
    return spread_documents(documents).select(*cols)


def duplicate_lines(documents: DataFrame, min_docs: int = 2) -> DataFrame:
    """Corpus-level duplicate-line discovery (the CCNet/RefinedWeb
    boilerplate-removal primitive): normalized lines shared by >=
    min_docs documents, with document and occurrence counts.

    Skew-safe by construction: true boilerplate appears in nearly
    EVERY document, so its line_hash is a textbook hot key.  The
    aggregation is two-phase with a doc-derived salt — partial
    per-(line_hash, salt) counts, then a final merge over at most
    DUP_LINE_SALT_BUCKETS rows per line.  Because the salt is a pure
    function of doc_id, the partial DISTINCT-doc counts partition the
    doc set and sum exactly; occurrence counts always sum.  Shuffle
    keys are (hash60(line), salt) integers, never line text.
    """
    lines = spread_documents(documents).select(
        F.col("doc_id"),
        F.explode(_norm_lines(F.col("text"))).alias("line"))
    partial = (lines
               .groupBy(hash60(F.col("line")).alias("line_hash"),
                        F.pmod(F.xxhash64(F.col("doc_id")),
                               F.lit(DUP_LINE_SALT_BUCKETS)).alias("_salt"))
               .agg(F.min("line").alias("line"),
                    F.countDistinct("doc_id").alias("nd"),
                    F.count(F.lit(1)).alias("no")))
    return (partial
            .groupBy("line_hash")
            .agg(F.min("line").alias("line"),
                 F.sum("nd").cast("long").alias("n_docs"),
                 F.sum("no").cast("long").alias("n_occurrences"))
            .where(F.col("n_docs") >= min_docs))


def fingerprints(documents: DataFrame) -> DataFrame:
    """Polynomial rolling hash over normalized tokens (no UDF).

    fold: h <- (h * BASE + (hash60(token) mod M)) mod M, in token
    order — order-sensitive unlike a bag-of-words hash.  hash60 (60-bit
    md5 prefix) rather than xxhash64 so the whole fold is reproducible
    in ANSI SQL and the driver's DuckDB oracle checks it exactly.
    """
    toks = tokens_col(F.lower(F.col("text")))
    rolling = F.aggregate(
        toks, F.lit(0).cast("long"),
        lambda acc, t: F.pmod(acc * F.lit(ROLLING_BASE)
                              + F.pmod(hash60(t), F.lit(ROLLING_MOD)),
                              F.lit(ROLLING_MOD)),
    )
    return spread_documents(documents).select(
        F.col("doc_id"),
        rolling.alias("fingerprint"),
        F.sha2(F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))), 256)
         .alias("content_sha256"),
    )
