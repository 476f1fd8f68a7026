"""Deduplication operators over a documents table (doc_id, text).

All variants are expressed as DataFrame plans that scale by shuffle
keys with bounded cardinality:

- exact:          normalize_text is the canonical content key; the
                  groupBy on it lives in entry_queries.dedup_exact_groups.
- ngram-jaccard:  prefix-filtered set-similarity join (PPJoin-style,
                  lossless): only each document's rarest
                  |X|-ceil(t|X|)+1 shingles enter the self-join;
                  candidates verified exactly.  Ubiquitous shingles
                  sort to the suffix, so they never join.
- minhash-LSH:    k permutations via affine hashing of shingle hashes,
                  banded into b bands -> candidate pairs join only
                  collides within bands (the classic
                  shingle->minhash->band->bucket-join cascade).
- simhash:        64-bit weighted-bit fingerprint; near-dups collide
                  on rotated prefix buckets.

Determinism: all hash mixing is integer arithmetic on a 60-bit
md5-derived hash — no Python RNG, stable across runs, and (unlike
xxhash64) computable identically in ANSI SQL, so the minhash/simhash
outputs are DuckDB-oracle-checkable end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F  # noqa: N812

from ..parallel import barrier
from . import spread_documents

MERSENNE_PRIME = (1 << 31) - 1  # 31-bit field: a*h+b stays far below int64 under ANSI mode

# 60-bit cross-engine hash: first 15 hex chars of md5.  Spark and
# DuckDB produce identical int64 values (verified:
# conv(substr(md5(s),1,15),16,10) == CAST('0x'||substr(md5(s),1,15) AS
# BIGINT)), which makes every downstream signature SQL-oracle-able.
# md5 is slower than xxhash64 but still JVM-side whole-stage codegen;
# the dedup stages are shuffle-bound, not hash-bound.
HASH60_HEX_CHARS = 15


def hash60(col):
    """Deterministic 60-bit integer hash of a string column."""
    return F.conv(F.substring(F.md5(col), 1, HASH60_HEX_CHARS), 16, 10).cast("long")


SIMHASH_BITS = 60  # hash60 provides 60 uniform bits (4 x 15-bit blocks)
SHINGLE_WORDS = 3  # words per shingle
NUM_HASHES = 64    # minhash permutations
LSH_BANDS = 16     # minhash bands of NUM_HASHES // LSH_BANDS values each


def normalize_text(col):
    """Whitespace-collapse + lowercase: canonical dedup key."""
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def shingles_of_words(words):
    """SHINGLE_WORDS-word shingle expression over an already-split words array.

    Callers materialize the words array in its OWN projection first:
    this expression references ``words`` three times (size probe,
    transform source, short-text branch), and inlining the
    normalize+split chain per reference nearly doubles the projection
    cost (measured 0.42s -> 0.23s over 5k docs).  CollapseProject
    keeps the staging projection because the alias is referenced more
    than once."""
    n = SHINGLE_WORDS
    idx = F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0)))
    return F.array_distinct(
        F.when(F.size(words) >= n,
               F.transform(idx, lambda i: F.array_join(F.slice(words, i + 1, n), " ")))
        .otherwise(F.array(F.array_join(words, " ")))
    )


def _shingled(documents: DataFrame) -> DataFrame:
    """(doc_id, shingles): the distinct word shingles of each
    document, with the words staged in their own projection (see
    shingles_of_words)."""
    return spread_documents(documents).select(
        F.col("doc_id"),
        F.split(normalize_text(F.col("text")), " ").alias("_words"),
    ).select(
        F.col("doc_id"),
        shingles_of_words(F.col("_words")).alias("shingles"),
    )


def ngram_jaccard_pairs(documents: DataFrame,
                        threshold: float = 0.8) -> DataFrame:
    """Near-dup pairs (a, b, jaccard) with a < b and jaccard >= threshold.

    Prefix-filtered set-similarity join (the PPJoin family's lossless
    candidate pruning): order each document's shingles by global
    rarity; two sets with jaccard >= t MUST share at least one shingle
    within each one's first ``|X| - ceil(t*|X|) + 1`` rare shingles, so
    only those prefixes are self-joined.  Candidates are then verified
    exactly via array_intersect on the full shingle sets.  Output is
    IDENTICAL to the naive full self-join (same pairs, same jaccard)
    at a fraction of the join volume: the quadratic blowup on
    ubiquitous shingles disappears because they sort to the suffix.
    """
    # repartition barrier: shingle construction (split + slice + join +
    # distinct over every document) is the dominant narrow stage, and
    # this subtree feeds FOUR plan branches (df counts, prefix ranking,
    # and both verification sides); the barrier's hash(doc_id) exchange
    # lets every branch ReusedExchange the computed arrays instead of
    # re-deriving them from the scan.  Reuse needs the four subtrees
    # below it equal.  The pairs' a < b implies non-null ids, and
    # Spark infers and pushes that filter into every branch but the df
    # counts', so it is stated up front.  Dropping null-id documents
    # changes no output: they never pair, and they only move df
    # counts, which reorders prefixes without losing a pair (any
    # consistent global order keeps the prefix filter lossless).
    # ``spread`` first: a single-file input plans as ONE scan task, and
    # the shingle projection would otherwise run below the barrier on
    # one core (guide §2: the exchange must sit ABOVE the expensive
    # narrow compute for the compute to parallelize).
    # n_shingles is derived above the barrier: the df counts do not
    # read it, and column pruning would otherwise cut it from that
    # branch only, leaving its subtree unequal to the others
    docs = barrier(_shingled(documents)
                   .where(F.col("doc_id").isNotNull()), "doc_id") \
        .withColumn("n_shingles", F.size("shingles"))

    # candidate phase runs on 64-bit shingle hashes, not strings: the
    # df-count/rank/self-join shuffles move 8-byte longs instead of
    # ~25-byte shingle text.  Lossless: equal shingles hash equal, so
    # a shared-prefix witness survives; a collision can only MERGE two
    # distinct shingles (higher df, extra join matches), which grows
    # the candidate set — never shrinks it — and verification below is
    # exact on the true string arrays.  (df, hash) stays a consistent
    # global total order, which is all the prefix theorem needs.
    exploded = docs.select(
        "doc_id", "n_shingles",
        F.explode(F.transform("shingles", lambda s: F.xxhash64(s)))
        .alias("shingle"))
    df_counts = exploded.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))

    # rare-first rank within each doc; prefix keeps the filter lossless
    ranked = exploded.join(df_counts, "shingle")
    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    # overshoot-safe bound: IEEE t*n can land epsilon ABOVE an exact
    # integer (0.55*100 = 55.000000000000007 -> ceil 56, one short),
    # silently dropping exact-boundary pairs; subtracting 1e-9 before
    # ceil restores the mathematical ceil for every rational t with a
    # short decimal literal (product error ~1e-13 << 1e-9 << 1 ulp of
    # any integer boundary at realistic n)
    prefix_len = (F.col("n_shingles")
                  - F.ceil(F.lit(threshold) * F.col("n_shingles") - F.lit(1e-9))
                  + 1)
    prefix = (ranked.withColumn("_r", F.row_number().over(w))
              .where(F.col("_r") <= prefix_len)
              .select("doc_id", "n_shingles", "shingle", "_r"))

    left = prefix.select(F.col("doc_id").alias("a"),
                         F.col("n_shingles").alias("na"), "shingle",
                         F.col("_r").alias("pa"))
    right = prefix.select(F.col("doc_id").alias("b"),
                          F.col("n_shingles").alias("nb"), "shingle",
                          F.col("_r").alias("pb"))
    # size filter (also lossless): jaccard >= t forces t*|B| <= |A| <= |B|/t;
    # same epsilon as the prefix bound so exact-boundary sizes survive.
    # PPJoin positional filter (lossless as well): jaccard >= t needs
    # overlap >= alpha = ceil(t/(1+t) * (na+nb)).  For the globally
    # FIRST shared shingle of a qualifying pair (which the prefix
    # theorem places inside BOTH prefixes), every other common shingle
    # sorts after it in both docs, so overlap <= 1 + min(na-pa, nb-pb);
    # that join row therefore passes the bound, and rows that fail it
    # can be dropped without losing the pair.
    alpha = F.ceil(F.lit(threshold / (1.0 + threshold))
                   * (F.col("na") + F.col("nb")) - F.lit(1e-9))
    ubound = F.lit(1) + F.least(F.col("na") - F.col("pa"),
                                F.col("nb") - F.col("pb"))
    candidates = (left.join(right, "shingle")
                  .where((F.col("a") < F.col("b"))
                         & (F.col("na") >= F.lit(threshold) * F.col("nb") - F.lit(1e-9))
                         & (F.col("nb") >= F.lit(threshold) * F.col("na") - F.lit(1e-9))
                         & (ubound >= alpha))
                  .select("a", "b").distinct())

    sa = docs.select(F.col("doc_id").alias("a"), F.col("shingles").alias("sa"),
                     F.col("n_shingles").alias("na"))
    sb = docs.select(F.col("doc_id").alias("b"), F.col("shingles").alias("sb"),
                     F.col("n_shingles").alias("nb"))
    verified = (candidates.join(sa, "a").join(sb, "b")
                .withColumn("common", F.size(F.array_intersect("sa", "sb")))
                .withColumn("jaccard", F.col("common")
                            / (F.col("na") + F.col("nb") - F.col("common")))
                .where(F.col("jaccard") >= threshold)
                .select("a", "b", F.round("jaccard", 6).alias("jaccard")))
    return verified


def dedup_components(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Connected components over near-dup pairs -> canonical doc per
    component (the closure step after any pairwise dedup: pairs are
    not transitive, so keep/drop decisions need the component, not the
    edge).

    Iterative min-label propagation: every node starts as its own
    label; each round takes the min over neighbours; the fixpoint
    assigns every member its component's minimum doc_id — a
    deterministic canonical choice independent of iteration order.
    Rounds are whole distributed join+agg passes (joins on label keys,
    never text), and a label moves one edge per round: an n-node path
    needs n rounds, counting the round that finds no change, so the
    default ``max_iterations=20`` already raises on a 21-node path.
    The cap is a real limit, not a safety valve: hitting it raises
    RuntimeError instead of returning non-converged (wrong) labels.
    ROADMAP direction 3 replaces this loop with large-star/small-star,
    which needs O(log n) rounds.
    """
    edges = (pairs.select("a", "b")
             .union(pairs.select(F.col("b").alias("a"), F.col("a").alias("b")))
             .distinct().localCheckpoint(eager=True))
    labels = (edges.select(F.col("a").alias("doc_id")).distinct()
              .withColumn("label", F.col("doc_id"))
              .localCheckpoint(eager=True))
    changed = -1
    for _ in range(max_iterations):
        nbr = (edges.join(labels.withColumnRenamed("doc_id", "b")
                          .withColumnRenamed("label", "nbr_label"), "b")
               .groupBy("a").agg(F.min("nbr_label").alias("nbr_min")))
        # checkpoint per round: iterative plans otherwise re-derive the
        # whole lineage every iteration (planning and execution both
        # blow up super-linearly in round count); on a real cluster use
        # reliable checkpointing instead of localCheckpoint
        new_labels = (labels.join(nbr, labels.doc_id == nbr.a, "left")
                      .select(F.col("doc_id"),
                              F.least(F.col("label"),
                                      F.coalesce(F.col("nbr_min"),
                                                 F.col("label")))
                              .alias("label"))
                      .localCheckpoint(eager=True))
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), "doc_id")
                   .where(F.col("n.label") != F.col("o.label")).count())
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"dedup_components did not converge within {max_iterations} "
            f"min-label rounds ({changed} labels still moving); a "
            "component's diameter exceeds the cap — raise max_iterations "
            "(labels would be wrong if returned non-converged)")
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("component_size"))
    return (labels.join(sizes, "label")
            .select("doc_id", F.col("label").alias("keep_id"),
                    "component_size",
                    (F.col("doc_id") == F.col("label")).alias("is_keeper")))


def minhash_signatures(documents: DataFrame) -> DataFrame:
    """(doc_id, signature[NUM_HASHES]) via affine permutations of
    hash60(shingle): signature[i] is the min over the document's
    shingles of pmod(h*a_i + b_i, p), with h = pmod(hash60(shingle), p),
    a_i = 2i+1, b_i = pmod(i*0x9E3779B9 + 0x85EBCA6B, p) and p the
    Mersenne prime 2^31-1.  A null text gives NUM_HASHES nulls.

    ``doc_id`` must be unique: rows are grouped by it, so documents
    that share an id get one signature over their pooled shingles."""
    p = F.lit(MERSENNE_PRIME)
    # hash60 once per shingle, in its own projection BELOW the
    # permutation Generate: in the generator's select Spark evaluates
    # it above the Generate, once per permutation
    hashed = _shingled(documents).select(
        "doc_id", F.explode_outer("shingles").alias("shingle"),
    ).select("doc_id", F.pmod(hash60(F.col("shingle")), p).alias("h"))
    # one row per (shingle, permutation i) and one MIN per (doc_id, i),
    # partially aggregated before the exchange, so the generated code
    # is the same for any NUM_HASHES: one literal MIN aggregate per
    # permutation, each inlining hash60, grows the aggregate's methods
    # past HotSpot's 8,000-byte HugeMethodLimit, and such methods run
    # interpreted.  MIN ignores nulls, so a null text's lone
    # null-shingle row gives m = null for every i.
    i = F.col("i")
    perm = F.pmod(F.col("h") * (2 * i + 1)
                  + F.pmod(i * F.lit(0x9E3779B9) + F.lit(0x85EBCA6B), p), p)
    mins = (hashed.select("doc_id", "h",
                          F.explode(F.sequence(F.lit(0), F.lit(NUM_HASHES - 1)))
                          .alias("i"))
            .groupBy("doc_id", "i").agg(F.min(perm).alias("m")))
    return mins.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("i", "m"))).getField("m")
        .alias("signature"))


def minhash_lsh_pairs(documents: DataFrame,
                      threshold: float = 0.7) -> DataFrame:
    """Candidate pairs via banded LSH, verified by signature similarity.

    LSH_BANDS * rows_per_band == NUM_HASHES; a pair is a candidate if
    any band matches; est_jaccard = matching minhashes / NUM_HASHES.
    ``doc_id`` must be unique (see minhash_signatures).
    """
    rows_per_band = NUM_HASHES // LSH_BANDS
    sigs = minhash_signatures(documents)
    # materialization barrier: the exchange pins the signature
    # projection BELOW it, so (a) downstream band-key extracts read the
    # computed array instead of inlining the md5 pipeline per extract
    # (CollapseProject), and (b) the self-join's two sides share ONE
    # signature computation via ReusedExchange instead of scanning +
    # hashing the corpus twice
    sigs = barrier(sigs, "doc_id")

    # band bucket key: minhash values pair-packed into BIGINTs
    # (v0 * 2^31 + v1 is exact — values are < 2^31-1), an
    # engine-neutral EXACT key: equal keys <=> equal band values, so
    # candidate semantics are identical to joining on the raw values
    # (and to the oracle's string-joined bucket), with integer join
    # keys instead of per-row string building.  A null signature
    # value nulls its key, so such docs never join.  One row per
    # (doc, band), the signature indexed by the band column: the code
    # does not grow with LSH_BANDS.
    band = F.col("band")
    n_keys = (rows_per_band + 1) // 2
    key_names = [f"k{j}" for j in range(n_keys)]

    def _value(j: int):
        return F.col("signature")[band * rows_per_band + j]

    keys = [(_value(j) * F.lit(1 << 31) + _value(j + 1)
             if j + 1 < rows_per_band else _value(j)).alias(f"k{j // 2}")
            for j in range(0, rows_per_band, 2)]
    banded = sigs.select(
        "doc_id", "signature",
        F.explode(F.sequence(F.lit(0), F.lit(LSH_BANDS - 1))).alias("band"),
    ).select("doc_id", "signature", "band", *keys)

    left = banded.alias("l")
    right = banded.alias("r")
    candidates = (
        left.join(right, ["band", *key_names])
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"),
                F.col("l.signature").alias("sa"), F.col("r.signature").alias("sb"))
        .dropDuplicates(["a", "b"])
    )
    est = F.size(F.filter(F.zip_with("sa", "sb", lambda x, y: x == y), lambda m: m))
    return (candidates
            .withColumn("est_jaccard", est / F.lit(NUM_HASHES))
            .where(F.col("est_jaccard") >= threshold)
            .select("a", "b", F.round("est_jaccard", 6).alias("est_jaccard")))


def simhash_fingerprints(documents: DataFrame) -> DataFrame:
    """60-bit SimHash over word tokens (unit weights).

    bit_j(fingerprint) = 1 iff more than half of the document's tokens
    have bit j of hash60 set.  60 bits (not 64) because the
    cross-engine hash60 provides 60 uniform bits — hamming semantics
    are unchanged.  n_tokens is the token count, -1 for a null text
    (whose fingerprint is 0).

    ``doc_id`` must be unique: rows are grouped by it, so documents
    that share an id get one fingerprint over their pooled tokens.
    """
    words = F.split(normalize_text(F.col("text")), " ")
    hashed = spread_documents(documents).select(
        F.col("doc_id"),
        F.explode_outer(F.transform(words, lambda w: hash60(w))).alias("h"),
    )
    # one row per (token, bit j) where the bit is set, plus a j = -1 row
    # per token that counts the tokens, then one COUNT per (doc_id, j),
    # partially aggregated before the exchange, so the generated code
    # is the same for any SIMHASH_BITS (one literal SUM per bit and an
    # OR chain over them grow past HotSpot's HugeMethodLimit, see
    # minhash_signatures).  A null text's lone null-h row counts only
    # at j = -1, with c = 1 and n = 0.
    j = F.col("j")
    counts = (hashed.select(
        "doc_id", "h",
        F.explode(F.sequence(F.lit(-1), F.lit(SIMHASH_BITS - 1))).alias("j"))
        .where((j == -1)
               | (F.call_function("shiftright", F.col("h"), j).bitwiseAND(1) == 1))
        .groupBy("doc_id", "j")
        .agg(F.count(F.lit(1)).alias("c"), F.count("h").alias("n")))
    tokens = F.when(j == -1, F.when(F.col("n") == F.col("c"), F.col("c"))
                    .otherwise(F.lit(-1)))
    agg = counts.groupBy("doc_id").agg(
        F.max(tokens).cast("int").alias("n_tokens"),
        F.collect_list(F.struct("j", "c")).alias("_bits"))
    fingerprint = F.aggregate(
        "_bits", F.lit(0).cast("long"),
        lambda acc, b: acc.bitwiseOR(
            F.when((b["j"] >= 0) & (b["c"] * 2 > F.col("n_tokens")),
                   F.call_function("shiftleft", F.lit(1).cast("long"), b["j"]))
            .otherwise(F.lit(0).cast("long"))))
    return agg.select("doc_id", fingerprint.alias("simhash"), "n_tokens")


def simhash_near_dups(documents: DataFrame,
                      max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash: block on 4 x 15-bit sub-fingerprints
    (pigeonhole: hamming<=3 pairs share at least one exact block),
    verify hamming distance exactly.  ``doc_id`` must be unique (see
    simhash_fingerprints)."""
    # barrier after the fingerprint fold: the self-join's two sides and
    # the 4-way block explode all reuse ONE fingerprint computation via
    # ReusedExchange instead of re-deriving the per-bit counts
    fps = barrier(simhash_fingerprints(documents), "doc_id")
    blocked = fps.select(
        "doc_id", "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("block"),
    ).select("doc_id", "simhash", "block",
             F.call_function("shiftright", F.col("simhash"), F.col("block") * 15)
             .bitwiseAND(0x7FFF).alias("key"))

    pairs = (
        blocked.alias("l").join(blocked.alias("r"), ["block", "key"])
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"),
                F.col("l.simhash").alias("ha"), F.col("r.simhash").alias("hb"))
        .dropDuplicates(["a", "b"])
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (pairs.withColumn("hamming", hamming)
            .where(F.col("hamming") <= max_hamming)
            .select("a", "b", "hamming"))
