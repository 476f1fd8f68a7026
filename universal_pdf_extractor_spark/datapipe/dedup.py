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

from ..parallel import barrier, spread

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


def normalize_text(col):
    """Whitespace-collapse + lowercase: canonical dedup key."""
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def shingles_of_words(words, n: int = 3):
    """Shingle expression over an already-split words array.

    Callers materialize the words array in its OWN projection first:
    this expression references ``words`` three times (size probe,
    transform source, short-text branch), and inlining the
    normalize+split chain per reference nearly doubles the projection
    cost (measured 0.42s -> 0.23s over 5k docs).  CollapseProject
    keeps the staging projection because the alias is referenced more
    than once."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0)))
    return F.array_distinct(
        F.when(F.size(words) >= n,
               F.transform(idx, lambda i: F.array_join(F.slice(words, i + 1, n), " ")))
        .otherwise(F.array(F.array_join(words, " ")))
    )


def ngram_jaccard_pairs(documents: DataFrame,
                        threshold: float = 0.8,
                        n: int = 3,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
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
    # and both verification sides).  On an input with at least
    # defaultParallelism scan partitions (``spread`` is the identity),
    # the barrier's hash(doc_id) exchange lets every branch
    # ReusedExchange the computed arrays instead of re-deriving them
    # from the scan.  On a single-file input it does not: ``spread``
    # already hash-partitioned on doc_id with the same count, Spark
    # drops the barrier's exchange as redundant, and each branch
    # recomputes the shingles above ``spread``'s exchange (4x).
    # ``spread`` first: a single-file input plans as ONE scan task, and
    # the shingle projection would otherwise run below the barrier on
    # one core (guide §2: the exchange must sit ABOVE the expensive
    # narrow compute for the compute to parallelize).
    docs = spread(
        documents.select(F.col(id_col).alias("doc_id"),
                         F.col(text_col).alias("text")), "doc_id",
    ).select(
        F.col("doc_id"),
        F.split(normalize_text(F.col("text")), " ").alias("_words"),
    ).select(
        F.col("doc_id"),
        shingles_of_words(F.col("_words"), n).alias("shingles"),
    ).withColumn("n_shingles", F.size("shingles"))
    docs = barrier(docs, "doc_id")

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
    Rounds are whole distributed join+agg passes (O(diameter) of the
    largest component); `max_iterations` is a safety valve only —
    raises RuntimeError instead of returning non-converged (wrong)
    labels if a component's diameter exceeds it.  At cluster scale
    swap in the large-star/small-star variant with checkpointing
    every few rounds — the per-round plan here is already that shape
    (join on label keys, never text).
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


def minhash_signatures(documents: DataFrame,
                       num_hashes: int = 64,
                       n: int = 3,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """(doc_id, signature[num_hashes]) via affine permutations of
    hash60(shingle).

    Computed as ONE F.aggregate fold over the shingle-hash array: the
    md5-derived hash60 runs exactly once per shingle, with the k
    permutations reduced to k multiply-add-mod integer ops per
    element.  (The previous k separate array_min(transform(hs, ...))
    projections collapsed under CollapseProject into k copies of the
    md5 pipeline — a ~k x constant-factor regression on the signature
    stage.)  Values are unchanged: min over pmod(h*a_i + b_i, p) with
    a_i = 2i+1, b_i = (i*0x9E3779B9 + 0x85EBCA6B) mod p.

    ``id_col`` must be unique: rows are grouped by it, so documents
    that share an id get one signature over their pooled shingles."""
    p = MERSENNE_PRIME
    # spread before the fold: the md5-per-shingle + 64-permutation
    # reduction is the dominant narrow compute and must sit above an
    # exchange, not below the single scan task of a small input
    docs = spread(
        documents.select(F.col(id_col).alias("doc_id"),
                         F.col(text_col).alias("text")), "doc_id",
    ).select(
        F.col("doc_id"),
        F.split(normalize_text(F.col("text")), " ").alias("_words"),
    ).select(
        F.col("doc_id"),
        shingles_of_words(F.col("_words"), n).alias("shingles"),
    )
    # explode + k conditional MIN aggregates instead of an array fold:
    # the former zip_with fold allocated a fresh k-element array per
    # shingle (GC-heavy and codegen-hostile); per-row multiply-add-mod
    # expressions with map-side partial MIN aggregation produce the
    # SAME values (min over the same pmod terms; MIN ignores nulls and
    # an all-null group yields null, matching the old p-sentinel /
    # null-signature contract reproduced by the SQL oracle's list_min).
    # doc_id is assumed unique per document (it is the table key).
    h = F.pmod(hash60(F.col("shingle")), F.lit(p))
    exploded = docs.select(
        "doc_id", F.explode_outer("shingles").alias("shingle"))
    mins = [
        F.min(F.pmod(h * F.lit(2 * i + 1)
                     + F.lit((i * 0x9E3779B9 + 0x85EBCA6B) % p),
                     F.lit(p))).alias(f"_m{i}")
        for i in range(num_hashes)
    ]
    agg = exploded.groupBy("doc_id").agg(*mins)
    sig = F.array(*[F.col(f"_m{i}") for i in range(num_hashes)])
    return agg.select("doc_id", sig.alias("signature"))


def minhash_lsh_pairs(documents: DataFrame,
                      num_hashes: int = 64,
                      bands: int = 16,
                      n: int = 3,
                      threshold: float = 0.7,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Candidate pairs via banded LSH, verified by signature similarity.

    bands * rows_per_band == num_hashes; a pair is a candidate if any
    band matches; est_jaccard = matching minhashes / num_hashes.
    ``id_col`` must be unique (see minhash_signatures).
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(documents, num_hashes, n, id_col, text_col)
    # materialization barrier: the exchange pins the signature
    # projection BELOW it, so (a) downstream band-key extracts read the
    # computed array instead of inlining the md5 pipeline per extract
    # (CollapseProject), and (b) the self-join's two sides share ONE
    # signature computation via ReusedExchange instead of scanning +
    # hashing the corpus twice.  (b) holds when the input has at least
    # defaultParallelism scan partitions; on a single-file input the
    # signatures' doc_id aggregate already sits on ``spread``'s
    # hash(doc_id) exchange of the same count, Spark drops this one as
    # redundant, and each join side computes the signatures (2x)
    sigs = barrier(sigs, "doc_id")

    # band bucket key: minhash values pair-packed into BIGINTs
    # (v0 * 2^31 + v1 is exact — values are < 2^31-1), an
    # engine-neutral EXACT key: equal keys <=> equal band values, so
    # candidate semantics are identical to joining on the raw values
    # (and to the oracle's string-joined bucket), with integer join
    # keys instead of per-row string building.  A null signature
    # (null/empty text) nulls every key, so such docs never join.
    n_keys = (rows_per_band + 1) // 2
    key_names = [f"k{j}" for j in range(n_keys)]

    def _band_keys(band: int) -> list:
        base = band * rows_per_band
        keys = []
        for j in range(0, rows_per_band, 2):
            v0 = F.col("signature")[base + j]
            if j + 1 < rows_per_band:
                packed = v0 * F.lit(1 << 31) + F.col("signature")[base + j + 1]
            else:
                packed = v0
            keys.append(packed.alias(f"k{j // 2}"))
        return keys

    banded = sigs.select(
        "doc_id", "signature",
        F.explode(F.array(*[
            F.struct(F.lit(band).alias("band"), *_band_keys(band))
            for band in range(bands)
        ])).alias("bb"),
    ).select("doc_id", "signature", "bb.band", *[f"bb.{k}" for k in key_names])

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
            .withColumn("est_jaccard", est / F.lit(num_hashes))
            .where(F.col("est_jaccard") >= threshold)
            .select("a", "b", F.round("est_jaccard", 6).alias("est_jaccard")))


def simhash_fingerprints(documents: DataFrame,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """60-bit SimHash over word tokens (unit weights).

    bit_j(fingerprint) = 1 iff sum over tokens of sign(bit_j(h)) > 0.
    Computed columnarly: per bit, count tokens with the bit set vs
    total, no UDF.  60 bits (not 64) because the cross-engine hash60
    provides 60 uniform bits — hamming semantics are unchanged.

    ``id_col`` must be unique: rows are grouped by it, so documents
    that share an id get one fingerprint over their pooled tokens.
    """
    words = F.split(normalize_text(F.col(text_col)), " ")
    # explode + 60 conditional SUM aggregates instead of 60 per-doc
    # array filters: F.size(F.filter(hs, bit_j)) allocated a filtered
    # copy of the token-hash array per bit per doc (GC-heavy); summing
    # (h >> j) & 1 per exploded token with map-side partial aggregation
    # counts exactly the same bits.  ``spread`` first: the per-token
    # md5 hashing is the expensive narrow stage (see
    # ngram_jaccard_pairs).  doc_id is assumed unique (table key).
    hashed = spread(
        documents.select(F.col(id_col).alias("doc_id"),
                         F.col(text_col).alias("text")), "doc_id",
    ).select(
        F.col("doc_id"),
        F.explode_outer(F.transform(words, lambda w: hash60(w))).alias("h"),
    )
    h = F.col("h")
    agg = hashed.groupBy("doc_id").agg(
        F.count(h).alias("_n"),
        F.count(F.lit(1)).alias("_rows"),
        *[F.sum(F.shiftright(h, j).bitwiseAND(F.lit(1))).alias(f"_c{j}")
          for j in range(SIMHASH_BITS)],
    )
    # n_tokens parity with F.size(words): null text -> words null ->
    # one null-h row from explode_outer; size(null) = -1
    n_tokens = F.when(F.col("_n") == F.col("_rows"), F.col("_rows")) \
                .otherwise(F.lit(-1)).cast("int")
    bit_terms = []
    for j in range(SIMHASH_BITS):
        bit = F.when(F.col(f"_c{j}") * 2 > n_tokens,
                     F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        bit_terms.append(F.shiftleft(bit, j))
    fingerprint = bit_terms[0]
    for t in bit_terms[1:]:
        fingerprint = fingerprint.bitwiseOR(t)
    return agg.select("doc_id", fingerprint.alias("simhash"),
                      n_tokens.alias("n_tokens"))


def simhash_near_dups(documents: DataFrame,
                      max_hamming: int = 3,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Near-dup pairs by SimHash: block on 4 x 15-bit sub-fingerprints
    (pigeonhole: hamming<=3 pairs share at least one exact block),
    verify hamming distance exactly.  ``id_col`` must be unique (see
    simhash_fingerprints)."""
    # barrier after the fingerprint fold: the self-join's two sides and
    # the 4-way block explode all reuse ONE fingerprint computation via
    # ReusedExchange instead of re-deriving the 60 per-bit counts.
    # That holds when the input has at least defaultParallelism scan
    # partitions; on a single-file input ``spread``'s hash(doc_id)
    # exchange of the same count makes this one redundant, Spark drops
    # it, and each join side computes the fingerprints (2x)
    fps = barrier(simhash_fingerprints(documents, id_col, text_col),
                  "doc_id")
    blocked = fps.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(k).alias("block"),
                     F.shiftright("simhash", 15 * k).bitwiseAND(F.lit(0x7FFF)).alias("key"))
            for k in range(4)
        ])).alias("bk"),
    ).select("doc_id", "simhash", "bk.block", "bk.key")

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
