"""Deduplication operators for LLM training-data pipelines.

Five tiers, from exact to semantic (BASELINE.json north star; SURVEY.md
§2.2 G54-G55):

1. exact          - content-hash groupBy (sha256), deterministic survivor
2. ngram-jaccard  - word-shingle overlap >= threshold (exact set math)
3. minhash-LSH    - banded MinHash signatures -> bucket join -> verify
4. simhash       - token simhash with hamming-radius candidate match
5. embedding     - cosine near-dup over hashed-token or learned vectors
                   (dominant-signature blocking; kNN machinery in
                   operators/similarity.py)

plus :func:`survivors_from_pairs`, which closes any pair tier over
connected components and keeps one deterministic survivor per cluster.

Scale posture (the whole point of the LSH/simhash/blocking tiers):
- exact dedup is one shuffle on a 32-byte key: works at any scale.
- ngram-jaccard joins docs *only* on shared shingles, never all-pairs;
  frequency-capped shingles (stop-shingle removal) bound the join fanout.
- minhash-LSH: candidate pairs come from equality joins on (band,
  band-signature) - at 100 TB this is B small shuffles instead of a
  quadratic cross join; rows are verified with exact jaccard afterwards.
- embedding near-dup blocks on the vector's dominant-dimension signature
  with an on-by-default block-size cap - candidates from equality joins,
  exact cosine verify after, never all-pairs.
- Hashing is xxhash64 (engine-native, at-scale default) or the portable
  md5-derived :func:`portable_hash52` (bit-identical in any SQL engine -
  what lets the hash tiers be oracle-verified); both take explicit
  seeds: deterministic across runs, executors, and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import ensure_min_parallelism
from .graph import connected_components_star
from .text import tokens


# --------------------------------------------------------------------------
# G54: exact dedup by content hash.
# --------------------------------------------------------------------------

def exact_dedup(df: DataFrame, content_col: str = "text",
                id_col: str = "doc_id", keep: str = "min") -> DataFrame:
    """One survivor per distinct content (sha256): the row with the min
    (default) or max id - deterministic, unlike dropDuplicates, whose
    survivor is partition-order dependent."""
    h = F.sha2(F.col(content_col), 256)
    pick = F.col(id_col).asc() if keep == "min" else F.col(id_col).desc()
    return (
        df.withColumn("__rn", F.row_number().over(Window.partitionBy(h).orderBy(pick)))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def duplicate_groups(df: DataFrame, content_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Exact-duplicate clusters: content hash -> sorted member ids +
    cluster size (only clusters with >1 member)."""
    h = F.sha2(F.col(content_col), 256).alias("content_hash")
    return (
        df.select(h, F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.array_sort(F.collect_list(id_col)).alias("members"),
        )
        .filter(F.col("n_dups") > 1)
    )


# --------------------------------------------------------------------------
# word shingles (shared substrate for jaccard / minhash)
# --------------------------------------------------------------------------

def shingles(text_col: str = "text", n: int = 3):
    """Distinct word n-gram shingle array (lowercased) as a single column
    expression.  WARNING: the tokenization sits inside the transform
    lambda and re-evaluates per shingle index - operators use
    :func:`exploded_shingles` (map-only staged-array indexing, no nested
    lambdas) instead; this form is for small-row interactive use only."""
    toks = F.transform(tokens(text_col), F.lower)
    return _shingles_of(toks, n)


def _shingles_of(toks, n: int):
    k = F.size(toks) - (n - 1)
    idx = F.sequence(F.lit(0), F.greatest(k - 1, F.lit(-1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
    )


def with_shingles(df: DataFrame, text_col: str = "text", n: int = 3,
                  out: str = "sh") -> DataFrame:
    """``df`` plus a distinct-shingle array column (per-row expression
    form).  NOTE: measured ~50 ms/row at sf0.1 - Catalyst re-inlines the
    token array into the per-index lambda despite the staged projection,
    re-tokenizing per shingle.  The operators below use
    :func:`exploded_shingles` (map-only staged-array indexing - the
    round-15 formulation; the DuckDB oracle keeps the equivalent
    window-lead SQL) which has no nested lambda at all; keep this only
    for small-row interactive use."""
    df = df.withColumn("__toks", F.transform(tokens(text_col), F.lower))
    return df.withColumn(out, _shingles_of(F.col("__toks"), n)).drop("__toks")


def exploded_shingles(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3,
                      hashed: bool = False,
                      distinct: bool = True) -> DataFrame:
    """DISTINCT (id, shingle) rows via a MAP-ONLY staged-array
    expression: tokenize once into a staged ``t`` column, assemble each
    n-gram by direct element indexing (``t[i+j]`` - no nested lambda, so
    nothing re-evaluates per element), explode, distinct.  Zero
    Exchange before the distinct.

    ``distinct=False`` (round-15 optimization, guide §2.4 "remove
    shuffles outright") skips the dedup ENTIRELY - a map-only frame of
    every (id, shingle) OCCURRENCE - for consumers whose aggregates are
    duplicate-insensitive (``min`` MinHash folds, ``collect_set``,
    ``array_intersect``/``array_union`` verify math): their results are
    bit-identical on the multiset, and the substrate's one full
    token-row Exchange disappears.  Consumers that COUNT rows
    (jaccard sizes/n_common, contamination reports, the funnel's
    shared substrate) must keep the default.

    ``hashed=True`` emits ``xxhash64(sh)`` (same column name, long
    type) instead of the shingle string: the distinct + every
    downstream join/groupBy move 8-byte longs instead of multi-word
    strings.  Set identity is preserved up to 64-bit collisions
    (~n²/2⁶⁵ — negligible against corpus shingle counts); consumers
    that need the literal string (the seeded MinHash family,
    contamination n-gram reports) keep the default.

    History: the string path was a posexplode + window-lead formulation
    through round 14 (one full shuffle + sort of every TOKEN row, by
    doc id, before the distinct).  Round-15 optimization (guide §2.4
    "remove shuffles outright"): the staged-``t`` indexing trick the
    hashed path already used emits the identical (id, sh) string set -
    verified set-equal at sf0.01 - with the token-row Exchange gone
    from the plan; at corpus scale the substrate's shuffle term drops
    from ~token count to zero (the distinct's doc-keyed shuffle
    remains, on deduplicated shingle rows).  The ROUND-10 warning about
    the array-expression form applied to ``_shingles_of``'s nested
    slice/array_join lambda over an inlined token array (re-tokenizing
    per shingle index), not to indexing a staged column."""
    toks = F.transform(tokens(text_col), F.lower)
    gram = "concat_ws(' ', {cols})".format(
        cols=", ".join(f"t[i+{j}]" for j in range(n)))
    if hashed:
        gram = f"xxhash64({gram})"
    sh_arr = F.expr(
        f"transform(sequence(0, size(t) - {n}), i -> {gram})"
    )
    out = (
        ensure_min_parallelism(df)
        .select(F.col(id_col).alias("id"), toks.alias("t"))
        .filter(F.size("t") >= n)  # sequence() would run BACKWARD
        .select("id", F.explode(sh_arr).alias("sh"))
    )
    return out.distinct() if distinct else out


def shingle_arrays(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Per-doc distinct shingle set as an array column (from
    :func:`exploded_shingles`; order-irrelevant for set math)."""
    return (
        exploded_shingles(df, text_col, id_col, n)
        .groupBy("id")
        .agg(F.collect_set("sh").alias("sh"))
    )


# Largest C(cap, 2) pair array one capped group may unfold into: ~32 MB
# of (long, long) structs in a single row.  The default stop-shingle cap
# of 1000 (499,500 pairs, ~16 MB) fits; a cap above 1414 does not.
MAX_GROUP_PAIRS = 1_000_000


def pair_counts_from_capped_groups(df: DataFrame, key_col: str,
                                   id_col: str, count_col: str,
                                   cap: int) -> DataFrame:
    """(id_a, id_b, count) for every id pair co-occurring under a key:
    one groupBy(key) collect_list (sorted), then all (i < j)
    combinations unfold map-side from the array.  The pair multiset is
    IDENTICAL to the key self-equi-join with ``a.id < b.id`` (a key
    shared by ids d1 < .. < dk emits exactly its C(k,2) ordered pairs
    either way), so downstream counts are bit-identical; what
    disappears is the join - one shuffle of the (key, id) rows instead
    of two join sides plus the joined row stream (guide §2.4).

    SCALE CONTRACT: callers must bound the per-key group size BEFORE
    this (stop-shingle / max_fp_docs caps) and pass that bound as
    ``cap`` - a hot key with f ids materializes one f-element array row
    and one C(f, 2)-element pair array here, so a cap whose pair array
    exceeds MAX_GROUP_PAIRS raises ValueError, and an uncapped caller
    must use the self-join instead."""
    if cap * (cap - 1) // 2 > MAX_GROUP_PAIRS:
        raise ValueError(
            f"group cap {cap} unfolds up to {cap * (cap - 1) // 2} pairs "
            f"per group, above MAX_GROUP_PAIRS={MAX_GROUP_PAIRS}; lower "
            "the cap or use the self-join path")
    pair_struct = (
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), "
        "y -> struct(x AS id_a, y AS id_b))))"
    )
    return (
        df.groupBy(key_col)
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(F.explode(F.expr(pair_struct)).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"),
                 F.col("p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias(count_col))
    )


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.8,
                        max_shingle_freq: int | None = 1000,
                        hash_shingles: bool = True) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard >= threshold.

    Plan shape (scale-critical): explode shingles -> stop-shingle cap ->
    self-equi-join on shingle -> per-pair common count -> jaccard against
    per-doc shingle counts.  Docs sharing no shingle never meet, so the
    join is sparse rather than quadratic; ``max_shingle_freq`` drops
    ubiquitous shingles that would otherwise dominate fanout (the classic
    stop-shingle optimization).  The cap is ON BY DEFAULT (1000): one hot
    shingle appearing in f docs alone contributes O(f^2) candidate pairs,
    a quadratic blowup at corpus scale — pass ``None`` only for small
    exact-math runs where every shingle must count (property-tested:
    a planted hot shingle does not blow up the pair count).

    ``hash_shingles`` (default on) runs the whole pipeline on
    ``xxhash64`` shingle keys instead of the literal n-gram strings:
    the substrate checkpoint, the frequency cap, BOTH self-join sides
    and the sizes aggregate then move (long, long) rows — at corpus
    scale the join/shuffle bytes drop by the mean shingle width (~20x
    here).  Jaccard over hashed sets equals Jaccard over string sets
    up to 64-bit collisions (property-gated equal on the test corpus);
    ``False`` restores literal-string set math."""
    sh = exploded_shingles(df, text_col, id_col, n, hashed=hash_shingles)
    # the substrate feeds FOUR consumers (freq cap, both join sides,
    # sizes); without materialization each one replays the
    # explode+window lineage.  localCheckpoint persists it to executor
    # storage once - the standard diamond-DAG move, and at corpus scale
    # the deliberate trade: substrate storage ~ token count vs 3 extra
    # full recomputes.  Measured ~30% off the whole pipeline at sf0.1.
    sh = sh.localCheckpoint()
    if max_shingle_freq is not None:
        freq_ok = (
            sh.groupBy("sh").count().filter(F.col("count") <= max_shingle_freq)
        )
        # the groupBy-count + semi-join form (not a count window) is
        # deliberate: partial aggregation keeps a hot stop-shingle
        # skew-safe, and join skew is AQE-splittable where window skew
        # is not (guide §2.5).  No checkpoint after the cap (round-16):
        # the capped stream now has only two consumers (sizes, pair
        # groups), both fed by AQE-reused exchanges of the checkpointed
        # substrate - and a checkpoint here would ERASE the semi-join's
        # hash-partitioning by sh (RDD scans carry no outputPartitioning),
        # forcing the pair groupBy(sh) below to re-shuffle the whole
        # capped substrate.  Lazy, the groupBy rides the semi-join's
        # partitioning with zero new Exchange.
        sh = sh.join(freq_ok.select("sh"), "sh", "left_semi")
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    if max_shingle_freq is not None:
        # pair generation from per-shingle doc GROUPS instead of the
        # self-equi-join (round-16, guide §2.4): SAFE only under the
        # frequency cap, which bounds every group at max_shingle_freq
        # ids.  The uncapped path (small exact-math runs) keeps the
        # self-join - an unbounded hot shingle must never materialize
        # as a single collect_list row.
        common = pair_counts_from_capped_groups(sh, "sh", "id",
                                                "n_common",
                                                max_shingle_freq)
    else:
        a = sh.alias("a")
        b = sh.alias("b")
        common = (
            a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
            .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    # NO broadcast hint on the sizes joins (round-16 scale audit): sizes
    # is one row PER DOC - unbounded at corpus scale, so a forced
    # broadcast is exactly the guide §3.1 landmine (8 GB / 512M-row hard
    # cap, driver+executor copies).  AQE converts these joins to
    # broadcast at runtime whenever the aggregated sizes side is
    # actually small (verified in the sf0.1 runtime plan: both joins
    # come out BroadcastHashJoin with same wall and one fewer job), and
    # falls back to a shuffle join when it is not - the safe direction
    # at 100 TB, with nothing paid at bench scale.
    ja = (
        common.join(
            sizes.withColumnsRenamed({"id": "id_a", "n_sh": "n_a"}),
            "id_a",
        )
        .join(
            sizes.withColumnsRenamed({"id": "id_b", "n_sh": "n_b"}),
            "id_b",
        )
        .withColumn(
            "__j_raw",
            F.col("n_common")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        # filter on the RAW ratio (the oracle SQL does the same); round
        # only in the projection - rounding before the threshold would
        # pass raw values in [t-5e-5, t) that the oracle rejects
        .filter(F.col("__j_raw") >= threshold)
        .select("id_a", "id_b", F.round(F.col("__j_raw"), 4).alias("jaccard"))
    )
    return ja


# --------------------------------------------------------------------------
# G55: MinHash + LSH banding.
# --------------------------------------------------------------------------

# Universal-hash family for the portable MinHash path: h_i(x) =
# (a_i * h0(x) + b_i) mod P with h0 = portable_hash52 mod 2^26 and P the
# largest prime < 2^26, so every product stays < 2^52 (exact in BIGINT
# *and* in a double) - the arithmetic is reproducible in any engine with
# no overflow.  a_i/b_i derive from i by plain modular arithmetic so the
# oracle SQL can compute the same constants from a range(num_hashes).
_MH_P = 67108859          # largest prime < 2^26
_MH_MOD = 67108864        # 2^26


def _mh_coeffs(i: int) -> tuple[int, int]:
    a = 1 + (i * 2654435761) % (_MH_P - 1)
    b = (i * 98765431 + 12345) % _MH_P
    return a, b


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 3,
                       num_hashes: int = 64,
                       hash_fn: str = "xxhash64") -> DataFrame:
    """num_hashes MinHash values per doc: min over shingles of a seeded
    hash family.  ``hash_fn='xxhash64'`` (default): xxhash64(shingle,
    seed=i) - engine-native, the at-scale choice.  ``hash_fn='md5'``:
    the universal-hash family over :func:`portable_hash52` - bit-identical
    in any SQL engine, so the LSH pipeline can be oracle-verified.
    Both are deterministic across executors/runs/cluster sizes.

    Shape: explode shingles once, then num_hashes ``min`` aggregates over
    the exploded rows (one shuffle by doc id).  The naive alternative - a
    single projection with num_hashes copies of the shingle-building
    expression - recomputes tokenization per hash and is ~100x slower at
    sf0.1; partial aggregation also makes this the formulation that
    scales (map-side combine leaves one row per doc per partition).

    The substrate is built ``distinct=False``: ``min`` over shingle
    OCCURRENCES equals ``min`` over the distinct set, so the dedup
    shuffle buys nothing here (signatures bit-identical either way,
    asserted in tests)."""
    exploded = exploded_shingles(df, text_col, id_col, n, distinct=False)
    return _signatures_from_exploded(exploded, num_hashes, hash_fn)


def _staged_min_aggs(exploded: DataFrame, num_hashes: int,
                     hash_fn: str) -> tuple[DataFrame, list]:
    """(staged frame, seeded-min aggregate list) for the MinHash family:
    the md5 path stages the base hash ONCE per row (``__h0``) so the 64
    aggregate inputs are cheap modular arithmetic over it; xxhash64 is
    engine-native per seed.  ``sh`` is kept in the staged projection so
    callers can fold additional per-doc aggregates (the combined
    signature + shingle-set pass in :func:`minhash_lsh_dedup_pairs`)
    over the same rows."""
    if hash_fn == "md5":
        h0 = F.pmod(portable_hash52(F.col("sh")), F.lit(_MH_MOD))
        staged = exploded.select("id", "sh", h0.alias("__h0"))
        aggs = []
        for i in range(num_hashes):
            a, b = _mh_coeffs(i)
            aggs.append(
                F.min(
                    F.pmod(F.lit(a) * F.col("__h0") + F.lit(b), F.lit(_MH_P))
                ).alias(f"h{i}")
            )
    elif hash_fn == "xxhash64":
        staged = exploded
        aggs = [
            F.min(F.xxhash64(F.col("sh"), F.lit(i))).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    return staged, aggs


def _signatures_from_exploded(exploded: DataFrame, num_hashes: int,
                              hash_fn: str) -> DataFrame:
    staged, aggs = _staged_min_aggs(exploded, num_hashes, hash_fn)
    per_doc = staged.groupBy("id").agg(*aggs)
    return per_doc.select(
        "id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("signature")
    )


def banded_buckets(signatures: DataFrame, bands: int = 16,
                   rows_per_band: int = 4,
                   bucket_key: str = "xxhash64") -> DataFrame:
    """(id, band, bucket) rows: each signature sliced into ``bands``
    bands of ``rows_per_band`` values, keyed per band.  THE banding
    definition - shared by the intra-frame candidate join below and the
    persisted corpus index (:class:`.dedup_index.MinHashIndex`), so the
    two can never propose different candidates for the same parameters.

    ``bucket_key='xxhash64'``: 64-bit hash of (band, slice) - fixed
    8-byte join key, at-scale default (a collision only adds a
    candidate, which exact-verify removes).  ``bucket_key='concat'``:
    ':'-joined slice values - collision-free and engine-portable, for
    oracle-exact pipelines."""
    if bucket_key == "concat":
        key = lambda s: F.concat_ws(  # noqa: E731
            ":", F.transform(s, lambda x: x.cast("string"))
        )
    else:
        key = lambda s: F.xxhash64(F.col("band"), s)  # noqa: E731
    return signatures.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.slice("signature", i * rows_per_band + 1, rows_per_band)
                    for i in range(bands)
                ]
            )
        ).alias("band", "slice"),
    ).select("id", "band", key(F.col("slice")).alias("bucket"))


def adaptive_bands(threshold: float, num_hashes: int = 64,
                   min_recall: float = 0.95) -> int:
    """Band count whose LSH S-curve catches ``threshold``-Jaccard pairs
    with probability >= ``min_recall``.

    Banding ``b`` bands of ``r = num_hashes/b`` rows proposes a pair of
    Jaccard ``j`` with probability ``1-(1-j^r)^b``; the curve's knee
    sits near ``(1/b)^(1/r)``.  A FIXED (b, r) silently loses candidate
    recall whenever the caller's threshold falls below that knee - e.g.
    the 16x4 default proposes only ~64% of j=0.5 pairs, and no
    downstream exact-verify can recover a pair the banding never
    proposed.  This picks the largest ``r`` (fewest low-similarity
    collisions, so the cheapest verify stage) whose candidate recall AT
    the threshold still clears ``min_recall``; ``r=1`` (every hash its
    own band) is the floor, and since recall is monotone-decreasing in
    ``r`` it is also the maximum recall ``num_hashes`` can buy - at
    extreme thresholds (e.g. 0.06 with only 32 hashes) even that may sit
    below ``min_recall``, in which case the floor is returned as the
    best available geometry (raise ``num_hashes`` to actually hit the
    target).  At the default threshold 0.8 this reproduces the anchored
    16x4 geometry exactly.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    for r in range(num_hashes, 0, -1):
        if num_hashes % r:
            continue
        b = num_hashes // r
        if 1.0 - (1.0 - threshold ** r) ** b >= min_recall:
            return b
    return num_hashes


def warn_if_low_banding_recall(bands: int, num_hashes: int,
                               threshold: float,
                               min_recall: float = 0.95) -> float:
    """Warn when a FIXED banding geometry proposes fewer than
    ``min_recall`` of ``threshold``-Jaccard pairs; returns the computed
    candidate recall.  Used by every probe path whose banding was frozen
    at build time (a stored :class:`.dedup_index.MinHashIndex`, the
    index-probing decontamination overload) - those cannot re-derive the
    geometry per call the way :func:`adaptive_bands` callers do, so the
    honest move is to say what the stored geometry actually delivers."""
    import warnings

    r = num_hashes // bands
    recall = 1.0 - (1.0 - threshold ** r) ** bands
    if recall < min_recall:
        warnings.warn(
            f"MinHash banding {bands}x{r} proposes only ~{recall:.0%} of "
            f"jaccard={threshold} pairs (S-curve knee ~"
            f"{(1.0 / bands) ** (1.0 / r):.2f}); rebuild with "
            "adaptive_bands(threshold) geometry for full candidate "
            "recall at this threshold",
            stacklevel=3,
        )
    return recall


def lsh_candidate_pairs(signatures: DataFrame, bands: int = 16,
                        rows_per_band: int = 4,
                        bucket_key: str = "xxhash64") -> DataFrame:
    """LSH banding candidates: docs agreeing on any whole band become a
    candidate pair.  Implementation: :func:`banded_buckets` + self-join
    on equality - at scale this is an equi-shuffle on the band hash,
    never an all-pairs comparison.

    Skew bound (stress-tested with a 30%-of-corpus identical-text
    clique): a hot bucket of k docs proposes the SAME C(k,2) pairs in
    every band; the trailing distinct() collapses that to C(k,2) once -
    the true near-dup set, which any correct dedup must materialize -
    so band count multiplies per-band join work but never the candidate
    set handed to the verify stage."""
    b = banded_buckets(signatures, bands, rows_per_band, bucket_key)
    x, y = b.alias("x"), b.alias("y")
    return (
        x.join(
            y,
            (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.band") == F.col("y.band"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )


def minhash_lsh_dedup_pairs(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", n: int = 3,
                            num_hashes: int = 64, bands: int = 16,
                            threshold: float = 0.8,
                            hash_fn: str = "xxhash64",
                            exploded: DataFrame | None = None) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures -> banded candidate
    pairs -> exact-jaccard verification of candidates only (estimated via
    signature agreement, then exact on the shingle sets).  Returns
    verified pairs with their exact jaccard.  ``hash_fn='md5'`` switches
    the whole pipeline to the engine-portable hash family (oracle-exact:
    identical candidates, hence identical verified pairs, in any SQL
    engine); xxhash64 stays the at-scale default.  ``exploded``: a
    precomputed (id, sh) frame for ``df`` at this ``n`` - either the
    distinct or the occurrence form (every consumer here is
    duplicate-insensitive), ideally checkpointed - the curation funnel
    passes one substrate so the batch is shingled once across its
    dedup stages."""
    rows_per_band = num_hashes // bands
    # ONE combined per-doc aggregation for BOTH the signatures and the
    # exact-jaccard verify sets (round-16, guide §2.4 "two operations
    # keyed the same way can share one exchange"): the substrate used to
    # be checkpointed and then aggregated TWICE by the same key - one
    # groupBy(id) Exchange for the 64 seeded mins, a second
    # groupBy(id) Exchange for collect_set(sh) - i.e. two full substrate
    # scans and two shuffles of the same rows.  Folding min+collect_set
    # into one aggregate halves that: the substrate streams map-only
    # into a single groupBy(id) (so its own checkpoint is no longer
    # needed - the aggregate is its only consumer), and the checkpointed
    # PER-DOC table (id, signature, shingle set - smaller than the
    # occurrence rows) feeds the banding sides and both verify joins.
    # Results are bit-identical: same aggregate expressions over the
    # same rows.  distinct=False (round-15): min folds / collect_set /
    # array_intersect/union are duplicate-insensitive, so the occurrence
    # multiset substrate needs no dedup Exchange.  A caller-passed
    # `exploded` frame may be either form for the same reason.
    if exploded is None:
        exploded = exploded_shingles(df, text_col, id_col, n,
                                     distinct=False)
    staged, aggs = _staged_min_aggs(exploded, num_hashes, hash_fn)
    per_doc = (
        staged.groupBy("id")
        .agg(*aggs, F.collect_set("sh").alias("sh"))
        .select(
            "id",
            F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias(
                "signature"),
            "sh",
        )
        .localCheckpoint()
    )
    sigs = per_doc.select("id", "signature")
    cands = lsh_candidate_pairs(
        sigs, bands, rows_per_band,
        bucket_key="concat" if hash_fn == "md5" else "xxhash64",
    )
    sh = per_doc.select("id", "sh")
    verified = (
        cands.join(sh.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), "id_b")
        .withColumn(
            "__j_raw",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        # raw-ratio threshold, round-in-projection: same boundary
        # contract as ngram_jaccard_pairs (and the oracle SQL)
        .filter(F.col("__j_raw") >= threshold)
        .select("id_a", "id_b", F.round(F.col("__j_raw"), 4).alias("jaccard"))
    )
    return verified


# --------------------------------------------------------------------------
# SimHash (hamming-space near-dup).
# --------------------------------------------------------------------------

def portable_hash52(col) -> "F.Column":
    """52-bit cross-engine token hash: the first 13 hex digits of md5,
    parsed as an integer.  Every SQL engine computes the identical value
    (DuckDB: ``('0x' || substr(md5(x),1,13))::BIGINT``), which is what
    lets hash-based dedup tiers be oracle-verified instead of rows-only.
    xxhash64 stays the at-scale default (one instruction vs a digest),
    the portable variant exists for reproducibility across engines."""
    return F.conv(F.substring(F.md5(col), 1, 13), 16, 10).cast("long")


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 64, hash_fn: str = "xxhash64") -> DataFrame:
    """SimHash over tokens: per-bit majority vote of token hashes.

    ``hash_fn='xxhash64'`` (default): 64-bit engine-native hashing, the
    at-scale choice.  ``hash_fn='md5'``: :func:`portable_hash52` with
    ``bits`` capped at 52 - bit-identical in any SQL engine, so results
    can be oracle-verified.

    Shape: explode tokens once, hash each token once, then ``bits``
    conditional-sum aggregates (map-side combined) - one shuffle by doc
    id, no repeated tokenization (same scale rationale as
    :func:`minhash_signatures`)."""
    if hash_fn == "md5":
        bits = min(bits, 52)
        h = portable_hash52(F.col("tok"))
    elif hash_fn == "xxhash64":
        h = F.xxhash64("tok")
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    exploded = ensure_min_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.explode(F.transform(tokens(text_col), F.lower)).alias("tok"),
    ).select("id", h.alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    per_doc = exploded.groupBy("id").agg(*votes)
    bit_cols = [
        F.when(
            F.col(f"v{i}") > 0,
            F.lit(1).cast("bigint") * (2**i if i < 63 else -(2**63)),
        ).otherwise(F.lit(0).cast("bigint"))
        for i in range(bits)
    ]
    sig = bit_cols[0]
    for c in bit_cols[1:]:
        sig = sig + c
    return per_doc.select("id", sig.alias("simhash"))


def simhash_near_pairs(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", max_hamming: int = 3,
                       bits: int = 64,
                       hash_fn: str = "xxhash64") -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.  Candidate
    generation: block on 4 x (bits/4)-wide chunks (pigeonhole: any pair
    within hamming 3 agrees on >=1 chunk), then verify exact hamming via
    bit_count(xor) - equi-joins only, no cross join."""
    s = simhash(df, text_col, id_col, bits, hash_fn)
    if hash_fn == "md5":
        bits = min(bits, 52)
    width = bits // 4
    mask = (1 << width) - 1
    chunks = s.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("simhash", i * width).bitwiseAND(
                        F.lit(mask)
                    )
                    for i in range(4)
                ]
            )
        ).alias("chunk_idx", "chunk"),
    )
    x, y = chunks.alias("x"), chunks.alias("y")
    cands = (
        x.join(
            y,
            (F.col("x.chunk_idx") == F.col("y.chunk_idx"))
            & (F.col("x.chunk") == F.col("y.chunk"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.col("x.simhash").alias("sh_a"),
            F.col("y.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return (
        cands.withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# --------------------------------------------------------------------------
# Embedding-cosine near-dup (tier 5).
# --------------------------------------------------------------------------

def hashed_token_vectors(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id",
                         n_dims: int = 64) -> DataFrame:
    """Feature-hashing ("hashing trick") embedding: each token maps to a
    bucket via its first two md5 hex digits, and a document becomes the
    ``n_dims``-long vector of its bucket counts.

    This is the deterministic, model-free member of the embedding family:
    the same column signature as a learned encoder (id, vec double array)
    so :func:`embedding_cosine_pairs` / operators.similarity work on
    either, but reproducible in ANSI SQL on any engine (md5 + hex-digit
    arithmetic - no engine-specific hash).  ``n_dims`` must be <= 256
    (two hex digits of entropy feed the bucket id).

    Scale: explode tokens -> two map-side-combinable aggregations
    (per-(doc, bucket) count, then per-doc map) - one shuffle by doc id,
    no Python, no model fit.
    """
    if n_dims > 256:
        raise ValueError("hashed_token_vectors: n_dims must be <= 256")
    toks = ensure_min_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.explode(F.transform(tokens(text_col), F.lower)).alias("tok"),
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col("tok")), 1, 2), 16, 10).cast("long"),
        F.lit(n_dims),
    )
    # one groupBy(id) with n_dims conditional sums (the simhash-votes
    # shape): whole-stage-codegen + map-side combine, no per-row map
    # building, no second shuffle - ~4x faster than the
    # (id, dim)-count -> map -> densify formulation it replaced
    per = toks.select("id", bucket.alias("dim"))
    aggs = [
        F.sum(
            F.when(F.col("dim") == i, F.lit(1.0)).otherwise(F.lit(0.0))
        ).alias(f"d{i}")
        for i in range(n_dims)
    ]
    return per.groupBy("id").agg(*aggs).select(
        "id", F.array(*[f"d{i}" for i in range(n_dims)]).alias("vec")
    )


def dominant_signature(vec_col, top_k: int = 3):
    """Column: the ':'-joined 0-based indices of the vector's ``top_k``
    heaviest dimensions (value desc, index asc - fully deterministic,
    ties included).  Near-identical vectors agree on their heaviest
    features, so the signature is a sparse blocking key; comparisons
    only, no float arithmetic, hence trivially reproducible in any
    engine.  Pure per-row expression - no shuffle, no window."""
    vec = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    idx = F.sequence(F.lit(1), F.size(vec))
    ranked = F.array_sort(
        F.transform(
            idx,
            lambda i: F.struct(
                (-F.element_at(vec, i)).alias("nv"), (i - 1).alias("dim")
            ),
        )
    )
    return F.concat_ws(
        ":",
        F.transform(
            F.slice(ranked, 1, top_k), lambda s: s.getField("dim").cast("string")
        ),
    )


def embedding_cosine_pairs(vectors: DataFrame, threshold: float = 0.99,
                           id_col: str = "id", vec_col: str = "vec",
                           block_top_k: int | None = 3,
                           max_block_size: int | None = 100_000) -> DataFrame:
    """Near-duplicate pairs by exact cosine similarity over an embedding
    column: (id_a, id_b, cosine) for pairs with cosine >= threshold.

    Candidate generation: equi-join on the :func:`dominant_signature`
    of each vector (indices of its ``block_top_k`` heaviest dimensions).
    Near-identical vectors agree on their heaviest features, so
    planted/near dups collide while unrelated docs spread across many
    signatures - the join is sparse, never all-pairs (same scale
    discipline as the shingle and simhash tiers: candidates from an
    equality join, exact verify after).  A single-dimension block
    (top_k=1) degenerates on low-vocabulary corpora where most docs
    share one dominant bucket - measured 100x more candidates than
    top_k=3 on the synthetic corpus - so the default is the composite
    signature; recall on *exact* copies is always 1.0 (identical
    vector => identical signature), near-dups trade a little recall for
    the candidate bound, like every blocking tier.  For recall-critical
    corpora use the multiprobe random-hyperplane LSH in
    operators/similarity.py (rp_lsh_topk) for candidates instead;
    ``block_top_k=None`` is the exact all-pairs baseline (small inputs
    only).

    Cosine is fold-ordered double math, bit-identical to the DuckDB
    list_reduce oracle (so this tier is hash-matched, not rows-only),
    via the Arrow fold kernel similarity.cosine_foldexact_pandas:
    vectorized across candidate rows but sequential across dims, same
    bits as the interpreted similarity.cosine fold - which evaluated
    single-threaded after AQE coalesces the small candidate join
    (measured 1.3 s for 21k candidates at sf0.1; the Arrow kernel does
    the same rows in one numpy pass).
    """
    from .similarity import cosine_foldexact_pandas

    if block_top_k is not None:
        # one materialized vector+signature build feeding both self-join
        # sides (the diamond-DAG move shared with the shingle pipelines);
        # the blk repartition co-partitions the join and keeps the
        # planner from broadcasting one side
        vectors = (
            vectors.select(
                F.col(id_col), F.col(vec_col),
                dominant_signature(vec_col, block_top_k).alias("blk"),
            )
            .repartition(F.col("blk"))
            .localCheckpoint()
        )
        if max_block_size is not None:
            # ON BY DEFAULT (same rationale as the stop-shingle cap): a
            # degenerate signature - empty docs, a constant corpus slice -
            # puts b docs in one block and alone contributes O(b^2)
            # candidate pairs.  Dropping oversized blocks bounds the join
            # fanout; the docs inside them are by construction
            # near-indistinguishable under this blocking, a documented
            # recall tradeoff, not a correctness one.
            w = Window.partitionBy("blk")
            vectors = (
                vectors.withColumn("__bn", F.count(F.lit(1)).over(w))
                .filter(F.col("__bn") <= max_block_size)
                .drop("__bn")
            )
        a = vectors.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
            F.col("blk").alias("blk_a"),
        )
        b = vectors.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
            F.col("blk").alias("blk_b"),
        )
        cond = (F.col("blk_a") == F.col("blk_b")) & (F.col("id_a") < F.col("id_b"))
    else:
        a = vectors.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
        )
        b = vectors.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")
        )
        cond = F.col("id_a") < F.col("id_b")
    return (
        a.join(b, cond)
        # once=True (round-15, guide §4.4): the threshold filter sits
        # directly on the UDF column, which planned the kernel TWICE
        # (2 ArrowEvalPython nodes); the marking yields one evaluation
        .withColumn("cos", cosine_foldexact_pandas(F.col("va"),
                                                   F.col("vb"),
                                                   once=True))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 4).alias("cosine"))
    )


# --------------------------------------------------------------------------
# Pairs -> survivors: the last step of every near-dup pipeline.
# --------------------------------------------------------------------------

# Edge-list size under which component_labels resolves components on
# the driver instead of running the distributed star rounds: 100k pairs
# is a few MB of ids - trivially collectable - while the star rounds
# cost >= 4 fixed jobs even for one pair.
MAX_DRIVER_PAIRS = 100_000


def union_find_labels(edges) -> dict:
    """Driver-side component LABELS for a SMALL edge list: {node ->
    component minimum id} for every node of a non-self-loop edge (the
    same answer :func:`.graph.connected_components_star` converges to).
    Union-find with union-by-min and path compression, pure python,
    O(E α(E)).  ``edges``: iterable of (u, v)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for u, v in edges:
        if u == v:
            continue  # a self-loop is no edge, as in the star's _canon
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by min so every root IS its component's minimum
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    # fully compress so parent[x] IS the component minimum
    for x in parent:
        find(x)
    return parent


def component_labels(pairs: DataFrame, id_a: str = "id_a",
                     id_b: str = "id_b") -> DataFrame:
    """Connected-component label of every node that appears in a
    ``pairs`` edge: returns (node, label), label = the component's
    minimum node id (= the survivor under the keep='min' convention).
    Nodes in no edge get no row - they are their own singletons.

    One capped collect picks the path.  A pair set of at most
    :data:`MAX_DRIVER_PAIRS` rows resolves on the DRIVER
    (:func:`union_find_labels`) and comes back as a broadcast-hinted
    LocalRelation literal: the cap bounds it at 2 x MAX_DRIVER_PAIRS
    rows, and there are none of the distributed rounds' fixed jobs.
    Above the cap the labels come from
    :func:`.graph.connected_components_star` - diameter-independent
    round count, no driver-side graph - with no hint, since that table
    is unbounded.

    ``pairs`` should be materialized (localCheckpoint) by the caller
    when its plan is expensive: the probe and the star rounds both
    replay its lineage otherwise.

    A probe SHORT-CIRCUIT from materialized-plan statistics was tried
    and reverted: localCheckpoint block sizes are SizeEstimator walks
    that count shared backing buffers once per row (the 1648-row sf0.1
    pair table reported 74.2 GB) and wrongly demoted a small pair set
    to the distributed path.  No cheap trustworthy row bound exists for
    an RDD-backed frame; the probe stays."""
    import pandas as pd
    from pyspark.sql.types import StructField, StructType

    head = pairs.select(id_a, id_b).limit(MAX_DRIVER_PAIRS + 1).collect()
    if len(head) > MAX_DRIVER_PAIRS:
        return connected_components_star(pairs, id_a, id_b)
    lab = union_find_labels(head)
    id_type = pairs.schema[id_a].dataType
    # from pandas, Arrow makes the literal a LocalRelation (a Python list
    # plans as an RDD scan): its broadcast needs no collect job
    labels = pairs.sparkSession.createDataFrame(
        pd.DataFrame(sorted(lab.items()), columns=["node", "label"]),
        StructType([StructField("node", id_type),
                    StructField("label", id_type)]),
    )
    # the hint holds if Arrow falls back to the RDD scan.  An empty
    # pandas frame skips Arrow; limit(0) plans as an empty
    # LocalRelation, which the optimizer folds out of every join
    return F.broadcast(labels) if lab else labels.limit(0)


def survivors_from_pairs(df: DataFrame, pairs: DataFrame,
                         id_col: str = "doc_id",
                         id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Resolve near-duplicate PAIRS into the rows to KEEP: every
    connected component of the pair graph (:func:`component_labels`)
    keeps its minimum-id member (deterministic survivor, matching
    :func:`exact_dedup`'s keep='min' convention); ``df`` loses the
    labelled nodes whose label is not themselves.

    Near-dup relations are not transitive, but dedup treats them so
    (A~B, B~C => one survivor for {A,B,C}); components are the standard
    closure, exact at any graph depth on both of component_labels'
    paths.  On the driver path the drop set is a broadcast literal, so
    the anti-join never shuffles ``df``.
    """
    # one eager materialization of the pair DAG, shared by the capped
    # probe AND (over the cap) the star rounds - the LSH machinery
    # upstream never executes twice
    pairs = pairs.select(id_a, id_b).localCheckpoint()
    drops = component_labels(pairs, id_a, id_b).filter(
        F.col("node") != F.col("label")
    ).select(F.col("node").alias(id_col))
    return df.join(drops, id_col, "left_anti")


def semantic_dedup_pairs(vectors: DataFrame, threshold: float = 0.95,
                         id_col: str = "id", vec_col: str = "vec",
                         index=None, nlist: int | None = None,
                         seed: int = 42,
                         max_cluster_size: int | None = 100_000) -> DataFrame:
    """Semantic near-duplicate pairs, cluster-blocked (SURVEY §2.5 D16):
    the SemDeDup recipe (Abbas et al. 2023, arXiv:2303.09540) — k-means
    cluster the embeddings, then compare pairs only WITHIN a cluster.
    Returns (id_a, id_b, cosine) with cosine >= threshold.

    This is the embedding tier's data-driven blocking:
    :func:`embedding_cosine_pairs` blocks on dominant coordinates
    (content-free, oracle-portable), while here the blocks are the
    spherical-KMeans cells of :class:`.similarity.IvfIndex` — semantic
    near-dups land in the same cell unless they straddle a boundary
    (the published method accepts that recall trade explicitly).
    Reusing the ANN index doubles its value: pass ``index=`` and the
    daily semantic-dedup run pays ZERO clustering cost, exactly like
    the index-reusing decontamination overload.

    Scale shape: one equi-join on ``list_id`` (never all-pairs; the
    quadratic term is bounded per cluster and ``max_cluster_size``
    drops degenerate cells, same rationale as the stop-shingle and
    block caps), cosine verified exactly on the candidates.  With a
    prebuilt index the corpus is not even re-assigned — the stored
    (id, vec, list_id) table feeds both join sides.

    Survivor policy note: the paper keeps the member farthest from the
    centroid; this engine keeps the MINIMUM id everywhere (exact_dedup,
    survivors_from_pairs), and :func:`semantic_dedup` follows that
    convention for cross-tier consistency.
    """
    from .similarity import (
        IvfIndex, adaptive_nlist, cosine_foldexact_pandas,
    )

    if index is None:
        corpus = vectors.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
        )
        if nlist is None:
            # one bounded driver-side aggregate to size the geometry,
            # same discipline as the adaptive ANN paths
            nlist = adaptive_nlist(corpus.count())
        index = IvfIndex.build(corpus, nlist=nlist, seed=seed)
    cells = index.assigned.select(
        F.col("neighbor_id").alias(id_col), F.col("c_vec").alias(vec_col),
        "list_id",
    ).localCheckpoint()
    if max_cluster_size is not None:
        w = Window.partitionBy("list_id")
        cells = (
            cells.withColumn("__cn", F.count(F.lit(1)).over(w))
            .filter(F.col("__cn") <= max_cluster_size)
            .drop("__cn")
        )
    a = cells.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        F.col("list_id").alias("l_a"),
    )
    b = cells.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
        F.col("list_id").alias("l_b"),
    )
    return (
        a.join(b, (F.col("l_a") == F.col("l_b")) & (F.col("id_a") < F.col("id_b")))
        # Arrow fold kernel: bit-identical to the interpreted fold and
        # the DuckDB oracle, vectorized over the in-cell candidate
        # stream (the operator's dominant term - see the
        # embedding_cosine_pairs note); once=True per the same
        # filter-sandwich duplication fix (round-15, guide §4.4)
        .withColumn("cos", cosine_foldexact_pandas(F.col("va"),
                                                   F.col("vb"),
                                                   once=True))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 4).alias("cosine"))
    )


def semantic_dedup(vectors: DataFrame, threshold: float = 0.95,
                   id_col: str = "id", vec_col: str = "vec",
                   index=None, nlist: int | None = None, seed: int = 42,
                   max_cluster_size: int | None = 100_000) -> DataFrame:
    """The rows surviving SemDeDup-style semantic dedup: connected
    components of :func:`semantic_dedup_pairs`, min-id survivor per
    component (the engine-wide convention)."""
    pairs = semantic_dedup_pairs(
        vectors, threshold, id_col, vec_col, index, nlist, seed,
        max_cluster_size,
    )
    return survivors_from_pairs(vectors, pairs, id_col=id_col)


# --------------------------------------------------------------------------
# D32: SoftDedup - duplicate DOWN-WEIGHTING instead of removal
# --------------------------------------------------------------------------

def content_fingerprint(text_col: str = "text", hash_fn: str = "xxhash64",
                        normalize: bool = True):
    """The content-identity column shared by :func:`soft_dedup_weights`
    and :class:`.commonness.CommonnessIndex`: optionally lowercase,
    trim, and collapse whitespace runs (catches reflowed copies), then
    hash — xxhash64 (long) at scale, md5 (string) for cross-engine
    oracle checks.  Both consumers MUST use the identical expression
    or accumulated counts stop matching one-shot weights.

    NULL text is coalesced to a one-NUL-byte sentinel BEFORE hashing:
    without it md5 yields NULL (so equi-joins never match NULL-text
    docs and CommonnessIndex.weights would price them at 0) while
    xxhash64 yields the seed hash (and DOES join) — the two hash
    families and the join-vs-window paths would disagree.  The
    sentinel makes all NULL-text docs one duplicate cluster under
    both families; a real document whose normalized text is exactly
    one NUL byte is not a thing."""
    src = F.col(text_col)
    if normalize:
        src = F.regexp_replace(F.lower(F.trim(src)), r"\s+", " ")
    src = F.coalesce(src, F.lit("\x00"))
    if hash_fn == "xxhash64":
        return F.xxhash64(src)
    if hash_fn == "md5":
        return F.md5(src)
    raise ValueError(f"unknown hash_fn: {hash_fn!r}")


def soft_dedup_weights(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", alpha: float = 1.0,
                       hash_fn: str = "xxhash64",
                       normalize: bool = True) -> DataFrame:
    """(id, commonness, weight) - the SoftDedup reweighting (He et al.
    2024, arXiv:2407.06654): instead of DELETING duplicates (which
    throws away the evidence that duplicated text is common and
    over-trims at the cluster boundary), keep every document and
    down-weight its sampling probability by how common its content is.
    ``commonness`` = the exact multiplicity of the document's
    (optionally normalized) text in the corpus; ``weight`` =
    ``commonness ** -alpha`` - alpha=1 makes every duplicate CLUSTER
    contribute one expected epoch spread across its members, alpha=0.5
    down-weights more gently, alpha=0 disables.  Feed the weight to
    :func:`.sampling.mix_by_weight` for a deterministic realized
    mixture, or export it for loss-weighting at train time.

    Scale shape: ONE hash shuffle on the content fingerprint (a window
    count partitioned by the fingerprint - the shuffle term is the
    distinct-content count, identical to exact_dedup's), then pure
    column arithmetic; no join, no driver state.  ``normalize=True``
    lowercases, trims, and collapses whitespace runs before hashing
    (the near-free canonicalization that catches reflowed copies;
    engine-portable, so the oracle reproduces it).  ``hash_fn``:
    xxhash64 at scale, md5 for cross-engine oracle checks.
    """
    fp = content_fingerprint(text_col, hash_fn, normalize)
    w = Window.partitionBy(fp)
    return df.select(
        id_col,
        F.count(F.lit(1)).over(w).alias("commonness"),
    ).withColumn(
        "weight",
        F.pow(F.col("commonness").cast("double"), F.lit(-float(alpha))),
    )
