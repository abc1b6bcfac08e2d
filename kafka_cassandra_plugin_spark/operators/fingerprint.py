"""Winnowing document fingerprints (MOSS): local sampling of k-gram hashes.

Schleimer, Wilkerson & Aiken, SIGMOD 2003 ("Winnowing: Local Algorithms
for Document Fingerprinting" - the MOSS plagiarism detector): hash every
token k-gram, slide a window of ``w`` consecutive hashes, and in each
window select the MINIMUM hash (ties -> the rightmost occurrence).  The
selected (position, hash) set is the document's fingerprint:

- **guarantee**: every w consecutive gram positions contribute at least
  one fingerprint, so any shared substring of >= k + w - 1 tokens is
  always detected (the paper's correctness property);
- **density**: expected 2/(w+1) of positions selected - a tunable
  sketch size, unlike "every gram" (D20's exact-span machinery) or
  "global min-k" (MinHash, which loses locality).

Where D1/G55 (MinHash) answer "are these two documents near-identical
as bags of shingles" and D20 answers "which exact spans repeat",
winnowing answers the MOSS question between them: "how much verbatim
material do these two documents share, position-locally" - the shape
used for code-clone and license-text detection in training-data
pipelines, robust to reordering of unshared parts.

Spark-first shape (zero UDFs, ONE shuffle):

- grams are an array-side slide off each document row (one explode, no
  self-join), with the per-doc gram count riding the explode so no
  second pass counts it;
- per-window rightmost-argmin is ``min(struct(hash, -pos))`` over a
  ``rowsBetween(0, w-1)`` frame - struct ordering gives "smallest
  hash, then largest position" in one orderable aggregate;
- consecutive windows re-selecting the same fingerprint collapse via
  ``lag`` over the SAME partitioning (the winnowing interval property:
  the anchor set selecting a given position is contiguous - once a
  smaller-or-rightmost hash enters from the right, the old selection
  can never recur, because candidates to the left leave the window
  first) - so dedup costs zero extra Exchange and the whole operator
  is one hash shuffle by document.

``fingerprint_overlap`` then scores document pairs MOSS-style: one
fp-value equi-join (never all-pairs), with ``max_fp_docs`` dropping
fingerprints shared by more than N documents - the paper's "ignore
extremely common" rule, and the same boilerplate/fanout governor as
:func:`.substring.duplicated_ngram_spans`'s min_count and D1's banding:
per-fp join fanout is bounded by max_fp_docs^2.

``hash_fn='xxhash64'`` (default) is the at-scale 8-byte key;
``'md5'`` uses :func:`.dedup.portable_hash52` - bit-identical in any
SQL engine, which is what lets BOTH the selection (position-exact) and
the overlap scores be DuckDB-oracle-verified (SURVEY §2.4).

Reference provenance: no counterpart in /root/reference (string KV
layer, CassandraListenerRegistry.scala:27); LLM-pipeline closure
(SURVEY §2.5 D26).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import pair_counts_from_capped_groups, portable_hash52
from .text import tokens

__all__ = ["winnow_fingerprints", "fingerprint_overlap",
           "fingerprint_near_dups"]


def _gram_hash(hash_fn: str) -> Column:
    if hash_fn == "xxhash64":
        return F.xxhash64("gram")
    if hash_fn == "md5":
        return portable_hash52(F.col("gram"))
    raise ValueError(f"hash_fn must be 'xxhash64' or 'md5', got {hash_fn!r}")


def winnow_fingerprints(docs: DataFrame, k: int = 5, w: int = 4,
                        text_col: str = "text", id_col: str = "doc_id",
                        hash_fn: str = "xxhash64") -> DataFrame:
    """(id, pos, fp): the winnowed fingerprint set - ``pos`` the
    0-based token position of the selected k-gram, ``fp`` its hash.

    Windows are anchored at gram positions ``0 .. max(m - w, 0)`` (m =
    gram count), so a document with at least one gram (>= k tokens)
    but fewer than w grams still fingerprints its global minimum -
    every document that CAN match is represented.  Rows come back
    sorted by ``pos`` within each document."""
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k} w={w}")
    toks = F.filter(tokens(text_col), lambda t: t != F.lit(""))
    grams = F.expr(
        f"case when size(__toks) >= {k} then "
        f"transform(sequence(1, size(__toks) - {k - 1}), "
        f"i -> struct(i - 1 AS start, "
        f"array_join(slice(__toks, i, {k}), ' ') AS gram)) "
        f"else array() end"
    )
    occ = (
        docs.withColumn("__toks", toks)
        .select(F.col(id_col), grams.alias("__g"))
        .select(id_col, F.size("__g").alias("__m"),
                F.explode("__g").alias("__w"))
        .select(id_col, "__m", F.col("__w.start").alias("start"),
                F.col("__w.gram").alias("gram"))
        .select(id_col, "__m", "start", _gram_hash(hash_fn).alias("h"))
    )
    frame = (
        Window.partitionBy(id_col).orderBy("start")
        .rowsBetween(Window.currentRow, w - 1)
    )
    order = Window.partitionBy(id_col).orderBy("start")
    sel = F.min(F.struct(F.col("h"), (-F.col("start")).alias("np")))
    anchored = (
        occ.withColumn("__sel", sel.over(frame))
        # anchors: one per full window, plus anchor 0 for sub-w docs
        .filter(F.col("start") <= F.greatest(F.col("__m") - F.lit(w),
                                             F.lit(0)))
    )
    return (
        # interval property: repeat selections are consecutive anchors,
        # so lag-compare IS distinct - and reuses the same partitioning
        anchored.withColumn("__prev", F.lag("__sel").over(order))
        .filter(F.col("__prev").isNull()
                | (F.col("__sel") != F.col("__prev")))
        .select(id_col, (-F.col("__sel.np")).alias("pos"),
                F.col("__sel.h").alias("fp"))
    )


def fingerprint_overlap(fps: DataFrame, id_col: str = "doc_id",
                        max_fp_docs: int | None = None) -> DataFrame:
    """MOSS pair scores from a fingerprint table: (id_a, id_b, shared,
    n_a, n_b, overlap) for every document pair sharing at least one
    fingerprint VALUE, with ``overlap = shared / min(n_a, n_b)``
    (containment - a verbatim subset scores 1.0 regardless of the
    containing document's size; the MOSS ranking).

    ``max_fp_docs``: drop fingerprint values present in more than this
    many documents before pairing (boilerplate license headers, cookie
    banners).  The paper's "too common to mean anything" rule doubles
    as THE scale governor: pair fanout per fingerprint is bounded by
    max_fp_docs^2 instead of corpus^2.  None = exact (small corpora /
    the oracle twin).

    The distinct (doc, fp) projection is PERSISTED here: four subtrees
    consume it (the rarity filter, both join sides, the sizes
    aggregate), and without the persist each one re-runs the entire
    upstream fingerprint lineage - measured 4x the selection cost at
    sf0.1 (the :func:`.selection.dsir_select_threshold` precedent:
    persist the narrow reused projection, pay the full lineage once).
    Pipelines that probe repeatedly should write the fingerprint table
    to parquet instead and pass the read back in."""
    sets = fps.select(id_col, "fp").distinct().persist()
    if max_fp_docs is not None:
        rare = sets.groupBy("fp").agg(
            F.count(F.lit(1)).alias("__docs")
        ).filter(F.col("__docs") <= int(max_fp_docs)).select("fp")
        sets = sets.join(rare, "fp", "left_semi")
    sizes = sets.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    if max_fp_docs is not None:
        # capped pair generation from per-fp doc groups (round-16):
        # max_fp_docs bounds every group, so the pairs unfold map-side
        # from one groupBy(fp) instead of the fp self-equi-join -
        # identical pair multiset (see pair_counts_from_capped_groups),
        # one less substrate shuffle.  The exact path (None - the
        # oracle twin) keeps the self-join: a boilerplate fp shared by
        # unbounded many docs must never become one collect_list row.
        pairs = pair_counts_from_capped_groups(sets, "fp", id_col,
                                               "shared", int(max_fp_docs))
    else:
        a = sets.select(F.col(id_col).alias("id_a"), "fp")
        b = sets.select(F.col(id_col).alias("id_b"), "fp")
        pairs = (
            a.join(b, "fp")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("shared"))
        )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("__n").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("__n").alias("n_b"))
    return (
        pairs.join(na, "id_a").join(nb, "id_b")
        .select(
            "id_a", "id_b", "shared", "n_a", "n_b",
            (F.col("shared") / F.least("n_a", "n_b")).alias("overlap"),
        )
    )


def fingerprint_near_dups(docs: DataFrame, threshold: float = 0.5,
                          k: int = 5, w: int = 4,
                          text_col: str = "text", id_col: str = "doc_id",
                          hash_fn: str = "xxhash64",
                          max_fp_docs: int | None = None) -> DataFrame:
    """One-shot: fingerprint, pair, and keep pairs with ``overlap >=
    threshold`` - the winnowing-backed near-dup tier.  Resolve the
    pairs into survivors with :func:`.dedup.survivors_from_pairs`
    (same pair schema as every dedup tier: id_a < id_b)."""
    fps = winnow_fingerprints(docs, k=k, w=w, text_col=text_col,
                              id_col=id_col, hash_fn=hash_fn)
    return fingerprint_overlap(
        fps, id_col=id_col, max_fp_docs=max_fp_docs
    ).filter(F.col("overlap") >= threshold)
