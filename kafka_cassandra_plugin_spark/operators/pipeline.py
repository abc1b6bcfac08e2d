"""End-to-end training-data curation: the daily-batch funnel.

The individual operators (quality scoring, language ID, dedup tiers,
split assignment) each answer one question; a production ingest answers
them in sequence for every batch: *of today's documents, which survive
every gate, why did the rest fall out, and where does each survivor go?*
This module is that composition, kept fully declarative:

- :func:`curate_annotated` returns EVERY input row, tagged with a
  ``reject_reason`` (null = accepted) and, for accepted rows, a
  deterministic train/val/test ``split``.  One row in, one row out -
  the funnel is an annotation, not a sequence of shrinking copies, so
  accounting is exact and the whole thing is one lazy plan.
- :func:`curate` is the accepted subset (what you append to the
  training corpus).
- :func:`curation_funnel` is the per-stage accounting (one groupBy over
  the annotated rows).
- :func:`curate_and_write` runs the funnel and writes survivors
  partitioned by ``(lang, split)`` - the layout downstream training jobs
  scan by language and split without touching rejected bytes.

Stage order (each stage sees only the previous stages' survivors, so
reject reasons are disjoint and the funnel partitions the input):

0. ``blocked_domain`` - origin domain on ``blocked_domains`` / outside
   ``allowed_domains`` (opt-in; the CCNet/RefinedWeb/Dolma URL gate -
   FIRST, before any content inspection: a blocked site's text never
   reaches the quality scorers.  Keyed on ``url_col`` when given, else
   a deterministic synthetic URL from ``source`` - see
   :mod:`.domains`)
1. ``low_quality``    - composite heuristic below ``min_quality``
2. ``wrong_lang``     - language ID outside ``langs`` (when given);
   with ``langid=`` (a fitted :class:`.langid.LangIdModel`) the
   ``lang`` annotation is the MODEL's prediction instead of the
   marker-word heuristic — the CCNet step-0 posture
2a. ``wrong_language`` - model confidence below ``min_lang_conf``
    (opt-in via ``langid=`` + ``min_lang_conf=``; the unreliable-
    identification reject CCNet applies before any quality gate)
2b. ``repetitive``    - fails a Gopher repetition threshold (opt-in via
    ``drop_repetitive=True``; still map-only column arithmetic)
2b*. ``gopher_low_quality`` - fails an A1.1 document-shape rule (opt-in
    via ``drop_gopher=True`` [+ ``gopher_thresholds=`` overrides];
    :func:`.text.gopher_gate` — still map-only column arithmetic)
2b'. ``pii_heavy``    - carries more than ``max_pii`` PII pattern hits
    (opt-in via ``max_pii=``; regex built-ins, still map-only — see
    :mod:`.pii`)
2b''. ``ppl_out_of_band`` - n-gram LM perplexity outside
    [``min_ppl``, ``max_ppl``] or too short to score (opt-in via
    ``lm=`` + ``max_ppl=``; the CCNet middle-band quality gate -
    broadcast model-table joins over the batch's grams, see :mod:`.lm`)
2b'''. ``clf_low_quality`` - fitted quality-classifier probability
    below ``min_clf_score`` (opt-in via ``clf=`` + ``min_clf_score=``;
    the GPT-3-style learned reference-vs-crawl gate - one broadcast
    weight join over the batch's hashed ngrams, see :mod:`.classifier`)
2c. ``contaminated``  - shares an exact token 13-gram with a benchmark
    document (opt-in via ``benchmarks=``; broadcast gram join - the
    "never train on eval data" gate, enforced at ingest)
2d. ``seen_before``   - content hash maybe-in the accepted-corpus Bloom
    filter (opt-in via ``seen=``; cross-RUN exact dedup at a sketch's
    cost - no accepted duplicate ever passes, see :mod:`.bloom`)
3. ``exact_dup``      - same sha256 content as a lower-id batch row
4. ``near_dup_batch`` - MinHash-LSH near-dup cluster, non-min-id member
5. ``near_dup_corpus``- near-dup of the existing corpus (when a
   :class:`.dedup_index.MinHashIndex` is given)

Scale shape: stages 1-2 are pure column arithmetic (map-only); stage 3
is one shuffle on the content hash; stage 4 is the banded-LSH equi-join
machinery of :func:`.dedup.minhash_lsh_dedup_pairs`; stage 5 shingles
only the batch and broadcast-joins it against the stored index.  The
reject sets are disjoint by construction.  Assembly (round-14 fusion):
every ROW-LOCAL verdict - the map gates, the four join gates' combined
reason, and the exact-dup row number - is a COLUMN of one fused
materialization (a single localCheckpoint job whose broadcast-exchange
subtrees carry the gate joins), so only the two near-dup reasons still
arrive by a final batch-bounded left join.  At micro-batch scale this
is the difference between six serialized job waves (annotate ckpt,
gate-wave ckpt, substrate ckpt, pair collect, probe-fit count, final
attribution) and four - of which the corpus probe overlaps the pair
collect on a driver thread, so the critical path is effectively
three waves plus one attribution job.

Reference provenance: the reference plugin is a Cassandra KV/lease layer
with no document pipeline (`CassandraListenerRegistry.scala:27,52` point
reads; `README.md:180-224` Storage CRUD spec); this is part of the
LLM-pipeline closure built on the engine's own operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .dedup import (
    component_labels, exploded_shingles, minhash_lsh_dedup_pairs,
)
from .dedup_index import MinHashIndex
from .sampling import hash_split
from .text import (
    bpe_ish_token_count,
    fingerprint,
    gopher_gate,
    lang_id,
    quality_score,
    repetition_gate,
    token_count,
)


# Columns the funnel writes; an input batch carrying one of these would
# be silently overwritten by withColumn, corrupting user data.
ANNOTATION_COLS = ("quality", "lang", "n_tokens", "n_tokens_bpe", "fingerprint")
OUTPUT_COLS = ANNOTATION_COLS + ("split", "reject_reason")


def _check_reserved(df: DataFrame, reserved: tuple[str, ...], op: str) -> None:
    clash = [c for c in df.columns if c in reserved]
    if clash:
        raise ValueError(
            f"{op} writes reserved column(s) {clash} which already exist "
            f"on the input - rename them first (reserved: {list(reserved)})"
        )


def annotate(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document metadata columns (pure column arithmetic, map-only):
    quality score, language ID, whitespace + BPE-ish token counts, and
    the rolling-hash content fingerprint.  Raises if the input already
    carries one of the annotation columns (they would be overwritten)."""
    _check_reserved(df, ANNOTATION_COLS, "annotate()")
    return (
        df.withColumn("quality", quality_score(text_col))
        .withColumn("lang", lang_id(text_col))
        .withColumn("n_tokens", token_count(text_col))
        .withColumn("n_tokens_bpe", bpe_ish_token_count(text_col))
        .withColumn("fingerprint", fingerprint(text_col))
    )


def curate_annotated(
    batch: DataFrame,
    index: MinHashIndex | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.5,
    blocked_domains=None,
    allowed_domains=None,
    url_col: str | None = None,
    langs: tuple[str, ...] | None = None,
    langid=None,
    min_lang_conf: float | None = None,
    drop_repetitive: bool = False,
    drop_gopher: bool = False,
    gopher_thresholds: dict | None = None,
    max_pii: int | None = None,
    benchmarks: DataFrame | None = None,
    contamination_n: int = 13,
    near_dup_threshold: float = 0.8,
    lm=None,
    max_ppl: float | None = None,
    min_ppl: float = 0.0,
    clf=None,
    min_clf_score: float | None = None,
    seen=None,
    split_fractions: dict[str, float] | None = None,
    split_salt: str = "",
    substrate: dict | None = None,
    timings: dict | None = None,
) -> DataFrame:
    """Every batch row, annotated + tagged: ``reject_reason`` (null =
    accepted) and ``split`` (null for rejected rows).  See module doc
    for stage order and scale shape.

    ``blocked_domains`` / ``allowed_domains`` (opt-in; each a list of
    registrable domains OR a single-``domain``-column DataFrame) add
    the ``blocked_domain`` origin gate FIRST in the chain (stage 0 -
    the CCNet/RefinedWeb/Dolma posture; see :mod:`.domains`): rows
    whose registrable domain is on the blocklist, or outside the
    allowlist when one is given, are rejected before any content
    inspection.  The domain comes from ``url_col`` when given;
    without it a deterministic synthetic URL is derived from the
    batch's ``source`` column (raises when neither exists - a gate
    keyed on nothing would silently pass everything).  Cost shape:
    literal lists are pure column arithmetic; DataFrame lists are one
    broadcast left join each - no corpus shuffle either way.

    ``langid`` (opt-in; a fitted :class:`.langid.LangIdModel`)
    replaces the marker-word heuristic as the source of the ``lang``
    annotation: every row's ``lang`` becomes the model's prediction
    and a ``lang_conf`` column (the softmax posterior) is added — so
    the ``langs`` allow-list, the (lang, split) output partitioning,
    and every downstream lang consumer see the LEARNED
    identification.  ``min_lang_conf`` then adds a ``wrong_language``
    gate: rows whose identification confidence falls below it are
    rejected (the CCNet "langid is unreliable here" reject, applied
    before any quality gate).  Cost shape: one char-gram explode of
    the BATCH joined against the broadcast B x L model table — still
    batch-bounded, no corpus term.  ``min_lang_conf`` without
    ``langid`` raises (there is no confidence column to gate on);
    ``langid`` alone (neither ``langs`` nor ``min_lang_conf``) is
    allowed — upgrading the annotation is a real effect by itself.

    ``drop_repetitive=True`` adds a ``repetitive`` gate after
    ``wrong_lang``: documents failing any Gopher repetition threshold
    (:data:`.text.REPETITION_THRESHOLDS` via :func:`.text.repetition_gate`)
    are rejected before the dedup stages - still pure map-stage column
    arithmetic, so the funnel's one-lazy-plan shape is unchanged.  Off
    by default: the published thresholds assume naturally written prose
    and would over-reject short or list-like corpora; opt in per
    pipeline.

    ``drop_gopher=True`` adds the complementary ``gopher_low_quality``
    gate (the A1.1 document-SHAPE rules: word-count bounds, mean word
    length, symbol ratio, bullet/ellipsis lines, alpha fraction,
    required stop words — :func:`.text.gopher_gate`), with
    ``gopher_thresholds=`` overriding individual paper defaults (e.g.
    ``{"min_words": 5}`` for short-document corpora).  Same map-only
    cost shape and same off-by-default rationale as
    ``drop_repetitive``; ``gopher_thresholds`` without ``drop_gopher``
    raises (overrides for a switched-off stage would silently gate
    nothing).

    ``max_pii`` (opt-in) rejects rows with more than that many PII
    pattern hits (:func:`.pii.pii_gate`: email/phone/ssn/cc/ipv4/url
    regex built-ins) as ``pii_heavy`` — another pure map-stage gate.
    Redaction is the alternative posture: run
    :func:`.pii.redact_pii` on the batch BEFORE the funnel to keep the
    documents and strip the identifiers instead of dropping rows.
    The sub-document dedup transforms take the same pre-funnel
    posture: :func:`.substring.dedup_lines` (CCNet boilerplate-line
    removal) and :func:`.substring.remove_duplicated_spans` (repeated-
    passage removal) REWRITE text rather than reject rows, so they run
    before the funnel — and should, since boilerplate inflates the
    near-dup signature of otherwise-distinct documents.

    ``benchmarks`` (a (id, text) frame of evaluation documents) adds a
    ``contaminated`` stage between the gates and the dedup stages: any
    surviving row sharing an exact token ``contamination_n``-gram with
    a benchmark document is rejected
    (:func:`.contamination.ngram_collision_links` - the GPT-3/PaLM
    criterion).  The benchmark gram set is broadcast, so this costs one
    map-side gram explode of the BATCH, never a corpus scan -
    decontamination enforced continuously at ingest instead of as a
    post-hoc sweep.

    ``lm`` + ``max_ppl`` (opt-in; an :class:`.lm.NgramLM`) adds a
    ``ppl_out_of_band`` quality stage after the map gates: rows whose
    n-gram perplexity under the reference LM falls outside
    [``min_ppl``, ``max_ppl``] - or that are too short to score - are
    rejected (the CCNet middle-band criterion).  Cost shape: one gram
    explode of the BATCH joined against the broadcast (or
    shuffle-hash) model tables; the reject id set is batch-bounded and
    broadcast back.  Passing ``lm`` with neither ``max_ppl`` nor
    ``min_ppl > 0`` raises ValueError - an unconstrained band would
    silently gate nothing.

    ``clf`` + ``min_clf_score`` (opt-in; a fitted
    :class:`.classifier.QualityClassifier`) adds a ``clf_low_quality``
    stage after the LM band: rows whose classifier probability of the
    reference class falls below ``min_clf_score`` are rejected — the
    learned counterpart of the stage-1 heuristic gate (GPT-3 §A /
    LLaMA quality filtering).  Cost shape: one hashed-ngram explode of
    the BATCH joined against the broadcast (bucket, weight) table;
    reject set batch-bounded.  Passing ``clf`` without
    ``min_clf_score`` raises ValueError (same contract as ``lm``).

    ``seen`` (opt-in; a :class:`.bloom.BloomIndex` built with
    :meth:`.bloom.BloomIndex.build_over_content` over previously
    ACCEPTED documents) adds a ``seen_before`` stage before intra-batch
    exact dedup: rows whose content hash is maybe-in the filter are
    rejected.  No previously-accepted duplicate ever passes; ~fpp of
    genuinely-new rows pay the documented false-positive tax.  This is
    the cross-RUN exact-dedup answer at a sketch's cost - the
    alternative is an anti-join against every content hash ever
    accepted.

    ``timings`` (opt-in out-param, the ``substrate`` shape): filled
    with the wall seconds of this call's three BLOCKING driver points
    (``fused_ckpt_s``, ``substrate_s``, ``pairs_s``) - the sink merges
    them into its phase log so floor work can see inside ``funnel_s``
    without instrumenting Spark.

    When ``index`` is given, the intra-batch near-dup stage reuses the
    INDEX's MinHash parameters (n, num_hashes, bands, hash_fn) so stages
    4 and 5 apply one near-dup definition - an index built with
    non-default parameters must not silently dedup the batch under the
    defaults."""
    _check_reserved(batch, OUTPUT_COLS, "curate_annotated()")
    if min_lang_conf is not None and langid is None:
        raise ValueError(
            "curate_annotated(min_lang_conf=...) needs langid=: the "
            "confidence column only exists when a fitted LangIdModel "
            "supplies the lang annotation."
        )
    if langid is not None:
        _check_reserved(batch, ("lang_conf",), "curate_annotated(langid=)")
    if lm is not None and max_ppl is None and min_ppl <= 0.0:
        raise ValueError(
            "curate_annotated(lm=...) needs a perplexity band: pass "
            "max_ppl and/or min_ppl > 0. With neither, the "
            "ppl_out_of_band stage would be a silent no-op - a fitted "
            "LM was supplied, so the caller clearly expects gating."
        )
    if clf is not None and min_clf_score is None:
        raise ValueError(
            "curate_annotated(clf=...) needs min_clf_score: without a "
            "threshold the clf_low_quality stage would be a silent "
            "no-op - a fitted classifier was supplied, so the caller "
            "clearly expects gating."
        )
    mh_params = (
        {k: index.params[k] for k in ("n", "num_hashes", "bands", "hash_fn")}
        if index is not None
        else {}
    )
    ann = annotate(batch, text_col)
    if langid is not None:
        # the model's prediction REPLACES the heuristic lang column
        # (one batch-bounded explode + broadcast model join); the left
        # join is total — predict() scores every row, zero-gram docs
        # on the priors alone
        pred = langid.predict(
            batch.select(id_col, text_col), text_col, id_col
        ).select(
            id_col, F.col("lang_pred").alias("__lid_lang"), "lang_conf"
        )
        ann = (
            ann.drop("lang")
            .join(pred, id_col, "left")
            .withColumnRenamed("__lid_lang", "lang")
        )
    # NO checkpoint here (round-14 fusion): the annotations, the map
    # gates, the join-gate verdicts AND the exact-dup row numbers all
    # materialize in ONE localCheckpoint below - pre-round-14 the
    # annotate ckpt and the gate-wave ckpt were two serialized jobs on
    # the micro-batch floor (BASELINE.md round-13 decomposition)

    # stage 0: origin-domain gate (opt-in; rides the fused
    # materialization as literal column arithmetic and/or a broadcast
    # left join - see .domains)
    has_domain_gate = (blocked_domains is not None
                       or allowed_domains is not None)
    if has_domain_gate:
        from .domains import domain_gate, domain_gate_frame, synthetic_url

        if url_col is not None:
            if url_col not in batch.columns:
                raise ValueError(
                    f"curate_annotated(url_col={url_col!r}): the batch "
                    "has no such column"
                )
            url_expr = F.col(url_col)
        elif "source" in batch.columns:
            url_expr = synthetic_url("source", id_col)
        else:
            raise ValueError(
                "curate_annotated(blocked_domains=/allowed_domains=) "
                "needs url_col= or a 'source' column on the batch: a "
                "domain gate keyed on nothing would silently pass "
                "everything"
            )
        ann = ann.withColumn("__url", url_expr)

        def _split_ref(x):
            return (None, x) if isinstance(x, DataFrame) else (x, None)

        lit_bl, frm_bl = _split_ref(blocked_domains)
        lit_al, frm_al = _split_ref(allowed_domains)
        dom_pass = F.lit(True)
        if lit_bl is not None or lit_al is not None:
            dom_pass = dom_pass & domain_gate("__url", lit_bl, lit_al)
        if frm_bl is not None or frm_al is not None:
            ann = domain_gate_frame(ann, frm_bl, frm_al, url_col="__url",
                                    out_col="__dom_pass_f")
            dom_pass = dom_pass & F.col("__dom_pass_f")
        ann = ann.withColumn("__dom_pass", dom_pass)
    elif url_col is not None:
        raise ValueError(
            "curate_annotated(url_col=...) needs blocked_domains= "
            "and/or allowed_domains=: a URL column was named for a "
            "stage that is switched off, so it would silently gate "
            "nothing"
        )

    if has_domain_gate:
        gate = F.when(~F.col("__dom_pass"), "blocked_domain").when(
            F.col("quality") < min_quality, "low_quality")
    else:
        gate = F.when(F.col("quality") < min_quality, "low_quality")
    if langs is not None:
        gate = gate.when(~F.col("lang").isin(*langs), "wrong_lang")
    if langid is not None and min_lang_conf is not None:
        gate = gate.when(
            F.col("lang_conf") < min_lang_conf, "wrong_language")
    if drop_repetitive:
        gate = gate.when(~repetition_gate(text_col), "repetitive")
    if drop_gopher:
        gate = gate.when(
            ~gopher_gate(text_col, **(gopher_thresholds or {})),
            "gopher_low_quality")
    elif gopher_thresholds is not None:
        raise ValueError(
            "curate_annotated(gopher_thresholds=...) needs "
            "drop_gopher=True: threshold overrides were supplied for a "
            "stage that is switched off, so they would silently gate "
            "nothing."
        )
    if max_pii is not None:
        from .pii import pii_gate

        gate = gate.when(~pii_gate(text_col, max_hits=max_pii), "pii_heavy")
    # __gate captures the domain verdict, so the temp columns can drop
    # here (drop is a no-op for absent names)
    ann = ann.withColumn("__gate", gate).drop(
        "__url", "__dom_pass", "__dom_pass_f"
    )

    gated = ann.filter(F.col("__gate").isNull())
    join_rejects = []

    # Stages 2b/2b'''/2c/2d (LM band, learned quality, benchmark
    # contamination, cross-run Bloom) are all ROW-LOCAL verdicts
    # against STATIC references: a row's verdict never depends on
    # which other rows an earlier join gate removed.  So all four
    # reject sets are computed from the SAME gated input and combined
    # in ONE wave, instead of the pre-round-12 form that anti-joined
    # `gated` between stages: that chain put 4 sequential broadcast
    # waves on the plan's critical path, and at micro-batch scale the
    # per-wave fixed job cost (not row work) was the dominant term of
    # the CurationSink's ~14 s batch floor.  The rejected SET is
    # identical (row-local verdicts over a superset can only re-find
    # the same rows), and reason ATTRIBUTION keeps the original stage
    # priority via min_by(__prio) below, so funnel counts are
    # bit-identical to the sequential form.  Cost assumption: each
    # gate now scores rows an earlier gate would have removed, so the
    # one-wave win presumes gate reject rates stay small relative to
    # the batch - a pipeline whose LM band rejects most rows pays the
    # clf/contamination/Bloom probes over them anyway (still row-local
    # map work, never a corpus term).
    #
    # Round-14 fusion: the combined reject set no longer checkpoints
    # on its own - it rides the SINGLE fused materialization below as
    # a broadcast left join (`__jr`), so the gates' gram explodes and
    # model joins run as broadcast-exchange subtrees of the one job
    # instead of a second serialized wave.  The `gated` input is a
    # LAZY branch of `ann` (the map gates recompute inside each gate's
    # subtree - pure column arithmetic plus the batch-bounded langid
    # join, cheap relative to a whole extra job wave at micro-batch
    # scale, and bounded map/broadcast work at any scale).

    # stage 2b': LM perplexity band (model tables broadcast, reject
    # set batch-bounded)
    if lm is not None and (max_ppl is not None or min_ppl > 0.0):
        hi = float("inf") if max_ppl is None else max_ppl
        good = lm.perplexity_gate(
            gated.select(id_col, text_col), text_col, id_col,
            max_ppl=hi, min_ppl=min_ppl,
        ).select(id_col)
        bad = gated.select(id_col).join(good, id_col, "left_anti")
        join_rejects.append(bad.select(
            F.col(id_col).alias("__rid"),
            F.lit("ppl_out_of_band").alias("__reason"),
            F.lit(0).alias("__prio"),
        ))

    # stage 2b''': learned quality gate (broadcast weight join)
    if clf is not None:
        scored = clf.score(gated.select(id_col, text_col), text_col, id_col)
        bad = scored.filter(
            F.col("quality_score") < min_clf_score
        ).select(id_col)
        join_rejects.append(bad.select(
            F.col(id_col).alias("__rid"),
            F.lit("clf_low_quality").alias("__reason"),
            F.lit(1).alias("__prio"),
        ))

    # stage 2c: benchmark contamination (exact n-gram collision against
    # the broadcast benchmark gram set; batch-side map-only)
    if benchmarks is not None:
        from .contamination import ngram_collision_links

        dirty = (
            ngram_collision_links(
                gated, benchmarks, text_col, id_col, n=contamination_n
            )
            .select(F.col("corpus_id").alias(id_col))
            .distinct()
        )
        join_rejects.append(dirty.select(
            F.col(id_col).alias("__rid"),
            F.lit("contaminated").alias("__reason"),
            F.lit(2).alias("__prio"),
        ))

    # stage 2d: cross-run exact dedup against the accepted-corpus Bloom
    # filter (content-hash membership; no previously-accepted duplicate
    # passes, ~fpp of new rows pay the false-positive tax)
    if seen is not None:
        from .bloom import BloomIndex

        ck = BloomIndex.CONTENT_KEY
        keyed = gated.select(
            id_col, F.sha2(F.col(text_col), 256).alias(ck)
        )
        hits = seen.might_contain(keyed, ck).filter(F.col("might_contain"))
        seen_ids = keyed.join(hits.select(ck), ck, "left_semi").select(id_col)
        join_rejects.append(seen_ids.select(
            F.col(id_col).alias("__rid"),
            F.lit("seen_before").alias("__reason"),
            F.lit(3).alias("__prio"),
        ))

    if join_rejects:
        jr = join_rejects[0]
        for extra in join_rejects[1:]:
            jr = jr.unionByName(extra)
        jr = (
            jr.groupBy("__rid")
            .agg(F.min_by("__reason", "__prio").alias("__reason"))
        )
        ann = ann.join(
            F.broadcast(jr.select(F.col("__rid").alias(id_col),
                                  F.col("__reason").alias("__jr"))),
            id_col, "left",
        )
    else:
        ann = ann.withColumn("__jr", F.lit(None).cast("string"))

    # stage 3: exact dedup among the rows surviving every row-local
    # gate (min-id survivor).  `__pre` collapses the map gates and the
    # join gates into one reason column (map reasons win by coalesce
    # order, matching the old sequential priority: a map-rejected row
    # never entered the join gates' input); the window partitions by
    # (content hash, survivor flag) so rejected rows number among
    # themselves and the rn==1 survivor per hash is picked among
    # EXACTLY the rows the pre-fusion form's gated frame held.  The
    # window shuffle now materializes once inside the fused checkpoint
    # instead of recomputing per consumer (the round-13 posture, made
    # free by the fusion).
    ann = ann.withColumn("__pre", F.coalesce(F.col("__gate"), F.col("__jr")))
    rn = F.row_number().over(
        Window.partitionBy(
            F.sha2(F.col(text_col), 256), F.col("__pre").isNull()
        ).orderBy(F.col(id_col))
    )
    # THE fused materialization: annotations + map gates + join-gate
    # verdicts + exact-dup row numbers in one job (was three serialized
    # waves pre-round-14: annotate ckpt, gate-wave ckpt, per-consumer
    # window recompute)
    import time as _time

    def _mark(name: str, since: float) -> float:
        now = _time.perf_counter()
        if timings is not None:
            timings[name] = round(now - since, 3)
        return now

    _t = _time.perf_counter()
    ann = ann.withColumn("__rn", rn).localCheckpoint()
    _t = _mark("fused_ckpt_s", _t)

    surv = ann.filter(
        F.col("__pre").isNull() & (F.col("__rn") == 1)
    ).drop("__gate", "__jr", "__pre", "__rn")

    # stages 4+5 share ONE shingle substrate: surv is exploded and
    # checkpointed once, and the intra-batch LSH, the corpus probe,
    # and the exact-verify sides all read it - pre-round-13 the same
    # documents were shingle-exploded (and the explode checkpointed)
    # up to three times per micro-batch, and at micro-batch scale the
    # repeated fixed job cost was a measured term of the CurationSink
    # floor

    # lazy checkpoint + count (round-14): the count is the action that
    # materializes the substrate, so ONE job both caches the exploded
    # frame and hands match_batch its broadcast-fit bound - the eager
    # ckpt + match_batch's own count() were two jobs pre-round-14
    exploded_surv = exploded_shingles(
        surv, text_col, id_col, mh_params.get("n", 3)
    ).localCheckpoint(eager=False)
    n_exploded = exploded_surv.count()
    _t = _mark("substrate_s", _t)

    # stage 5 kicked off FIRST (round-14): the corpus probe reads only
    # stage-3 survivors + the shared substrate - it does NOT depend on
    # the stage-4 pair collect - so it materializes on a driver thread
    # CONCURRENTLY with the pair collect below (pre-round-14 the probe
    # lived inside the final attribution job, serialized after the
    # collect; overlapping the two was the largest remaining term of
    # the CurationSink floor).  Probing SURV (a superset of stage-4's
    # kept set) yields the identical reject set: a link's verdict is
    # row-vs-corpus (never affected by which OTHER batch rows stage 4
    # drops), and the min_by priority below attributes any overlap to
    # near_dup_batch exactly as the sequential stage order did.  The
    # checkpointed result is batch-bounded (distinct new_id).
    corpus_fut = None
    pool = None
    if index is not None:
        corpus_rej_plan = (
            index.match_batch(surv, text_col, id_col, near_dup_threshold,
                              exploded=exploded_surv,
                              exploded_rows=n_exploded)
            .select(F.col("new_id").alias("__rid"))
            .distinct()
            .withColumn("__reason", F.lit("near_dup_corpus"))
        )
        import uuid
        from concurrent.futures import ThreadPoolExecutor

        # the probe thread tags its jobs with a cancellable group so a
        # failure on the main path can actually KILL the in-flight
        # checkpoint job (round-14 advice: shutdown(wait=False) alone
        # abandoned it running, where it could overlap a streaming
        # replay of the same batch)
        probe_group = f"kcp-corpus-probe-{uuid.uuid4().hex[:8]}"

        def _probe():
            sc = surv.sparkSession.sparkContext
            sc.setJobGroup(probe_group, "curation corpus probe",
                           interruptOnCancel=True)
            return corpus_rej_plan.localCheckpoint()

        pool = ThreadPoolExecutor(max_workers=1)
        corpus_fut = pool.submit(_probe)

    # stage 4: intra-batch near-dup clusters keep their min-id member.
    # component_labels picks the survivor path: micro-batch pair sets
    # resolve on the driver, so the drop set is a broadcast-hinted
    # LocalRelation LITERAL and both joins below are broadcast - no
    # distributed rounds, no kept checkpoint.  Pair sets above its cap
    # get the star labels, unhinted, and the same joins plan as shuffles.
    pairs = minhash_lsh_dedup_pairs(
        surv, text_col, id_col, threshold=near_dup_threshold,
        exploded=exploded_surv, **mh_params
    ).select("id_a", "id_b")
    spark = surv.sparkSession
    # no checkpoint first: under the cap pairs are consumed exactly once
    # (the capped collect), so a checkpoint would materialize the
    # band-join + verify plan twice per micro-batch for nothing
    try:
        labels = component_labels(pairs)
    except Exception:
        if pool is not None:
            # cancel-then-join so the failed batch leaves no orphaned
            # probe job behind (round-14 advice): cancel() covers the
            # not-yet-started case, cancelJobGroup interrupts a running
            # checkpoint, and shutdown(wait=True) joins the thread
            corpus_fut.cancel()
            spark.sparkContext.cancelJobGroup(probe_group)
            pool.shutdown(wait=True)
        raise
    _t = _mark("pairs_s", _t)
    drops = labels.filter(F.col("node") != F.col("label"))
    exploded_kept = exploded_surv.join(
        drops.select(F.col("node").alias("id")), "id", "left_anti"
    )
    near_rej = drops.select(F.col("node").alias("__rid"),
                            F.lit("near_dup_batch").alias("__reason"))

    # substrate out-param (round-13 floor work): expose the shared
    # shingle frame so a sink caller can pass it to
    # MinHashIndex.add_batch instead of re-shingling the accepted rows
    # in its append phase (one fewer explode+checkpoint job per
    # micro-batch).  (id, sh) rows for KEPT docs at the INDEX's n -
    # exactly the add_batch contract after the caller semi-joins to
    # its accepted ids.
    if substrate is not None:
        substrate["exploded_kept"] = exploded_kept
        substrate["n"] = mh_params.get("n", 3)

    # stage 5 drain: the probe launched above has been materializing
    # while the pair collect ran.  Since it probed SURV, an id can
    # appear in BOTH near-dup sets; attribution keeps the stage order
    # (near_dup_batch first) via coalesce below - each reject frame is
    # distinct-by-id by construction, so two broadcast LEFT joins
    # attach the reasons without a shuffle and can never fan out.
    corpus_rej = None
    if corpus_fut is not None:
        try:
            corpus_rej = corpus_fut.result()
        finally:
            pool.shutdown(wait=False)

    # near_rej carries component_labels' broadcast hint on the driver
    # path only: above the pair cap it is unbounded
    nb = near_rej.withColumnsRenamed({"__reason": "__nb"})
    out = ann.join(nb, ann[id_col] == nb["__rid"], "left").drop("__rid")
    reason_cols = [F.col("__nb")]
    if corpus_rej is not None:
        nc = F.broadcast(
            corpus_rej.withColumnsRenamed({"__reason": "__nc"}))
        out = out.join(
            nc, out[id_col] == nc["__rid"], "left").drop("__rid")
        reason_cols.append(F.col("__nc"))
    out = (
        out.withColumn(
            "reject_reason",
            F.coalesce(
                F.col("__pre"),
                F.when(F.col("__rn") > 1, F.lit("exact_dup")),
                *reason_cols,
            ),
        )
        .drop("__nb", "__nc", "__gate", "__jr", "__pre", "__rn")
    )
    out = hash_split(out, id_col, fractions=split_fractions, salt=split_salt)
    return out.withColumn(
        "split", F.when(F.col("reject_reason").isNull(), F.col("split"))
    )


def curate(batch: DataFrame, **kwargs) -> DataFrame:
    """The accepted rows only (annotated, with their split label)."""
    return (
        curate_annotated(batch, **kwargs)
        .filter(F.col("reject_reason").isNull())
        .drop("reject_reason")
    )


def curation_funnel(annotated: DataFrame) -> DataFrame:
    """Per-stage accounting over :func:`curate_annotated` output:
    (stage, rows), stages = accepted + each reject reason.  Because the
    reasons partition the input, the counts sum to the batch size."""
    return (
        annotated.groupBy(
            F.coalesce(F.col("reject_reason"), F.lit("accepted")).alias("stage")
        )
        .agg(F.count(F.lit(1)).alias("rows"))
        .orderBy("stage")
    )


def curate_and_write(
    batch: DataFrame,
    out_path: str,
    index: MinHashIndex | None = None,
    **kwargs,
) -> dict[str, int]:
    """Run the funnel, write accepted rows as parquet partitioned by
    ``(lang, split)``, and return the funnel counts.  The annotated
    frame is checkpointed once, so the write and the accounting do not
    recompute the dedup joins."""
    annotated = curate_annotated(batch, index=index, **kwargs).localCheckpoint()
    (
        annotated.filter(F.col("reject_reason").isNull())
        .drop("reject_reason")
        .write.mode("overwrite")
        .partitionBy("lang", "split")
        .parquet(out_path)
    )
    return {
        r["stage"]: r["rows"] for r in curation_funnel(annotated).collect()
    }
