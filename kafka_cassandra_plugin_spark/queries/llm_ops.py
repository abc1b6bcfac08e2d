"""LLM-data-pipeline declared queries (SURVEY.md §2.2 G54-G62): text
analysis, dedup (all five tiers: exact / jaccard / minhash-LSH /
simhash / embedding-cosine), similarity search (brute-force, LSH-ANN,
IVF-ANN), deterministic dataset splitting.

Oracle design notes:
- Per-row double arithmetic (quality scores, cosines) is emitted RAW: the
  Spark and DuckDB formulations perform the same IEEE ops in the same
  order, so the doubles are bit-identical - rounding would only add
  round-rule drift.
- The synthetic documents table has no natural duplicates, so dedup
  queries *plant* duplicates in-query (UNION ALL of id-shifted copies /
  first-token-dropped copies) - reproducible in SQL on the same views.
- Hash-based tiers run their portable md5-derived variants here
  (operators.dedup.portable_hash52) so MinHash-LSH and SimHash are fully
  oracle-verified; the xxhash64 variants stay the at-scale defaults,
  pinned by planted-duplicate recall tests in tests/test_llm_ops.py.
- Only the genuinely non-SQL-expressible stay rows-only: approximate
  aggregates, KMeans-based IVF, numpy-hyperplane LSH, media decode.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..catalog import Catalog
from ..operators import dedup as D
from ..operators import similarity as S
from ..operators import text as T
from . import register


# --------------------------------------------------------------------------
# G56: per-document text stats (token counts, punctuation, quality,
# fingerprints) - single projection, no shuffle.
# --------------------------------------------------------------------------
@register(
    "text_stats",
    sql=r"""
    WITH t AS (
      SELECT doc_id, text,
             regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(regexp_extract_all(text, '([A-Za-z]+|[0-9]|[^A-Za-z0-9\s])', 1))
             AS n_bpe_tokens,
           length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
             / length(text) AS punct_ratio,
           (least(len(toks) / 100.0, 1.0)
            + CASE WHEN length(text) / len(toks) >= 3
                       AND length(text) / len(toks) <= 10
                   THEN 1.0 ELSE 0.5 END
            + 1.0 - least(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
                          / length(text) * 5, 1.0)) / 3 AS quality,
           md5(array_to_string(list_sort(list_distinct(
             list_transform(toks, t -> lower(t)))), ' ')) AS fp,
           list_reduce(
             list_transform(toks, t -> cast(length(t) * 131 + ascii(substring(t,1,1)) AS bigint)),
             (a, b) -> (a * 31 + b) % 1000000007) AS rhash
    FROM t
    ORDER BY doc_id
    """,
    tags=("G56", "G39", "G47", "G48"),
    doc="token_count, BPE-ish token estimate, punct ratio, composite "
    "quality score, bag fingerprint (md5 of sorted distinct tokens), "
    "order-sensitive rolling hash - all built-ins, one scan, no shuffle.",
)
def text_stats(spark, sf_dir):
    d = Catalog(spark, sf_dir).documents
    return (
        T.text_profile(d)
        .select(
            "doc_id", "n_tokens", "n_bpe_tokens", "punct_ratio", "quality",
            "fp", "rhash",
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# G58 + language-ID: actual vs predicted language breakdown.
# --------------------------------------------------------------------------
_LANGS = sorted(T.LANG_MARKERS)
_SCORE_SQL = {
    lang: (
        "len(list_filter(list_transform(regexp_split_to_array(trim(text), '\\s+'),"
        f" t -> lower(t)), t -> list_contains({T.LANG_MARKERS[lang]!r}, t)))"
    )
    for lang in _LANGS
}
_G = "greatest(" + ", ".join(f"s_{lang}" for lang in _LANGS) + ")"
_PRED_CASE = (
    "CASE WHEN " + _G + " <= 0 THEN 'und' "
    + " ".join(f"WHEN s_{lang} = {_G} THEN '{lang}'" for lang in _LANGS)
    + " END"
)


@register(
    "lang_breakdown",
    sql=f"""
    WITH scored AS (
      SELECT lang, source,
             {', '.join(f'{_SCORE_SQL[lang]} AS s_{lang}' for lang in _LANGS)}
      FROM documents
    )
    SELECT lang, {_PRED_CASE} AS lang_pred, count(*) AS n
    FROM scored
    GROUP BY lang, lang_pred
    ORDER BY lang, lang_pred
    """,
    tags=("G58", "G20", "G48"),
    doc="n-gram/stopword language-ID heuristic (argmax of per-language "
    "marker hits, lexicographic tie-break, 'und' when no evidence) "
    "crossed against the labeled lang column.",
)
def lang_breakdown(spark, sf_dir):
    d = Catalog(spark, sf_dir).documents
    staged = d.withColumn(
        "__ltoks", F.transform(T.tokens(), F.lower)
    )
    return (
        staged.select("lang", T.lang_id_of(F.col("__ltoks")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "lang_pred")
    )


# --------------------------------------------------------------------------
# G57: term-frequency table (explode -> count -> top-k).
# --------------------------------------------------------------------------
@register(
    "term_frequency_topk",
    sql=r"""
    WITH toks AS (
      SELECT lower(unnest(regexp_split_to_array(trim(text), '\s+'))) AS token
      FROM documents
    )
    SELECT token, count(*) AS tf
    FROM toks
    WHERE length(token) > 0
    GROUP BY token
    ORDER BY tf DESC, token
    LIMIT 100
    """,
    tags=("G57", "G56", "G53", "G32", "G33"),
    doc="Corpus term-frequency top-100: explode(split) (the UDTF-shaped "
    "built-in path) -> partial+final count -> global sort planned as "
    "TakeOrderedAndProject (per-partition heaps + driver merge, never a "
    "full sort). The shuffle carries only (token, partial count) pairs, "
    "never raw text.",
)
def term_frequency_topk(spark, sf_dir):
    d = Catalog(spark, sf_dir).documents
    return (
        d.select(F.explode(T.tokens()).alias("token"))
        .select(F.lower("token").alias("token"))
        .filter(F.length("token") > 0)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.col("tf").desc(), "token")
        .limit(100)
    )


# --------------------------------------------------------------------------
# G54: exact dedup over a corpus with planted duplicates.
# --------------------------------------------------------------------------
_PLANTED_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 3 = 0
"""


@register(
    "dedup_exact",
    sql=f"""
    WITH corpus AS ({_PLANTED_SQL}),
    hashed AS (
      SELECT doc_id, sha256(text) AS content_hash,
             row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
      FROM corpus
    ),
    surv AS (SELECT doc_id, content_hash FROM hashed WHERE rn = 1),
    grp AS (
      SELECT sha256(text) AS content_hash,
             count(*) AS n_dups,
             list_sort(list(doc_id)) AS members
      FROM corpus
      GROUP BY sha256(text)
      HAVING count(*) > 1
    )
    SELECT s.doc_id, s.content_hash,
           coalesce(g.n_dups, 1) AS n_dups,
           array_to_string(coalesce(g.members, [s.doc_id]), ',') AS members_csv
    FROM surv s LEFT JOIN grp g ON s.content_hash = g.content_hash
    ORDER BY s.doc_id
    """,
    tags=("G54", "G47", "G38", "G23"),
    doc="exact_dedup + duplicate_groups in one result: sha256 content "
    "hash, deterministic min-id survivor per hash, each survivor "
    "annotated with its cluster size and sorted member list (serialized "
    "to CSV - canonicalizer-safe), over a corpus with planted exact "
    "duplicates (id-shifted copies of every 3rd doc). One shuffle on the "
    "32-byte hash for each of the two library ops, joined on the hash.",
)
def dedup_exact(spark, sf_dir):
    d = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    planted = d.unionByName(
        d.filter(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    surv = D.exact_dedup(planted, "text", "doc_id").select(
        "doc_id", F.sha2("text", 256).alias("content_hash")
    )
    grp = D.duplicate_groups(planted, "text", "doc_id")
    return (
        surv.join(grp, "content_hash", "left")
        .select(
            "doc_id",
            "content_hash",
            F.coalesce("n_dups", F.lit(1)).alias("n_dups"),
            F.array_join(
                F.transform(
                    F.coalesce(F.col("members"), F.array(F.col("doc_id"))),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("members_csv"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# G55 (exact-math tier): n-gram Jaccard near-dup pairs.
# --------------------------------------------------------------------------
@register(
    "dedup_ngram_jaccard",
    sql=r"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000,
             substring(text, strpos(text, ' ') + 1)
      FROM documents
      WHERE doc_id % 4 = 0 AND strpos(text, ' ') > 0
    ),
    toks AS (
      SELECT doc_id, list_transform(regexp_split_to_array(trim(text), '\s+'),
                                    t -> lower(t)) AS t
      FROM corpus
    ),
    ex AS (
      SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS ord
      FROM toks
    ),
    sh_all AS (
      SELECT DISTINCT doc_id,
             tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS sh
      FROM ex
      WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
      QUALIFY lead(tok, 2) OVER w IS NOT NULL
    ),
    freq_ok AS (
      SELECT sh FROM sh_all GROUP BY sh HAVING count(*) <= 20
    ),
    sh AS (SELECT doc_id, sh FROM sh_all WHERE sh IN (SELECT sh FROM freq_ok)),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    -- MATERIALIZED: pairs is referenced five times (4x in edges + the
    -- final select) and edges seven times (l0..l6); DuckDB inlines
    -- plain CTEs per reference, which re-runs the whole shingle
    -- self-join pipeline each time - measured minutes-vs-seconds at
    -- sf1
    pairs AS MATERIALIZED (
      SELECT id_a, id_b,
             n_common / (sa.n_sh + sb.n_sh - n_common) AS j_raw
      FROM common
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.7
    ),
    edges AS MATERIALIZED (
      -- undirected + self-loops, so min-over-neighbors includes self
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
      UNION
      SELECT id_a, id_a FROM pairs
      UNION
      SELECT id_b, id_b FROM pairs
    ),
    -- fixed-round min-label propagation instead of a recursive
    -- reachability CTE: reach-style path enumeration is quadratic in
    -- component size (a planted large clique would dominate oracle
    -- wall), while each round here is one O(E) join.  Six rounds
    -- label any component whose min-id node is within distance 6 of
    -- every member - this corpus plants components of size <= 4
    -- (diameter <= 3).
    l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM edges),
    l1 AS (SELECT e.u AS node, min(l.lbl) AS lbl FROM edges e
           JOIN l0 l ON l.node = e.v GROUP BY e.u),
    l2 AS (SELECT e.u AS node, min(l.lbl) AS lbl FROM edges e
           JOIN l1 l ON l.node = e.v GROUP BY e.u),
    l3 AS (SELECT e.u AS node, min(l.lbl) AS lbl FROM edges e
           JOIN l2 l ON l.node = e.v GROUP BY e.u),
    l4 AS (SELECT e.u AS node, min(l.lbl) AS lbl FROM edges e
           JOIN l3 l ON l.node = e.v GROUP BY e.u),
    l5 AS (SELECT e.u AS node, min(l.lbl) AS lbl FROM edges e
           JOIN l4 l ON l.node = e.v GROUP BY e.u),
    l6 AS (SELECT e.u AS node, min(l.lbl) AS lbl FROM edges e
           JOIN l5 l ON l.node = e.v GROUP BY e.u),
    labels AS (SELECT node, lbl AS survivor FROM l6)
    SELECT p.id_a, p.id_b, round(p.j_raw, 4) AS jaccard, l.survivor
    FROM pairs p JOIN labels l ON l.node = p.id_a
    ORDER BY id_a, id_b
    """,
    tags=("G55", "G44", "G48"),
    doc="ngram_jaccard_pairs + survivors closure: word-3-gram shingle "
    "sets, pairs meet only via shared shingles (sparse join, never "
    "quadratic), stop-shingles (doc-frequency > 20) dropped before the "
    "join - at 100 TB the cap is what bounds join fanout; jaccard "
    "computed over the capped sets, threshold 0.7. Corpus has planted "
    "near-dups (first-token-dropped copies of every 4th doc). Each pair "
    "carries its connected-component survivor (component_labels: "
    "driver union-find under the pair cap, star rounds above it; "
    "oracle = six unrolled O(E) min-label propagation "
    "rounds, NOT a recursive reachability CTE whose path enumeration "
    "is quadratic in component size) - the pairs->survivors step of "
    "every near-dup pipeline, oracle-checked on components up to size "
    "4 in this corpus. The Spark side joins on xxhash64 shingle keys "
    "(hash_shingles) so every shuffle moves longs, not n-gram strings.",
)
def dedup_ngram_jaccard(spark, sf_dir):
    d = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    perturbed = (
        d.filter((F.col("doc_id") % 4 == 0) & (F.instr("text", " ") > 0))
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
        )
    )
    corpus = d.unionByName(perturbed)
    pairs = D.ngram_jaccard_pairs(
        corpus, "text", "doc_id", n=3, threshold=0.7, max_shingle_freq=20
    ).localCheckpoint()  # pairs feed both the output and the closure
    # every id_a is in a pair, so the pair-node labels cover the join;
    # under MAX_DRIVER_PAIRS they are a broadcast literal and the join
    # below never shuffles the pairs
    labels = D.component_labels(pairs)
    return (
        pairs.join(labels, pairs["id_a"] == labels["node"])
        .select("id_a", "id_b", "jaccard", F.col("label").alias("survivor"))
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# G55 (tier 5): embedding-cosine near-dup over hashing-trick vectors -
# fully SQL-reproducible (md5 buckets), so hash-matched, not rows-only.
# --------------------------------------------------------------------------
@register(
    "dedup_embedding_cosine",
    sql=r"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, substring(text, strpos(text, ' ') + 1)
      FROM documents WHERE doc_id % 4 = 0 AND strpos(text, ' ') > 0
    ),
    toks AS (
      SELECT doc_id,
             unnest(list_transform(regexp_split_to_array(trim(text), '\s+'),
                                   t -> lower(t))) AS tok
      FROM corpus
    ),
    dims AS (
      SELECT doc_id,
             ((strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16
              + (strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1))
             % 64 AS dim,
             count(*)::double AS cnt
      FROM toks GROUP BY doc_id, dim
    ),
    maps AS (
      SELECT doc_id, map(list(dim), list(cnt)) AS m FROM dims GROUP BY doc_id
    ),
    vecs AS (
      SELECT doc_id,
             list_transform(range(0, 64), i -> coalesce(m[i][1], 0.0)) AS v
      FROM maps
    ),
    expl AS (
      SELECT doc_id, unnest(v) AS val, generate_subscripts(v, 1) - 1 AS pos
      FROM vecs
    ),
    ranked AS (
      SELECT doc_id, pos,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY val DESC, pos) AS rn
      FROM expl
    ),
    sig AS (
      SELECT doc_id, array_to_string(list(pos ORDER BY rn), ':') AS blk
      FROM ranked WHERE rn <= 3 GROUP BY doc_id
    ),
    blocked AS (
      SELECT s.doc_id, v.v, s.blk
      FROM sig s JOIN vecs v ON v.doc_id = s.doc_id
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             list_reduce(list_transform(range(1, 65), i -> a.v[i] * b.v[i]),
                         (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(a.v, x -> x * x),
                                 (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(b.v, x -> x * x),
                                   (x, y) -> x + y))) AS cos
      FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, round(cos, 4) AS cosine
    FROM pairs WHERE cos >= 0.99
    ORDER BY id_a, id_b
    """,
    tags=("G55", "G59", "G45", "G48"),
    doc="hashed_token_vectors + embedding_cosine_pairs: the embedding "
    "tier of the dedup suite. Tokens hash to 64 md5 buckets (the "
    "hashing trick - deterministic, model-free, ANSI-SQL-reproducible); "
    "candidates come from an equi-join on each vector's top-3-dimension "
    "signature (never all-pairs; a single-dim block degenerates 100x on "
    "this low-vocab corpus); exact left-fold cosine >= 0.99 verifies. "
    "Same planted near-dup corpus as the jaccard tier "
    "(first-token-dropped copies of every 4th doc).",
)
def dedup_embedding_cosine(spark, sf_dir):
    d = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    perturbed = (
        d.filter((F.col("doc_id") % 4 == 0) & (F.instr("text", " ") > 0))
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
        )
    )
    corpus = d.unionByName(perturbed)
    vecs = D.hashed_token_vectors(corpus, "text", "doc_id", n_dims=64)
    return D.embedding_cosine_pairs(vecs, threshold=0.99).orderBy("id_a", "id_b")


# --------------------------------------------------------------------------
# G55 (scale tier): MinHash-LSH and SimHash - xxhash64-based, rows-only
# oracle; recall pinned by planted-duplicate tests.
# --------------------------------------------------------------------------
@register(
    "dedup_minhash_lsh",
    sql=r"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, substring(text, strpos(text, ' ') + 1)
      FROM documents WHERE doc_id % 4 = 0 AND strpos(text, ' ') > 0
    ),
    toks AS (
      SELECT doc_id, list_transform(regexp_split_to_array(trim(text), '\s+'),
                                    t -> lower(t)) AS t
      FROM corpus
    ),
    ex AS (
      SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS ord
      FROM toks
    ),
    sh_all AS (
      SELECT DISTINCT doc_id,
             tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS sh
      FROM ex
      WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
      QUALIFY lead(tok, 2) OVER w IS NOT NULL
    ),
    base AS (
      SELECT doc_id,
             ('0x' || substr(md5(sh), 1, 13))::BIGINT % 67108864 AS h0
      FROM sh_all
    ),
    minh AS (
      SELECT doc_id, i,
             min(((1 + (i * 2654435761) % 67108858) * h0
                  + (i * 98765431 + 12345) % 67108859) % 67108859) AS mh
      FROM base CROSS JOIN range(64) r(i)
      GROUP BY doc_id, i
    ),
    bands AS (
      SELECT doc_id, i // 4 AS band,
             array_to_string(list(mh ORDER BY i), ':') AS key
      FROM minh GROUP BY doc_id, i // 4
    ),
    cands AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh_all GROUP BY doc_id),
    common AS (
      SELECT c.id_a, c.id_b, count(*) AS nc
      FROM cands c
      JOIN sh_all s1 ON s1.doc_id = c.id_a
      JOIN sh_all s2 ON s2.doc_id = c.id_b AND s2.sh = s1.sh
      GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b, round(nc / (sa.n + sb.n - nc), 4) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE nc / (sa.n + sb.n - nc) >= 0.5
    ORDER BY id_a, id_b
    """,
    tags=("G55",),
    doc="minhash_lsh_dedup_pairs(hash_fn='md5'): 64 MinHashes from a "
    "universal-hash family over the 52-bit md5 base hash (all "
    "arithmetic < 2^52, exact in any engine), 16x4 LSH bands joined on "
    "collision-free concat keys, exact-jaccard verify >= 0.5 over the "
    "planted near-dup corpus. Fully oracle-verified - the xxhash64 "
    "variant stays the at-scale default and its recall-vs-jaccard gate "
    "lives in tests/test_llm_ops.py.",
)
def dedup_minhash_lsh(spark, sf_dir):
    d = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    perturbed = (
        d.filter((F.col("doc_id") % 4 == 0) & (F.instr("text", " ") > 0))
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
        )
    )
    corpus = d.unionByName(perturbed)
    return D.minhash_lsh_dedup_pairs(
        corpus, "text", "doc_id", n=3, num_hashes=64, bands=16, threshold=0.5,
        hash_fn="md5",
    ).orderBy("id_a", "id_b")


@register(
    "dedup_simhash",
    sql=r"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0
    ),
    toks AS (
      SELECT doc_id,
             unnest(list_transform(regexp_split_to_array(trim(text), '\s+'),
                                   t -> lower(t))) AS tok
      FROM corpus
    ),
    h AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 13))::BIGINT AS h
      FROM toks
    ),
    votes AS (
      SELECT doc_id, i,
             sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM h CROSS JOIN range(52) r(i)
      GROUP BY doc_id, i
    ),
    sig AS (
      SELECT doc_id,
             sum(CASE WHEN v > 0 THEN (1::BIGINT << i) ELSE 0 END) AS sh
      FROM votes GROUP BY doc_id
    ),
    chunks AS (
      SELECT doc_id, sh, c, (sh >> (c * 13)) & 8191 AS chunk
      FROM sig CROSS JOIN range(4) rc(c)
    ),
    cands AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
             x.sh AS sa, y.sh AS sb
      FROM chunks x JOIN chunks y
        ON x.c = y.c AND x.chunk = y.chunk AND x.doc_id < y.doc_id
    )
    SELECT id_a, id_b, bit_count(xor(sa, sb)) AS hamming
    FROM cands WHERE bit_count(xor(sa, sb)) <= 3
    ORDER BY id_a, id_b
    """,
    tags=("G55", "G47"),
    doc="simhash_near_pairs(hash_fn='md5'): 52-bit token simhash from "
    "the portable md5 base hash, 4x13-bit chunk blocking (pigeonhole "
    "exactness for hamming<=3), bit_count(xor) verify. Fully "
    "oracle-verified; the 64-bit xxhash64 variant stays the at-scale "
    "default with planted-copy recall in tests.",
)
def dedup_simhash(spark, sf_dir):
    d = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    planted = d.unionByName(
        d.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    return D.simhash_near_pairs(
        planted, "text", "doc_id", max_hamming=3, hash_fn="md5"
    ).orderBy("id_a", "id_b")


# --------------------------------------------------------------------------
# G59/G60: exact cosine top-k (the ANN baseline).
# --------------------------------------------------------------------------
_COS_SQL = """
      list_reduce(list_transform(range(1, len(qv)+1),
                                 i -> cast(qv[i] AS double) * cv[i]),
                  (a, b) -> a + b)
      / (sqrt(list_reduce(list_transform(qv, x -> cast(x AS double) * x),
                          (a, b) -> a + b))
         * sqrt(list_reduce(list_transform(cv, x -> cast(x AS double) * x),
                            (a, b) -> a + b)))
"""


@register(
    "sim_topk_bruteforce",
    sql=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id % 10 = 0 AND vec_id < 2000),
         c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id, {_COS_SQL} AS score
      FROM q CROSS JOIN c
      WHERE query_id != neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, score, rank
    FROM ranked WHERE rank <= 10
    ORDER BY query_id, rank
    """,
    tags=("G59", "G60", "G19", "G34", "G48"),
    doc="brute_force_topk: exact cosine top-10 for a query subset; query "
    "set broadcast against the corpus (corpus never shuffles), per-query "
    "top-k window. Raw double scores - both engines run the identical "
    "left-fold dot/norm, so values match bit-for-bit.",
)
def sim_topk_bruteforce(spark, sf_dir):
    # fixed query batch (vec_id<2000 covers every id at the gated
    # scales, so results there are unchanged): the brute-force baseline
    # stays O(|q| x N) - LINEAR in corpus growth for a pinned serving
    # workload - instead of the O(N^2/10) a corpus-proportional query
    # set gives (measured 2.7 s -> 110 s at 10x, round-13 campaign)
    e = Catalog(spark, sf_dir).embeddings
    queries = e.filter(
        (F.col("vec_id") % 10 == 0) & (F.col("vec_id") < 2000))
    return S.brute_force_topk(e, queries, k=10).orderBy("query_id", "rank")


# --------------------------------------------------------------------------
# G61: approximate NN - LSH and IVF scale paths.  The LSH family follows
# the G55 dedup precedent since round 10: the DECLARED row is the
# md5-portable variant (hash-matched against DuckDB), while the
# corpus-adaptive numpy path below stays the at-scale default, tracked
# every round in bench.py extra_queries (the declared set is capped at
# the driver's 50-query window) and recall-gated in tests.
# --------------------------------------------------------------------------
def sim_lsh_ann(spark, sf_dir):
    """rp_lsh_topk (the AT-SCALE default): 8 random-hyperplane sketch
    tables with hamming-2 multi-probe on the query side, bucket
    equi-join candidates, exact re-rank.  Bit-width is corpus-adaptive
    (adaptive_n_planes: ~32 vectors per expected bucket).  Recall@10 vs
    brute force measured 1.00, gate >= 0.85 in tests.  Not a declared
    query since round 10 (the portable twin took the declared slot);
    benched every round as extra_queries['sim_lsh_ann'].

    Serving batch PINNED to the ``vec_id < 2000`` snapshot (round-14;
    identity at sf0.1 and below, the round-13 declared-row
    convention): the round-14 extras campaign ran this row with a
    corpus-proportional query set (20k queries at sf10) and the
    multi-probe candidate join spilled the disk full - the same
    O(N^2/B) growth trap the declared ANN rows were cured of in
    round 13, closed here the same way."""
    e = Catalog(spark, sf_dir).embeddings
    queries = e.filter(
        (F.col("vec_id") % 10 == 0) & (F.col("vec_id") < 2000))
    planes = S.adaptive_n_planes(_corpus_rows(spark, sf_dir))
    return S.rp_lsh_topk(
        e, queries, dim=64, k=10, n_planes=planes
    ).orderBy("query_id", "rank")


def _rp_portable_sql(dim: int = 64, target_bucket: int = 32,
                     floor: int = 6, cap: int = 16, n_tables: int = 4,
                     probe_hamming: int = 1, k: int = 10,
                     salt: str = "rp") -> str:
    """DuckDB re-derivation of :func:`S.rp_lsh_topk_portable` - the
    round-10 "oracle one ANN row" item, CORPUS-ADAPTIVE since round 15
    (round-14 verdict #6: the fixed 4x6 geometry was the one remaining
    >1.5x-per-unit declared row; its sf10 growth measured 16.09x).

    The Rademacher ±1 planes are md5-derived (S.rademacher_planes) and
    embedded as literal VALUES rows up to the ``cap`` bit-width; the
    ACTIVE width is derived from ``count(*)`` with the same integer
    rule as :func:`S.adaptive_n_planes` (smallest p with
    ``2^p * target_bucket >= max(2, N)``, clamped to [floor, cap]) -
    exact integer arithmetic on both engines, so Spark and DuckDB pick
    the identical geometry at ANY corpus size and the hash-match holds
    at every scale, not just the gated one.  The oracle recomputes
    every sketch bit, every probe key, every candidate pair AND every
    re-rank score; fold-ordered double math keeps scores bit-identical
    (the sim_topk_bruteforce precedent)."""
    planes = S.rademacher_planes(dim, cap, n_tables, salt)
    rows = ",\n      ".join(
        "({t}, {p}, {w}, [{s}]::DOUBLE[])".format(
            t=t, p=p, w=2 ** p,
            s=", ".join(str(x) for x in planes[t][p]))
        for t in range(n_tables) for p in range(cap)
    )
    return f"""
    WITH planes AS (
      SELECT * FROM (VALUES
      {rows}
      ) AS pl(t, p, w, s)
    ),
    nn AS (SELECT count(*) AS n FROM embeddings),
    a AS (
      SELECT greatest({floor}, least({cap}, min(pp)))::INT AS act
      FROM (SELECT unnest(range(0, 33)) AS pp), nn
      WHERE (1::BIGINT << pp) * {target_bucket} >= greatest(2, nn.n)
    ),
    c AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
    q AS (SELECT vec_id AS id, embedding AS v FROM embeddings
          WHERE vec_id % 10 = 0 AND vec_id < 2000),
    cbuckets AS (
      SELECT c.id, pl.t,
             sum(CASE WHEN list_reduce(list_transform(range(1, {dim + 1}),
                          i -> cast(c.v[i] AS double) * pl.s[i]),
                          (a, b) -> a + b) >= 0
                      THEN pl.w ELSE 0 END)::BIGINT AS bucket
      FROM c CROSS JOIN planes pl, a WHERE pl.p < a.act
      GROUP BY c.id, pl.t
    ),
    qbuckets AS (
      SELECT q.id, pl.t,
             sum(CASE WHEN list_reduce(list_transform(range(1, {dim + 1}),
                          i -> cast(q.v[i] AS double) * pl.s[i]),
                          (a, b) -> a + b) >= 0
                      THEN pl.w ELSE 0 END)::BIGINT AS bucket
      FROM q CROSS JOIN planes pl, a WHERE pl.p < a.act
      GROUP BY q.id, pl.t
    ),
    masks AS (
      SELECT m FROM (SELECT unnest(range(0,
               (SELECT 1::BIGINT << act FROM a))) AS m)
      WHERE bit_count(m) <= {probe_hamming}
    ),
    ckeys AS (SELECT id AS neighbor_id,
                     t * (SELECT 1::BIGINT << act FROM a) + bucket AS tb_key
              FROM cbuckets),
    qkeys AS (SELECT id AS query_id,
                     t * (SELECT 1::BIGINT << act FROM a)
                       + xor(bucket, m.m) AS tb_key
              FROM qbuckets CROSS JOIN masks m),
    pairs AS (
      SELECT DISTINCT query_id, neighbor_id
      FROM qkeys JOIN ckeys USING (tb_key)
      WHERE query_id != neighbor_id
    ),
    scored AS (
      SELECT p.query_id, p.neighbor_id, {{cos}} AS score
      FROM pairs p
      JOIN (SELECT id, v AS qv FROM q) qq ON qq.id = p.query_id
      JOIN (SELECT id, v AS cv FROM c) cc ON cc.id = p.neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, score, rank
    FROM ranked WHERE rank <= {k}
    ORDER BY query_id, rank
    """.replace("{cos}", _COS_SQL)


@register(
    "sim_lsh_ann_portable",
    sql=_rp_portable_sql(probe_hamming=2),
    tags=("G61",),
    doc="rp_lsh_topk_portable: the hash-matched ANN row (round-10 "
    "verdict #5), CORPUS-ADAPTIVE since round 15 (round-14 verdict "
    "#6). RP-LSH over 4 tables of Rademacher md5-derived ±1 planes "
    "with hamming-2 multi-probe; the bit-width follows "
    "adaptive_n_planes' integer rule (~32 vectors per expected "
    "bucket, clamped [6,16]), and the DuckDB oracle derives the SAME "
    "width from count(*) before re-computing every sketch bit, probe "
    "key, candidate pair and fold-ordered cosine re-rank - so the "
    "hash-match holds at every scale AND bucket occupancy stays "
    "constant as the corpus grows (the fixed 4x6 geometry this "
    "replaces measured 16.09x per 10x at sf10). Recall@10 vs brute "
    "force stays gated >= 0.85 in tests.",
)
def sim_lsh_ann_portable(spark, sf_dir):
    # pinned query batch (round-13 convention, identity at gated
    # scales); the bit-width now grows with the corpus so candidates
    # per probe stay ~constant - the declared row no longer carries
    # the fixed-geometry O(N^2/B) growth term the round-14 campaign
    # measured at 16.09x per 10x
    e = Catalog(spark, sf_dir).embeddings
    queries = e.filter(
        (F.col("vec_id") % 10 == 0) & (F.col("vec_id") < 2000))
    planes = S.adaptive_n_planes(_corpus_rows(spark, sf_dir))
    return S.rp_lsh_topk_portable(
        e, queries, dim=64, k=10, n_planes=planes, n_tables=4,
        probe_hamming=2
    ).orderBy("query_id", "rank")


_IVF_INDEXES: dict[tuple, "S.IvfIndex"] = {}
_IVF_PORTABLE_ASSIGN: dict[tuple, "DataFrame"] = {}
_CORPUS_ROWS: dict[tuple, int] = {}


def _emb_cache_key(sf_dir: str) -> tuple:
    """Memo key for the embeddings table: (sf_dir, snapshot fingerprint)
    where the fingerprint is the sorted (relpath, size, mtime_ns) of the
    table's files.  A dataset rebuilt or resized at the same path gets a
    new key, so the caches below can never serve a stale row count
    (wrong adaptive geometry) or a stale IVF index - the failure mode of
    keying on the path string alone.  Listing a parquet directory is a
    metadata-only O(files) stat pass, negligible next to any query."""
    import os

    root = os.path.join(sf_dir, "embeddings.parquet")
    entries = []
    if os.path.isfile(root):
        st = os.stat(root)
        entries.append(("", st.st_size, st.st_mtime_ns))
    else:
        for dirpath, _, files in os.walk(root):
            for fname in files:
                p = os.path.join(dirpath, fname)
                st = os.stat(p)
                entries.append(
                    (os.path.relpath(p, root), st.st_size, st.st_mtime_ns)
                )
    return (sf_dir, tuple(sorted(entries)))


def _corpus_rows(spark, sf_dir: str) -> int:
    """Embedding-corpus row count, memoized per dataset snapshot (one
    metadata-only parquet count; sizes the adaptive index geometry)."""
    key = _emb_cache_key(sf_dir)
    n = _CORPUS_ROWS.get(key)
    if n is None:
        n = Catalog(spark, sf_dir).embeddings.count()
        _CORPUS_ROWS[key] = n
    return n


def _cos_sql(a: str, b: str) -> str:
    """The fold-ordered cosine of :data:`_COS_SQL` over arbitrary
    column names (the IVF oracle scores three different vector pairs:
    corpus x centroid, query x centroid, query x candidate)."""
    return _COS_SQL.replace("qv", a).replace("cv", b)


def _dot_sql(a: str, b: str) -> str:
    """Fold-ordered dot alone; combined with per-vector norm columns
    it re-derives the SAME doubles as :func:`_cos_sql` (``d / (na *
    nb)`` with na/nb the identical sqrt-fold values) while evaluating
    each norm once per VECTOR instead of once per pair.  The factoring
    is SQL-ORACLE-ONLY: the Spark side keeps computing per-pair cosine
    via :func:`..operators.similarity.cosine_foldexact_pandas`, whose
    ``dots / (sqrt(na) * sqrt(nb))`` doubles are value-identical to
    this factored form (IEEE-754 product of the same sqrt folds), so
    the hash-match contract holds without a Spark-side mirror."""
    return f"""
      list_reduce(list_transform(range(1, len({a})+1),
                                 i -> cast({a}[i] AS double) * {b}[i]),
                  (a, b) -> a + b)"""


_NORM_SQL = ("sqrt(list_reduce(list_transform(embedding, "
             "x -> cast(x AS double) * x), (a, b) -> a + b))")

_IVF_PORTABLE_SQL = f"""
    WITH cent AS (SELECT vec_id AS cid, embedding AS sv,
                         {_NORM_SQL} AS sn FROM embeddings
                  WHERE vec_id % 125 = 0 AND vec_id < 2000),
    c AS (SELECT vec_id AS neighbor_id, embedding AS nv,
                 {_NORM_SQL} AS cn FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding AS pv,
                 {_NORM_SQL} AS qn FROM embeddings
          WHERE vec_id % 10 = 0 AND vec_id < 2000),
    assign AS (
      SELECT neighbor_id, nv, cn, cid FROM (
        SELECT c.neighbor_id, c.nv, c.cn, cent.cid,
               row_number() OVER (PARTITION BY c.neighbor_id
                                  ORDER BY ({_dot_sql('nv', 'sv')})
                                           / (cn * sn) DESC,
                                           cent.cid) AS arn
        FROM c CROSS JOIN cent) WHERE arn = 1
    ),
    probes AS (
      SELECT query_id, pv, qn, cid FROM (
        SELECT q.query_id, q.pv, q.qn, cent.cid,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY ({_dot_sql('pv', 'sv')})
                                           / (qn * sn) DESC,
                                           cent.cid) AS prn
        FROM q CROSS JOIN cent) WHERE prn <= 10
    ),
    scored AS (
      SELECT p.query_id, a.neighbor_id,
             ({_dot_sql('pv', 'nv')}) / (p.qn * a.cn) AS score
      FROM probes p JOIN assign a USING (cid)
      WHERE p.query_id != a.neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, score, rank
    FROM ranked WHERE rank <= 10
    ORDER BY query_id, rank
    """


@register(
    "sim_ivf_ann",
    sql=_IVF_PORTABLE_SQL,
    tags=("G61",),
    doc="ivf_topk_portable: the hash-matched IVF row (round-13 verdict "
    "#2 - previously rows-only). IVF-flat whose coarse quantizer is the "
    "deterministic 1-in-125 corpus sample (the learned index's "
    "~125-vectors-per-list adaptive geometry as a static SQL predicate; "
    "an iterative KMeans fit cannot ride a static oracle string), "
    "nprobe=10, fold-exact cosine everywhere - the DuckDB oracle "
    "re-derives the cell assignment, the probe set, the candidate "
    "enumeration and every re-rank score bit-for-bit. Cell assignment "
    "is memoized per corpus snapshot (build-once/probe-many, the "
    "_IVF_INDEXES precedent). The LEARNED spherical-KMeans IvfIndex "
    "stays the at-scale default (better-balanced lists): benched every "
    "round as extra_queries['sim_ivf_ann_kmeans'], recall-gated and "
    "pytest-value-oracled (TestIvfTopkOracle).",
)
def sim_ivf_ann(spark, sf_dir):
    # quantizer + query batch pinned to the id<2000 snapshot (the
    # identity at every gated scale - all vec_ids are < 2000 at
    # sf<=0.1, so results/anchors/oracle hashes are unchanged there)
    # while keeping growth LINEAR beyond it: a growing corpus adds
    # per-list candidates, never quantizer cells.  See
    # ivf_topk_portable's sample_cap note for the measured O(N^2)
    # blowup this governs (round-13 sf10 campaign).
    e = Catalog(spark, sf_dir).embeddings
    queries = e.filter(
        (F.col("vec_id") % 10 == 0) & (F.col("vec_id") < 2000))
    key = _emb_cache_key(sf_dir)
    assigned = _IVF_PORTABLE_ASSIGN.get(key)
    if assigned is None:
        cents = e.filter(
            (F.col("vec_id") % 125 == 0) & (F.col("vec_id") < 2000)
        ).select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("cent_vec"),
        )
        assigned = S.ivf_portable_assign(e, cents).localCheckpoint()
        _IVF_PORTABLE_ASSIGN[key] = assigned
    return S.ivf_topk_portable(
        e, queries, k=10, nprobe=10, sample_mod=125, assigned=assigned,
        sample_cap=2000,
    ).orderBy("query_id", "rank")


def sim_ivf_ann_kmeans(spark, sf_dir):
    """IvfIndex.topk (the AT-SCALE default): seeded spherical-KMeans
    coarse quantizer (L2-normalized fit/assignment so the Euclidean
    metric is monotone in cosine), probe 10 lists ranked by the same
    metric, exact re-rank within probed lists.  List count is
    corpus-adaptive (adaptive_nlist: ~125 vectors per list).  The index
    is built once per corpus and memoized (build-once/probe-many; at
    scale the assigned lists are a stored, list-partitioned table -
    IvfIndex.save/load).  Not a declared query since round 13 (the
    portable sample-quantizer twin took the declared slot, the
    sim_lsh_ann precedent); benched every round as
    extra_queries['sim_ivf_ann_kmeans'], recall-gated (0.94 @10) and
    DuckDB-value-oracled in pytest (TestIvfTopkOracle).

    Serving batch PINNED to the ``vec_id < 2000`` snapshot (round-14,
    the sim_lsh_ann note): identity at sf0.1 and below; beyond it the
    row measures corpus growth under a FIXED serving workload - the
    actual production posture."""
    e = Catalog(spark, sf_dir).embeddings
    queries = e.filter(
        (F.col("vec_id") % 10 == 0) & (F.col("vec_id") < 2000))
    key = _emb_cache_key(sf_dir)
    idx = _IVF_INDEXES.get(key)
    if idx is None:
        nlist = S.adaptive_nlist(_corpus_rows(spark, sf_dir))
        idx = S.IvfIndex.build(e, nlist=nlist, seed=42)
        _IVF_INDEXES[key] = idx
    return idx.topk(queries, k=10, nprobe=10).orderBy("query_id", "rank")


# --------------------------------------------------------------------------
# Deterministic dataset splitting (training-data pipeline staple):
# hash-assigned train/val/test that is reproducible across reruns,
# cluster sizes, and engines - randomSplit can't give any of that.
# --------------------------------------------------------------------------
@register(
    "split_assignment",
    sql="""
    WITH b AS (
      SELECT doc_id, lang, n_chars,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
             % 10000 AS bkt
      FROM documents
    ),
    lab AS (
      SELECT lang, n_chars,
             CASE WHEN bkt < 9800 THEN 'train'
                  WHEN bkt < 9900 THEN 'val'
                  WHEN bkt < 10000 THEN 'test'
                  ELSE 'holdout' END AS split
      FROM b
    )
    SELECT split, lang, count(*) AS n_docs,
           round(sum(n_chars) / count(*), 4) AS avg_chars
    FROM lab GROUP BY split, lang
    ORDER BY split, lang
    """,
    tags=("G8", "G20", "G47"),
    doc="hash_split: deterministic train/val/test assignment by "
    "portable-hash bucket of the stable row key (98/1/1). A row's split "
    "is a pure function of (key, salt): reproducible on any cluster or "
    "engine, no leakage across re-ingests, map-stage only (no shuffle, "
    "composes with pushdown). The aggregation here summarizes the "
    "assignment per (split, lang); exact integer sums keep avg_chars "
    "bit-identical.",
)
def split_assignment(spark, sf_dir):
    from ..operators import sampling as SMP

    d = Catalog(spark, sf_dir).documents.select("doc_id", "lang", "n_chars")
    lab = SMP.hash_split(d, "doc_id")
    return (
        lab.groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.sum("n_chars") / F.count("*"), 4).alias("avg_chars"),
        )
        .orderBy("split", "lang")
    )


# --------------------------------------------------------------------------
# Pytest-oracled extras (SURVEY §2.5 D10/D11).  NOT in the declared
# registry: the external driver's correctness window verdicts at most 50
# queries and the registry sits at exactly 50 - registering more would
# push the alphabetically-last declared queries out of their verdict.
# These run through the SAME oracle harness (oracle.compare at sf0.01)
# from tests/test_text_quality.py instead, and appear in bench extras.
# --------------------------------------------------------------------------

REPETITION_SIGNALS_SQL = r"""
    WITH t AS (
      SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS toks,
             list_filter(string_split(text, chr(10)),
                         l -> length(trim(l)) > 0) AS lines
      FROM documents
    ),
    g AS (
      SELECT doc_id, toks, lines, len(toks) AS n,
             list_transform(generate_series(1, len(toks) - 1),
                            i -> array_to_string(toks[i:i+1], ' ')) AS g2,
             list_transform(generate_series(1, len(toks) - 2),
                            i -> array_to_string(toks[i:i+2], ' ')) AS g3,
             list_transform(generate_series(1, len(toks) - 4),
                            i -> array_to_string(toks[i:i+4], ' ')) AS g5
      FROM t
    ),
    sig AS (
      SELECT doc_id, n AS n_tokens,
        CASE WHEN len(lines) > 0
             THEN 1.0 - len(list_distinct(lines)) / CAST(len(lines) AS DOUBLE)
             ELSE 0.0 END AS dup_line_frac,
        CASE WHEN coalesce(list_sum(list_transform(lines, l -> length(l))), 0) > 0
             THEN coalesce(list_sum(list_transform(
                    list_filter(lines,
                      l -> len(list_filter(lines, m -> m = l)) > 1),
                    l -> length(l))), 0)
                  / CAST(list_sum(list_transform(lines, l -> length(l)))
                         AS DOUBLE)
             ELSE 0.0 END AS dup_line_char_frac,
        CASE WHEN len(g2) > 0
             THEN list_max(list_transform(list_distinct(g2),
                    x -> len(list_filter(g2, y -> y = x)))) * 2
                  / CAST(n AS DOUBLE)
             ELSE 0.0 END AS top_2gram_frac,
        CASE WHEN len(g3) > 0
             THEN list_max(list_transform(list_distinct(g3),
                    x -> len(list_filter(g3, y -> y = x)))) * 3
                  / CAST(n AS DOUBLE)
             ELSE 0.0 END AS top_3gram_frac,
        CASE WHEN len(g5) > 0
             THEN len(list_filter(g5,
                    x -> len(list_filter(g5, y -> y = x)) > 1))
                  / CAST(len(g5) AS DOUBLE)
             ELSE 0.0 END AS dup_5gram_frac
      FROM g
    )
    SELECT doc_id, n_tokens, dup_line_frac, dup_line_char_frac,
           top_2gram_frac, top_3gram_frac, dup_5gram_frac,
           (dup_line_frac <= 0.30 AND dup_line_char_frac <= 0.20
            AND top_2gram_frac <= 0.20 AND top_3gram_frac <= 0.18
            AND dup_5gram_frac <= 0.15) AS passes_repetition
    FROM sig
    ORDER BY doc_id
"""


def repetition_signals(spark, sf_dir):
    """Gopher-style repetition quality signals (Rae et al. 2021 A1.1)
    over documents: duplicate-line fraction, duplicate-line char
    fraction, top-2/3-gram token fraction, duplicate-5-gram fraction,
    and the published-threshold pass flag.  Pure map stage - array
    arithmetic over one tokenization per row, no explode, no shuffle."""
    d = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    return (
        T.repetition_profile(d)
        .select(
            "doc_id", "n_tokens", "dup_line_frac", "dup_line_char_frac",
            "top_2gram_frac", "top_3gram_frac", "dup_5gram_frac",
            "passes_repetition",
        )
        .orderBy("doc_id")
    )


DECONTAM_NGRAM13_SQL = r"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 3 != 0
    ),
    bench AS (
      SELECT doc_id + 5000000 AS doc_id,
             substring(text, strpos(text, ' ') + 1) AS text
      FROM documents
      WHERE doc_id % 3 != 0 AND doc_id % 7 = 1 AND strpos(text, ' ') > 0
      UNION ALL
      SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
    ),
    cg AS (
      SELECT doc_id AS corpus_id,
             unnest(list_distinct(list_transform(
               generate_series(1, len(toks) - 12),
               i -> array_to_string(toks[i:i+12], ' ')))) AS g
      FROM (SELECT doc_id,
                   regexp_split_to_array(trim(text), '\s+') AS toks
            FROM corpus)
    ),
    bg AS (
      SELECT doc_id AS bench_id,
             unnest(list_distinct(list_transform(
               generate_series(1, len(toks) - 12),
               i -> array_to_string(toks[i:i+12], ' ')))) AS g
      FROM (SELECT doc_id,
                   regexp_split_to_array(trim(text), '\s+') AS toks
            FROM bench)
    )
    SELECT corpus_id, bench_id, count(*) AS n_shared
    FROM cg JOIN bg USING (g)
    GROUP BY corpus_id, bench_id
    ORDER BY corpus_id, bench_id
"""


def decontam_ngram13(spark, sf_dir):
    """GPT-3/PaLM-style decontamination links: corpus documents sharing
    at least one exact token 13-gram with a benchmark set (planted
    in-query: first-word-dropped copies of every 7th corpus doc, plus
    clean held-out docs).  n_shared counts DISTINCT shared 13-grams per
    (corpus, bench) pair.  Benchmark grams broadcast; corpus side is a
    map-only gram explode."""
    from ..operators import contamination as C

    d = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % 3 != 0)
    planted = (
        corpus.filter((F.col("doc_id") % 7 == 1) & (F.instr("text", " ") > 0))
        .select(
            (F.col("doc_id") + 5_000_000).alias("doc_id"),
            F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
        )
    )
    clean = d.filter(F.col("doc_id") % 3 == 0)
    bench = planted.unionByName(clean)
    return C.ngram_collision_links(corpus, bench, n=13, hash_fn="raw").orderBy(
        "corpus_id", "bench_id"
    )


def _decontam_jaccard_sql(num_hashes: int, band_rows: int) -> str:
    """The decontam-jaccard oracle SQL, parameterized on MinHash
    geometry so the sf1 re-check can run a cheaper family (VERDICT r5
    #6: the 64-hash CROSS JOIN is the DuckDB cost at sf1; a 16-hash /
    8x2-band variant exercises the identical shingle->minhash->band->
    join->exact-verify logic at a quarter of the hash work, with
    candidate recall ~0.9997 at threshold 0.8)."""
    return DECONTAM_JACCARD_SQL_TMPL.replace(
        "{NH}", str(num_hashes)
    ).replace("{BR}", str(band_rows))


DECONTAM_JACCARD_SQL_TMPL = r"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 3 != 0
    ),
    bench AS (
      SELECT doc_id + 5000000 AS doc_id,
             substring(text, strpos(text, ' ') + 1) AS text
      FROM documents
      WHERE doc_id % 3 != 0 AND doc_id % 7 = 1 AND strpos(text, ' ') > 0
      UNION ALL
      SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
    ),
    allds AS (
      SELECT doc_id, text FROM corpus
      UNION ALL SELECT doc_id, text FROM bench
    ),
    toks AS (
      SELECT doc_id, list_transform(regexp_split_to_array(trim(text), '\s+'),
                                    t -> lower(t)) AS t
      FROM allds
    ),
    ex AS (
      SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS ord
      FROM toks
    ),
    sh_all AS (
      SELECT DISTINCT doc_id,
             tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS sh
      FROM ex
      WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
      QUALIFY lead(tok, 2) OVER w IS NOT NULL
    ),
    base AS (
      SELECT doc_id,
             ('0x' || substr(md5(sh), 1, 13))::BIGINT % 67108864 AS h0
      FROM sh_all
    ),
    minh AS (
      SELECT doc_id, i,
             min(((1 + (i * 2654435761) % 67108858) * h0
                  + (i * 98765431 + 12345) % 67108859) % 67108859) AS mh
      FROM base CROSS JOIN range({NH}) r(i)
      GROUP BY doc_id, i
    ),
    bands AS (
      SELECT doc_id, i // {BR} AS band,
             array_to_string(list(mh ORDER BY i), ':') AS key
      FROM minh GROUP BY doc_id, i // {BR}
    ),
    cands AS (
      SELECT DISTINCT x.doc_id AS corpus_id, y.doc_id AS bench_id
      FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key
      WHERE x.doc_id IN (SELECT doc_id FROM corpus)
        AND y.doc_id IN (SELECT doc_id FROM bench)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh_all GROUP BY doc_id),
    common AS (
      SELECT c.corpus_id, c.bench_id, count(*) AS nc
      FROM cands c
      JOIN sh_all s1 ON s1.doc_id = c.corpus_id
      JOIN sh_all s2 ON s2.doc_id = c.bench_id AND s2.sh = s1.sh
      GROUP BY c.corpus_id, c.bench_id
    )
    SELECT corpus_id, bench_id, round(nc / (sa.n + sb.n - nc), 4) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = corpus_id
    JOIN sizes sb ON sb.doc_id = bench_id
    WHERE nc / (sa.n + sb.n - nc) >= 0.8
    ORDER BY corpus_id, bench_id
"""

DECONTAM_JACCARD_SQL = _decontam_jaccard_sql(64, 4)
DECONTAM_JACCARD_SQL_16 = _decontam_jaccard_sql(16, 2)


def decontam_jaccard_16(spark, sf_dir):
    """:func:`decontam_jaccard` under the reduced 16-hash / 8x2-band
    MinHash family - the sf1-budget oracle variant (same shingle, base
    hash, banding, and exact-jaccard verify logic; only the hash-family
    size differs).  Exact verification makes both variants return the
    SAME link set whenever banding recall holds, which is itself the
    property the sf1 run retires risk on."""
    from ..operators import contamination as C

    d = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % 3 != 0)
    planted = (
        corpus.filter((F.col("doc_id") % 7 == 1) & (F.instr("text", " ") > 0))
        .select(
            (F.col("doc_id") + 5_000_000).alias("doc_id"),
            F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
        )
    )
    clean = d.filter(F.col("doc_id") % 3 == 0)
    bench = planted.unionByName(clean)
    return C.contamination_links(
        corpus, bench, threshold=0.8, n=3, num_hashes=16, bands=8,
        hash_fn="md5",
    ).orderBy("corpus_id", "bench_id")


def decontam_jaccard(spark, sf_dir):
    """Jaccard-threshold decontamination links (the D6 operator) under
    the engine-portable md5 MinHash family, fully DuckDB-oracle-checked:
    same planted benchmark construction as decontam_ngram13, banding
    pinned at 16x4 (at threshold 0.8 the S-curve knee sits well below -
    candidate recall ~0.9998 - so the banding itself is deterministic
    evidence, not a recall compromise)."""
    from ..operators import contamination as C

    d = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % 3 != 0)
    planted = (
        corpus.filter((F.col("doc_id") % 7 == 1) & (F.instr("text", " ") > 0))
        .select(
            (F.col("doc_id") + 5_000_000).alias("doc_id"),
            F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
        )
    )
    clean = d.filter(F.col("doc_id") % 3 == 0)
    bench = planted.unionByName(clean)
    return C.contamination_links(
        corpus, bench, threshold=0.8, n=3, num_hashes=64, bands=16,
        hash_fn="md5",
    ).orderBy("corpus_id", "bench_id")


QUALITY_REPORT_SQL = r"""
    WITH t AS (
      SELECT source, lang, text,
             regexp_split_to_array(trim(text), '\s+') AS toks,
             list_filter(string_split(text, chr(10)),
                         l -> length(trim(l)) > 0) AS lines
      FROM documents
    ),
    g AS (
      SELECT source, lang, text, toks, lines, len(toks) AS n,
             list_transform(generate_series(1, len(toks) - 1),
                            i -> array_to_string(toks[i:i+1], ' ')) AS g2,
             list_transform(generate_series(1, len(toks) - 2),
                            i -> array_to_string(toks[i:i+2], ' ')) AS g3,
             list_transform(generate_series(1, len(toks) - 4),
                            i -> array_to_string(toks[i:i+4], ' ')) AS g5
      FROM t
    ),
    sig AS (
      SELECT source, lang, n AS nt,
        (least(n / 100.0, 1.0)
         + CASE WHEN length(text) / n >= 3 AND length(text) / n <= 10
                THEN 1.0 ELSE 0.5 END
         + 1.0 - least(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
                       / length(text) * 5, 1.0)) / 3 AS q,
        ((CASE WHEN len(lines) > 0
               THEN 1.0 - len(list_distinct(lines)) / CAST(len(lines) AS DOUBLE)
               ELSE 0.0 END) <= 0.30
         AND (CASE WHEN coalesce(list_sum(list_transform(lines, l -> length(l))), 0) > 0
               THEN coalesce(list_sum(list_transform(
                      list_filter(lines,
                        l -> len(list_filter(lines, m -> m = l)) > 1),
                      l -> length(l))), 0)
                    / CAST(list_sum(list_transform(lines, l -> length(l)))
                           AS DOUBLE)
               ELSE 0.0 END) <= 0.20
         AND (CASE WHEN len(g2) > 0
               THEN list_max(list_transform(list_distinct(g2),
                      x -> len(list_filter(g2, y -> y = x)))) * 2
                    / CAST(n AS DOUBLE)
               ELSE 0.0 END) <= 0.20
         AND (CASE WHEN len(g3) > 0
               THEN list_max(list_transform(list_distinct(g3),
                      x -> len(list_filter(g3, y -> y = x)))) * 3
                    / CAST(n AS DOUBLE)
               ELSE 0.0 END) <= 0.18
         AND (CASE WHEN len(g5) > 0
               THEN len(list_filter(g5,
                      x -> len(list_filter(g5, y -> y = x)) > 1))
                    / CAST(len(g5) AS DOUBLE)
               ELSE 0.0 END) <= 0.15) AS rep,
        md5(array_to_string(list_sort(list_distinct(
          list_transform(toks, tk -> lower(tk)))), ' ')) AS fp
      FROM g
    )
    SELECT source, lang, count(*) AS n_docs,
           round(sum(nt) / count(*), 4) AS mean_tokens,
           round(sum(CASE WHEN q >= 0.5 THEN 1 ELSE 0 END) / count(*), 4)
             AS frac_quality_pass,
           round(sum(CASE WHEN rep THEN 1 ELSE 0 END) / count(*), 4)
             AS frac_repetition_pass,
           round(count(DISTINCT fp) / count(*), 4) AS fp_distinct_ratio
    FROM sig
    GROUP BY source, lang
    ORDER BY source, lang
"""


def quality_report_by_group(spark, sf_dir):
    """Per-(source, lang) corpus quality dashboard (the oracle-checked
    projection of :func:`.text.quality_report`): doc counts, mean token
    count, quality/repetition gate pass rates, fingerprint distinct
    ratio.  Exact-integer-sum ratios only - the mean_quality double-sum
    column is excluded here because float summation order is not
    reproducible across engines (the repo's exact-sums oracle
    convention)."""
    d = Catalog(spark, sf_dir).documents
    return T.quality_report(d).select(
        "source", "lang", "n_docs", "mean_tokens", "frac_quality_pass",
        "frac_repetition_pass", "fp_distinct_ratio",
    )


PII_REDACTION_SQL = r"""
    WITH planted AS (
      SELECT doc_id,
        text
        || CASE WHEN doc_id % 5 = 0
                THEN ' Contact user' || CAST(doc_id AS VARCHAR)
                     || '@example.com now' ELSE '' END
        || CASE WHEN doc_id % 7 = 0
                THEN ' SSN 123-45-6789 on file' ELSE '' END
        || CASE WHEN doc_id % 11 = 0
                THEN ' call 555-123-4567 or (415) 555-0199' ELSE '' END
        || CASE WHEN doc_id % 13 = 0
                THEN ' from 10.0.0.1 via https://example.org/a?b=1'
                ELSE '' END
        || CASE WHEN doc_id % 17 = 0
                THEN ' card 4111-1111-1111-1111 ok' ELSE '' END AS text
      FROM documents
    ),
    counted AS (
      SELECT doc_id, text,
        len(regexp_extract_all(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', 0)) AS n_email,
        len(regexp_extract_all(text,
          '(?:\+?\d{1,2}[-. ])?(?:\(\d{3}\)|\d{3})[-. ]\d{3}[-. ]\d{4}\b',
          0)) AS n_phone,
        len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b', 0)) AS n_ssn,
        len(regexp_extract_all(text,
          '\b(?:\d{4}[- ]){3}\d{4}\b', 0)) AS n_cc,
        len(regexp_extract_all(text,
          '\b(?:\d{1,3}\.){3}\d{1,3}\b', 0)) AS n_ipv4,
        len(regexp_extract_all(text, 'https?://[^\s]+', 0)) AS n_url
      FROM planted
    )
    SELECT doc_id, n_email, n_phone, n_ssn, n_cc, n_ipv4, n_url,
           n_email + n_phone + n_ssn + n_cc + n_ipv4 + n_url AS pii_total,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(text,
               'https?://[^\s]+', '[URL]', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '[EMAIL]', 'g'),
               '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g'),
               '\b(?:\d{4}[- ]){3}\d{4}\b', '[CC]', 'g'),
               '(?:\+?\d{1,2}[-. ])?(?:\(\d{3}\)|\d{3})[-. ]\d{3}[-. ]\d{4}\b',
               '[PHONE]', 'g'),
               '\b(?:\d{1,3}\.){3}\d{1,3}\b', '[IPV4]', 'g') AS redacted
    FROM counted
    WHERE pii_total > 0
    ORDER BY doc_id
"""


def pii_redaction(spark, sf_dir):
    """PII detection + redaction (SURVEY §2.5 D12) over documents with
    deterministically planted identifiers (the synthetic corpus carries
    none): per-type regex match counts on the original text plus the
    sequentially redacted text, rows restricted to documents that carry
    any PII.  Counts are per-type independent (order-free, both
    engines); redaction applies :data:`.pii.REDACTION_ORDER`.  Pure map
    stage - regex built-ins only, zero Exchange (plan-gated in
    tests/test_pii.py)."""
    from ..operators import pii as P

    d = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    planted = d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.lit(" Contact user"),
                         F.col("doc_id").cast("string"),
                         F.lit("@example.com now")),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0,
                   F.lit(" SSN 123-45-6789 on file")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0,
                   F.lit(" call 555-123-4567 or (415) 555-0199"))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 13 == 0,
                   F.lit(" from 10.0.0.1 via https://example.org/a?b=1"))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 17 == 0,
                   F.lit(" card 4111-1111-1111-1111 ok")).otherwise(F.lit("")),
        ),
    )
    return (
        P.pii_profile(planted)
        .withColumn("redacted", P.redact())
        .filter(F.col("pii_total") > 0)
        .select("doc_id", "n_email", "n_phone", "n_ssn", "n_cc", "n_ipv4",
                "n_url", "pii_total", "redacted")
        .orderBy("doc_id")
    )


SAMPLE_PER_GROUP_SQL = r"""
    SELECT lang, take_rank, doc_id FROM (
      SELECT lang, doc_id,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('s5' || CAST(doc_id AS VARCHAR)),
                        CAST(doc_id AS VARCHAR)) AS take_rank
      FROM documents)
    WHERE take_rank <= 7
    ORDER BY lang, take_rank
"""


def sample_per_group(spark, sf_dir):
    """Exact deterministic per-stratum selection (SURVEY §2.5 D14):
    exactly min(7, |lang|) documents per language, membership and rank
    pure functions of (doc_id, salt) via portable md5 ordering.  One
    hash shuffle on lang with the rank predicate pushed into the
    shuffle (WindowGroupLimit, plan-gated in tests)."""
    from ..operators.sampling import take_per_group

    d = Catalog(spark, sf_dir).documents.select("doc_id", "lang")
    return (
        take_per_group(d, "doc_id", "lang", k=7, salt="s5")
        .select("lang", "take_rank", "doc_id")
        .orderBy("lang", "take_rank")
    )


CHUNK_DOCUMENTS_SQL = r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    p AS (
      SELECT doc_id, toks,
             CASE WHEN len(toks) > 0
                  THEN greatest(1, CAST(ceil((len(toks) - 8) / 32.0) AS INT))
                  ELSE 0 END AS nc
      FROM t
    ),
    c AS (
      SELECT doc_id, toks,
             unnest(generate_series(0, nc - 1)) AS chunk_idx
      FROM p WHERE nc > 0
    )
    SELECT doc_id,
           CAST(chunk_idx AS BIGINT) AS chunk_idx,
           array_to_string(toks[chunk_idx * 32 + 1 : chunk_idx * 32 + 40],
                           ' ') AS chunk_text,
           CAST(len(toks[chunk_idx * 32 + 1 : chunk_idx * 32 + 40])
                AS BIGINT) AS n_tokens
    FROM c
    ORDER BY doc_id, chunk_idx
"""


DEDUP_SUBSTRING_SQL = r"""
    WITH toks0 AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\s+'),
                         x -> x <> '') AS t
      FROM documents
    ),
    corpus AS (
      SELECT doc_id, t FROM toks0
      UNION ALL
      SELECT doc_id + 2000000,
             list_concat(t[1:25], ['uq' || doc_id])
      FROM toks0 WHERE doc_id % 5 = 0 AND len(t) >= 25
    ),
    starts AS (
      SELECT doc_id, t, unnest(generate_series(1, len(t) - 19)) AS gs
      FROM corpus WHERE len(t) >= 20
    ),
    win AS (
      SELECT doc_id, gs - 1 AS start,
             array_to_string(t[gs:gs+19], ' ') AS gram
      FROM starts
    ),
    dup AS (
      SELECT doc_id, start,
             count(*) OVER (PARTITION BY gram) AS cnt,
             row_number() OVER (PARTITION BY gram
                                ORDER BY doc_id, start) AS rn
      FROM win
    ),
    expand AS (
      SELECT doc_id, start, unnest(generate_series(0, 19)) AS j
      FROM dup WHERE cnt >= 2 AND rn > 1
    ),
    covered AS (
      SELECT DISTINCT doc_id, start + j AS pos FROM expand
    ),
    isl AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id
                                      ORDER BY pos) AS grp
      FROM covered
    )
    SELECT doc_id, min(pos) AS span_start, max(pos) + 1 AS span_end
    FROM isl GROUP BY doc_id, grp
    ORDER BY doc_id, span_start
"""


def dedup_substring_spans(spark, sf_dir):
    """The D20 declared-shape query (Lee et al. 2022 exact substring
    dedup): documents plus planted quoted passages (every 5th doc's
    25-token prefix re-appears under a fresh id with a unique tail),
    duplicated spans at n=20 under the raw (oracle-portable) window
    key - the xxhash64 twin is the bench row."""
    from ..operators.substring import duplicated_ngram_spans

    d = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    toks = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != F.lit("")
    )
    with_t = d.select("doc_id", toks.alias("t"))
    planted = with_t.filter(
        (F.col("doc_id") % 5 == 0) & (F.size("t") >= 25)
    ).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(
            F.array_join(F.slice("t", 1, 25), " "),
            F.lit(" uq"), F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    corpus = d.unionByName(planted)
    return duplicated_ngram_spans(
        corpus, n=20, hash_fn="raw"
    ).orderBy("doc_id", "span_start")


DEDUP_LINES_SQL = r"""
    WITH corpus AS (
      SELECT doc_id,
             'shared header line' || chr(10) || text || chr(10)
             || 'footer ' || (doc_id % 10) AS text
      FROM documents
    ),
    lines AS (
      SELECT doc_id,
             generate_subscripts(string_split(text, chr(10)), 1) - 1
               AS line_no,
             unnest(string_split(text, chr(10))) AS line
      FROM corpus
    ),
    content AS (
      SELECT doc_id, line_no, line,
             regexp_replace(lower(trim(line)), '[0-9]', '0', 'g') AS key
      FROM lines WHERE trim(line) <> ''
    ),
    dup AS (
      SELECT doc_id, line_no,
             count(*) OVER (PARTITION BY key) AS cnt,
             row_number() OVER (PARTITION BY key
                                ORDER BY doc_id, line_no) AS rn
      FROM content
    ),
    dropped AS (
      SELECT doc_id, line_no FROM dup WHERE cnt >= 2 AND rn > 1
    ),
    kept AS (
      SELECT l.doc_id, l.line_no, l.line
      FROM lines l ANTI JOIN dropped d
        ON l.doc_id = d.doc_id AND l.line_no = d.line_no
    ),
    rebuilt AS (
      SELECT doc_id,
             array_to_string(list(line ORDER BY line_no), chr(10)) AS text
      FROM kept GROUP BY doc_id
    )
    -- fully-boilerplate documents keep their row with text='' (the
    -- engine contract: dedup_lines never drops rows), so rebuild joins
    -- back to the corpus rather than grouping kept alone
    SELECT c.doc_id, coalesce(r.text, '') AS text
    FROM corpus c LEFT JOIN rebuilt r ON c.doc_id = r.doc_id
    ORDER BY c.doc_id
"""


def dedup_lines_boilerplate(spark, sf_dir):
    """The D21 declared-shape query (CCNet line dedup): every document
    gains a corpus-shared header and a footer shared by its doc_id%10
    class; duplicated lines drop (canonical copy survives) under the
    raw (oracle-portable) key - the xxhash64 twin is the bench row."""
    from ..operators.substring import dedup_lines

    d = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    corpus = d.select(
        "doc_id",
        F.concat(
            F.lit("shared header line\n"), F.col("text"),
            F.lit("\nfooter "), (F.col("doc_id") % 10).cast("string"),
        ).alias("text"),
    )
    return dedup_lines(corpus, hash_fn="raw").orderBy("doc_id")


SEMANTIC_DEDUP_SQL = r"""
    WITH corpus AS (
      SELECT vec_id AS id, embedding AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000, embedding FROM embeddings
      WHERE vec_id % 10 = 0
    ),
    cells AS (
      SELECT c.id, c.v, s.list_id
      FROM corpus c JOIN sem_cells s ON s.id = c.id
    ),
    sized AS (
      SELECT id, v, list_id,
             count(*) OVER (PARTITION BY list_id) AS cn
      FROM cells
    ),
    kept AS (SELECT id, v, list_id FROM sized WHERE cn <= 100000),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b,
             list_reduce(list_transform(range(1, len(a.v)+1),
                                        i -> cast(a.v[i] AS double) * b.v[i]),
                         (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(a.v,
                                                x -> cast(x AS double) * x),
                                 (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(b.v,
                                                  x -> cast(x AS double) * x),
                                   (x, y) -> x + y))) AS cos
      FROM kept a JOIN kept b ON a.list_id = b.list_id AND a.id < b.id
    )
    SELECT id_a, id_b, round(cos, 4) AS cosine
    FROM pairs WHERE cos >= 0.99
    ORDER BY id_a, id_b
"""


def semantic_dedup_oracle(spark, sf_dir, con, threshold: float = 0.99,
                          seed: int = 42):
    """The D16 (SemDeDup cluster-blocked semantic dedup) oracle pair:
    returns ``(spark_df, sql)`` after registering the Spark-computed
    IVF cell assignment as the DuckDB table ``sem_cells``.

    Split of responsibility (same philosophy as the ANN rows): the
    KMeans quantizer fit is NOT SQL-expressible - its quality is gated
    by recall/property tests - but everything downstream of the
    assignment IS: DuckDB re-derives the planted-copy corpus, joins the
    (id, list_id) literal table, re-applies the max_cluster_size cap,
    enumerates within-cell pairs, and recomputes the EXACT left-fold
    double cosine over the raw embeddings (bit-identical to the
    engine's :func:`..operators.similarity.cosine`, like
    ``sim_topk_bruteforce``).  A blocking bug, a pair-enumeration bug,
    or a cosine drift all hash-mismatch.  The exported assignment is
    (id, list_id) only - corpus-row count, driver-side, oracle/test
    path exclusively."""
    from ..operators.dedup import semantic_dedup_pairs
    from ..operators.similarity import IvfIndex, adaptive_nlist

    e = Catalog(spark, sf_dir).embeddings.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )
    corpus = e.unionByName(
        e.filter(F.col("id") % 10 == 0).select(
            (F.col("id") + 1_000_000).alias("id"), "vec"
        )
    )
    idx = IvfIndex.build(
        corpus.select(F.col("id").alias("vec_id"),
                      F.col("vec").alias("embedding")),
        nlist=adaptive_nlist(corpus.count()), seed=seed,
    )
    cells = idx.assigned.select(
        F.col("neighbor_id").alias("id"), "list_id"
    ).toPandas()
    con.register("sem_cells", cells)
    df = semantic_dedup_pairs(
        corpus, threshold=threshold, index=idx
    ).orderBy("id_a", "id_b")
    return df, SEMANTIC_DEDUP_SQL


IVF_TOPK_SQL = r"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE {qpred}
    ),
    cand AS (
      SELECT p.query_id, c.neighbor_id
      FROM ivf_probes p JOIN ivf_cells c ON c.list_id = p.list_id
      WHERE c.neighbor_id <> p.query_id
    ),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id, {cos} AS score
      FROM cand
      JOIN q ON q.query_id = cand.query_id
      JOIN (SELECT vec_id, embedding AS cv FROM embeddings) e
        ON e.vec_id = cand.neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, score, rank
    FROM ranked WHERE rank <= {k}
    ORDER BY query_id, rank
""".replace("{cos}", _COS_SQL)


def sim_ivf_oracle(spark, sf_dir, con, nlist: int = 16, seed: int = 42,
                   nprobe: int = 10, k: int = 10):
    """The G61/D4 (IVF top-k) oracle pair: ``(spark_df, sql)`` after
    registering the Spark-computed cell assignment (``ivf_cells``) and
    probe choice (``ivf_probes``) as DuckDB literal tables.

    Same split of responsibility as :func:`semantic_dedup_oracle`: the
    KMeans fit and the centroid-distance probe ranking are NOT
    SQL-expressible (iterative fit; BLAS matmul ordering) - they stay
    recall/property-gated - but everything downstream IS: DuckDB
    re-derives the candidate enumeration (probes x cells equi-join,
    self-exclusion), the fold-exact cosine re-rank over the raw
    embeddings (bit-identical to IvfIndex.topk's
    cosine_foldexact_pandas kernel) and the deterministic top-k
    ranking.  A cell-join bug, a lost candidate, a kernel drift or a
    tie-break change all hash-mismatch.  Exported tables are
    corpus-row- and Q x nprobe-sized - oracle/test path only.

    The probe lists are materialized ONCE and fed both to the DuckDB
    registration and back into :meth:`IvfIndex.topk` (``probes=``):
    the BLAS probe ranking's per-row summation order can vary with
    Arrow batch composition, so a near-tie centroid distance could
    rank lists differently across two evaluations - a single
    materialization removes that flake class entirely.  ``k`` and the
    query predicate are formatted into the SQL so the two definitions
    cannot silently diverge."""
    from ..operators.similarity import IvfIndex

    qpred = "vec_id % 10 = 0"
    e = Catalog(spark, sf_dir).embeddings
    queries = e.filter(F.expr(qpred))
    idx = IvfIndex.build(e, nlist=nlist, seed=seed)
    con.register(
        "ivf_cells",
        idx.assigned.select("neighbor_id", "list_id").toPandas(),
    )
    q_named = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    probes_pd = (
        idx._probe_lists(q_named, nprobe)
        .select("query_id", "list_id").toPandas()
    )
    con.register("ivf_probes", probes_pd)
    probes_df = spark.createDataFrame(probes_pd)
    df = idx.topk(queries, k=k, nprobe=nprobe, probes=probes_df).orderBy(
        "query_id", "rank"
    )
    sql = IVF_TOPK_SQL.replace("{qpred}", qpred).replace("{k}", str(int(k)))
    return df, sql


PQ_TOPK_SQL = r"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding FROM embeddings WHERE {qpred}
    ),
    qn AS (
      SELECT query_id,
             list_transform(embedding,
                            x -> cast(x AS double)
                                 / sqrt(list_reduce(
                                     list_transform(embedding,
                                                    y -> cast(y AS double) * y),
                                     (a, b) -> a + b))) AS nv
      FROM q
    ),
    lut AS (
      SELECT qn.query_id, cb.subspace, cb.code,
             list_reduce(
               list_transform(range(1, {subdim} + 1),
                              i -> qn.nv[cb.subspace * {subdim} + i]
                                   * cb.centroid[i]),
               (a, b) -> a + b) AS ip
      FROM qn CROSS JOIN pq_codebook cb
    ),
    ce AS (
      SELECT c.vec_id AS neighbor_id, s.subspace,
             c.codes[s.subspace + 1] AS code
      FROM pq_codes c
      CROSS JOIN (SELECT unnest(range(0, {m})) AS subspace) s
    ),
    adc AS (
      SELECT l.query_id, ce.neighbor_id, sum(l.ip) AS adc_score
      FROM ce JOIN lut l ON l.subspace = ce.subspace AND l.code = ce.code
      WHERE ce.neighbor_id <> l.query_id
      GROUP BY l.query_id, ce.neighbor_id
    ),
    short AS (
      SELECT query_id, neighbor_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY round(adc_score, 6) DESC,
                                         neighbor_id) AS srn
      FROM adc
    ),
    scored AS (
      SELECT s.query_id, s.neighbor_id, {cos} AS score
      FROM short s
      JOIN (SELECT vec_id, embedding AS qv FROM embeddings) qe
        ON qe.vec_id = s.query_id
      JOIN (SELECT vec_id, embedding AS cv FROM embeddings) e
        ON e.vec_id = s.neighbor_id
      WHERE s.srn <= {r}
    ),
    ranked AS (
      SELECT query_id, neighbor_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, score, rank
    FROM ranked WHERE rank <= {k}
    ORDER BY query_id, rank
""".replace("{cos}", _COS_SQL)


def sim_pq_oracle(spark, sf_dir, con, m: int = 8, n_codes: int = 64,
                  shortlist: int = 100, k: int = 10, seed: int = 42):
    """The D5 (PQ/ADC shortlist-then-rerank) oracle pair: ``(spark_df,
    sql)`` after registering the learned codebook (``pq_codebook``) and
    the corpus codes (``pq_codes``) as DuckDB literal tables - round-12
    verdict #5, converting the last recall-only ANN tier to
    value-verified.

    Responsibility split, same as :func:`sim_ivf_oracle`: the Lloyd
    codebook fit and the encode argmin are NOT SQL-expressible
    (iterative fit; BLAS ordering) - they stay recall-gated
    (tests/test_quantization.py) - but everything downstream IS: DuckDB
    independently re-derives the per-query LUT (normalized-query
    subvector x centroid inner products from the literal codebook), the
    ADC score of every candidate (m lookups + sum, self-excluded), the
    top-``shortlist`` cut, the exact fold-cosine re-rank over the raw
    embeddings, and the deterministic top-k.  A LUT indexing bug, a
    dropped candidate, a chunked-merge fault in
    :meth:`~..operators.quantization.PqCodebook.adc_shortlist` or a
    tie-break drift all hash-mismatch.

    Two flake classes are closed by construction: the corpus codes are
    materialized ONCE and fed to both engines (encode reruns could
    tie-break argmin differently), and the shortlist cut ranks on
    ``round(adc_score, 6)`` in BOTH engines (the BM25 oracle's
    protocol) because numpy's pairwise sums and DuckDB's fold sums
    differ in the last ulps.  The final reported score is the exact
    interpreted cosine, bit-identical across engines by the
    sim_topk_bruteforce precedent."""
    from ..operators.quantization import PqCodebook, _exact_rerank

    qpred = "vec_id % 10 = 0"
    e = Catalog(spark, sf_dir).embeddings
    dim = len(e.select("embedding").first()[0])
    queries = e.filter(F.expr(qpred))
    cb = PqCodebook.fit(e, dim, m=m, k=n_codes, seed=seed)
    import pandas as pd

    con.register("pq_codebook", pd.DataFrame({
        "subspace": [j for j in range(cb.m) for _ in range(cb.k)],
        "code": [c for _ in range(cb.m) for c in range(cb.k)],
        "centroid": [[float(x) for x in cb.centroids[j, c]]
                     for j in range(cb.m) for c in range(cb.k)],
    }))
    codes_pd = cb.encode(e).toPandas()
    codes_pd["codes"] = codes_pd["codes"].apply(
        lambda a: [int(x) for x in a])
    con.register("pq_codes", codes_pd.rename(columns={"id": "vec_id"}))
    codes_df = spark.createDataFrame(codes_pd)
    short = cb.adc_shortlist(codes_df, queries, r=shortlist,
                             rank_rounding=6)
    c = e.select(F.col("vec_id").alias("neighbor_id"),
                 F.col("embedding").alias("c_vec"))
    qn = queries.select(F.col("vec_id").alias("query_id"),
                        F.col("embedding").alias("q_vec"))
    df = _exact_rerank(short, c, qn, k).orderBy("query_id", "rank")
    sql = (
        PQ_TOPK_SQL.replace("{qpred}", qpred)
        .replace("{subdim}", str(dim // m))
        .replace("{m}", str(int(m)))
        .replace("{r}", str(int(shortlist)))
        .replace("{k}", str(int(k)))
    )
    return df, sql


def chunk_docs(spark, sf_dir):
    """Token-window document chunking (SURVEY §2.5 D17): 40-token
    windows with 8 tokens of overlap (stride 32) over documents — the
    pack_sequences bridge for oversize docs.  Pure map stage: tokenize
    once, literal start arithmetic, slice+join, one posexplode; zero
    Exchange (plan-gated in tests)."""
    from ..operators.packing import chunk_documents

    d = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    return chunk_documents(d, max_tokens=40, overlap=8).orderBy(
        "doc_id", "chunk_idx"
    )


# --------------------------------------------------------------------------
# D22: BM25 top-k retrieval
# --------------------------------------------------------------------------

BM25_TOPK_SQL = r"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                         x -> x <> '') AS t
      FROM documents
    ),
    exploded AS (
      SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM tok
    ),
    postings AS (
      SELECT doc_id, term, count(*) AS tf, first(dl) AS dl
      FROM exploded GROUP BY doc_id, term
    ),
    docfreq AS (SELECT term, count(*) AS df FROM postings GROUP BY term),
    stats AS (SELECT count(*) AS n_docs, avg(len(t)) AS avgdl FROM tok),
    qterms AS (
      SELECT query_id, term, count(*) AS qtf FROM (
        SELECT doc_id AS query_id, unnest(t[1:6]) AS term
        FROM tok WHERE doc_id % 97 = 3
      ) GROUP BY query_id, term
    ),
    idf AS (
      SELECT d.term,
             ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5)) AS idf,
             s.avgdl
      FROM docfreq d, stats s
      WHERE d.term IN (SELECT DISTINCT term FROM qterms)
    ),
    contrib AS (
      SELECT q.query_id, p.doc_id,
             q.qtf * i.idf * p.tf * 2.2
               / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / i.avgdl)) AS part
      FROM postings p
      JOIN qterms q ON p.term = q.term
      JOIN idf i ON p.term = i.term
    ),
    scored AS (
      SELECT query_id, doc_id, sum(part) AS score
      FROM contrib GROUP BY query_id, doc_id
    ),
    ranked AS (
      SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY round(score, 6) DESC, doc_id)
               AS rank
      FROM scored
    )
    SELECT query_id, doc_id, round(score, 4) AS score, rank
    FROM ranked WHERE rank <= 10
    ORDER BY query_id, rank
"""


def bm25_search(spark, sf_dir):
    """The D22 declared-shape query: every ``doc_id % 97 == 3`` document
    contributes a query (its first 6 tokens), scored BM25 (k1=1.2,
    b=0.75, Lucene idf) against the full corpus, top-10 per query under
    the raw (oracle-portable) term key - the xxhash64 twin is the bench
    row.  Rank ties break on (round(score,6) DESC, doc_id) in both
    engines; the reported score pre-rounds to 4 (float-repr protocol)."""
    from ..operators.retrieval import bm25_topk

    d = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
        lambda t: t != F.lit(""),
    )
    queries = d.filter(F.col("doc_id") % 97 == 3).select(
        F.col("doc_id").alias("query_id"),
        F.array_join(F.slice(toks, 1, 6), " ").alias("text"),
    )
    out = bm25_topk(d, queries, k=10, hash_fn="raw")
    return out.select(
        "query_id", "doc_id", F.round("score", 4).alias("score"), "rank"
    ).orderBy("query_id", "rank")


# --------------------------------------------------------------------------
# D23: DSIR importance-resampled selection
# --------------------------------------------------------------------------

DSIR_SELECT_SQL = r"""
    WITH tok AS (
      SELECT doc_id, source,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                         x -> x <> '') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, source, unnest(t) AS gram FROM tok
      UNION ALL
      SELECT doc_id, source,
             unnest(list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i+1])) AS gram
      FROM tok
    ),
    occ AS (
      SELECT doc_id, source,
             ('0x' || substr(md5(gram), 1, 13))::BIGINT % 10000 AS bucket
      FROM grams
    ),
    tdist AS (
      SELECT bucket, count(*) AS cnt FROM occ WHERE source = 'src1'
      GROUP BY bucket
    ),
    rdist AS (SELECT bucket, count(*) AS cnt FROM occ GROUP BY bucket),
    tot AS (
      SELECT (SELECT coalesce(sum(cnt), 0) FROM tdist) AS ttot,
             (SELECT coalesce(sum(cnt), 0) FROM rdist) AS rtot
    ),
    ratio AS (
      SELECT r.bucket,
             ln((coalesce(t.cnt, 0) + 1.0) / (x.ttot + 10000.0))
               - ln((r.cnt + 1.0) / (x.rtot + 10000.0)) AS logr
      FROM rdist r LEFT JOIN tdist t ON r.bucket = t.bucket, tot x
    ),
    weighted AS (
      SELECT o.doc_id, sum(ra.logr) AS logw
      FROM occ o JOIN ratio ra ON o.bucket = ra.bucket
      GROUP BY o.doc_id
    ),
    keyed AS (
      SELECT d.doc_id, d.lang, d.source,
             coalesce(w.logw, 0.0) AS logw,
             coalesce(w.logw, 0.0)
               - ln(-ln((('0x' || substr(md5(d.doc_id::VARCHAR || ':42'),
                                         1, 13))::BIGINT + 1.0)
                        / (4503599627370496.0 + 2.0))) AS gumbel_key
      FROM documents d LEFT JOIN weighted w ON d.doc_id = w.doc_id
    )
    SELECT doc_id, lang, source,
           round(logw, 4) AS logw, round(gumbel_key, 4) AS gumbel_key
    FROM keyed
    ORDER BY keyed.gumbel_key DESC, doc_id
    LIMIT 200
"""


def dsir_selection(spark, sf_dir):
    """The D23 declared-shape query (DSIR, arXiv:2302.03169): target =
    the ``source = 'src1'`` slice, raw = the whole documents table,
    hashed unigram+bigram buckets (B=10,000, portable md5 hash - the
    xxhash64 twin is the bench row), add-1 smoothing, deterministic
    seed-42 Gumbel top-200 without replacement.  The raw-distribution
    fit INCLUDES the target slice (the paper's setting: target text is
    drawn from the raw pool's distribution support).  Floats pre-round
    to 4 (protocol); the Gumbel key is exposed so the draw itself is
    oracle-audited, not just the weights."""
    from ..operators.selection import dsir_select

    d = Catalog(spark, sf_dir).documents.select(
        "doc_id", "text", "lang", "source")
    target = d.filter(F.col("source") == "src1")
    sel = dsir_select(d, target, k=200, hash_fn="md5")
    return sel.select(
        "doc_id", "lang", "source",
        F.round("logw", 4).alias("logw"),
        F.round("gumbel_key", 4).alias("gumbel_key"),
    )


# --------------------------------------------------------------------------
# D24: hashed-ngram quality classifier
# --------------------------------------------------------------------------

QUALITY_CLASSIFIER_SQL = r"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                         x -> x <> '') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, unnest(t) AS gram FROM tok
      UNION ALL
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i+1])) AS gram
      FROM tok
    ),
    occ AS (
      SELECT doc_id,
             ('0x' || substr(md5(gram), 1, 13))::BIGINT % 4096 AS bucket
      FROM grams
    ),
    feats AS (
      SELECT doc_id, bucket, ln(1.0 + count(*)) AS x
      FROM occ GROUP BY doc_id, bucket
    ),
    margin AS (
      SELECT f.doc_id, sum(f.x * w.weight) AS dot
      FROM feats f JOIN clf_weights w ON f.bucket = w.bucket
      GROUP BY f.doc_id
    )
    SELECT d.doc_id,
           round(1.0 / (1.0 + exp(-(coalesce(m.dot, 0.0)
                 + (SELECT intercept FROM clf_meta)))), 4)
             AS quality_score
    FROM documents d LEFT JOIN margin m ON d.doc_id = m.doc_id
    ORDER BY d.doc_id
"""


def quality_classifier_oracle(spark, sf_dir, con):
    """The D24 oracle pair: returns ``(spark_df, sql)`` after
    registering the FITTED model as DuckDB tables (``clf_weights`` +
    ``clf_meta``) - the IVF split of responsibility: the MLlib
    LogisticRegression fit is property-gated (not SQL-expressible),
    but everything downstream of the coefficients IS, so DuckDB
    re-derives the hashed features, the broadcast-weight dot product,
    and the sigmoid from the raw documents.  A featurization bug, a
    join bug, or a sigmoid drift all hash-mismatch.  Fit: positive =
    ``lang = 'en'`` documents, negative = the rest (the label split is
    arbitrary for the oracle - score PORTABILITY is what's verified)."""
    from ..operators.classifier import QualityClassifier

    d = Catalog(spark, sf_dir).documents.select("doc_id", "text", "lang")
    clf = QualityClassifier.fit(
        d.filter(F.col("lang") == "en"),
        d.filter(F.col("lang") != "en"),
        buckets=4096, hash_fn="md5",
    )
    con.register("clf_weights", clf.weights.toPandas())
    import pandas as pd

    con.register("clf_meta", pd.DataFrame({"intercept": [clf.intercept]}))
    df = (
        clf.score(d.select("doc_id", "text"))
        .select("doc_id", F.round("quality_score", 4).alias("quality_score"))
        .orderBy("doc_id")
    )
    return df, QUALITY_CLASSIFIER_SQL


# --------------------------------------------------------------------------
# D19 oracle: add-k trigram perplexity re-derived from the exported model
# --------------------------------------------------------------------------

LM_PERPLEXITY_SQL = r"""
    WITH tok AS (
      SELECT doc_id,
             list_transform(
               list_filter(regexp_split_to_array(trim(text), '\s+'),
                           x -> x <> ''),
               t -> lower(t)) AS t
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest(list_transform(
               range(1, len(t) - 1),
               i -> struct_pack(ctx := t[i] || ' ' || t[i+1],
                                tok := t[i+2]))) AS gr
      FROM tok WHERE len(t) >= 3
    ),
    scored AS (
      SELECT x.doc_id,
             ln((coalesce(lg.cnt, 0) + m.k)
                / (coalesce(lc.total, 0) + m.k * m.vocab_size)) AS logp
      FROM (SELECT doc_id, gr.ctx AS ctx, gr.tok AS tok FROM g) x
      LEFT JOIN lm_grams lg ON x.ctx = lg.ctx AND x.tok = lg.tok
      LEFT JOIN lm_contexts lc ON x.ctx = lc.ctx
      CROSS JOIN lm_meta m
    ),
    per_doc AS (
      SELECT doc_id, count(*) AS n_grams, avg(logp) AS avg_logp
      FROM scored GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(p.n_grams, 0) AS n_grams,
           round(p.avg_logp, 4) AS avg_logp,
           round(exp(-p.avg_logp), 4) AS ppl
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    ORDER BY d.doc_id
"""


def lm_perplexity_oracle(spark, sf_dir, con):
    """The D19 oracle pair: returns ``(spark_df, sql)`` after
    registering the FITTED trigram model as DuckDB tables
    (``lm_grams``, ``lm_contexts``, ``lm_meta``) — closing the one
    depth-tier op whose correctness rested on hand-computed pytest
    cases alone.  Same split as the classifier/semantic factories: the
    model is literally two count tables + (n, k, V), so DuckDB
    re-derives tokenization, trigram assembly, the add-k probability
    (absent pairs -> the smoothed floor through the same LEFT-join
    nulls), and exp(-avg log P) from the raw documents.  A
    tokenization drift, a join bug, a smoothing-constant error, or a
    short-doc edge (NULL ppl, never an invented number) all
    hash-mismatch.  Fit: the doc_id % 3 != 0 slice (the bench row's
    reference corpus), n=3, k=0.1, no digit bucketing."""
    import pandas as pd

    from ..operators.lm import NgramLM

    d = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    lm = NgramLM.fit(d.filter(F.col("doc_id") % 3 != 0), n=3, k=0.1)
    con.register("lm_grams", lm.grams.toPandas())
    con.register("lm_contexts", lm.contexts.toPandas())
    con.register("lm_meta", pd.DataFrame(
        {"k": [float(lm.k)], "vocab_size": [float(lm.vocab_size)]}))
    df = (
        lm.perplexity(d)
        .select(
            "doc_id", "n_grams",
            F.round("avg_logp", 4).alias("avg_logp"),
            F.round("ppl", 4).alias("ppl"),
        )
        .orderBy("doc_id")
    )
    return df, LM_PERPLEXITY_SQL


# --------------------------------------------------------------------------
# D25: language identification (multinomial NB over hashed char n-grams)
# --------------------------------------------------------------------------

LANGID_SQL = r"""
    WITH s AS (
      SELECT doc_id, lower(substr(text, 1, 200)) AS s FROM documents
    ),
    grams AS (
      SELECT doc_id, unnest(list_transform(
        range(1, greatest(length(s) - 0, 0) + 1), i -> substr(s, i, 1)
      )) AS gram FROM s
      UNION ALL
      SELECT doc_id, unnest(list_transform(
        range(1, greatest(length(s) - 1, 0) + 1), i -> substr(s, i, 2)
      )) AS gram FROM s
      UNION ALL
      SELECT doc_id, unnest(list_transform(
        range(1, greatest(length(s) - 2, 0) + 1), i -> substr(s, i, 3)
      )) AS gram FROM s
    ),
    occ AS (
      SELECT doc_id,
             ('0x' || substr(md5(gram), 1, 13))::BIGINT % 1024 AS bucket
      FROM grams
    ),
    ll AS (
      SELECT o.doc_id, t.lang, sum(t.logp) AS ll
      FROM occ o JOIN langid_table t ON o.bucket = t.bucket
      GROUP BY o.doc_id, t.lang
    ),
    scores AS (
      SELECT d.doc_id, p.lang,
             p.logprior + coalesce(l.ll, 0.0) AS score
      FROM (SELECT DISTINCT doc_id FROM documents) d
      CROSS JOIN langid_priors p
      LEFT JOIN ll l ON d.doc_id = l.doc_id AND p.lang = l.lang
    ),
    wm AS (
      SELECT *,
             max(score) OVER (PARTITION BY doc_id) AS m,
             round(score, 6) AS rs,
             max(round(score, 6)) OVER (PARTITION BY doc_id) AS rm
      FROM scores
    )
    SELECT doc_id,
           min(CASE WHEN rs = rm THEN lang END) AS lang_pred,
           round(1.0 / sum(exp(score - m)), 4) AS lang_conf
    FROM wm GROUP BY doc_id ORDER BY doc_id
"""


def langid_oracle(spark, sf_dir, con):
    """The D25 oracle pair: returns ``(spark_df, sql)`` after
    registering the FITTED NB model as DuckDB tables (``langid_table``
    + ``langid_priors``).  Stronger than the D24 split of
    responsibility: the NB fit is closed-form count arithmetic, so the
    exported tables are itself a deterministic function of the corpus
    and the oracle verifies the whole featurize -> dense-smoothed-join
    -> argmax/softmax path — a char-gram drift, a bucket-hash bug, a
    smoothing error, or an argmax tie-break divergence all
    hash-mismatch.  Fit: the documents table's own ``lang`` labels
    (synthetic — label/score PORTABILITY is what's verified, per the
    D24 precedent); md5-portable buckets, B=1024, char 1..3-grams over
    the first 200 chars.  Argmax compares round(score, 6) in BOTH
    engines so summation-order ulps cannot flip near-ties."""
    from ..operators.langid import LangIdModel

    d = Catalog(spark, sf_dir).documents.select("doc_id", "text", "lang")
    model = LangIdModel.fit(d, buckets=1024, ng_max=3, max_chars=200,
                            hash_fn="md5")
    con.register("langid_table", model.table.toPandas())
    con.register("langid_priors", model.priors.toPandas())
    df = (
        model.predict(d.select("doc_id", "text"))
        .select("doc_id", "lang_pred",
                F.round("lang_conf", 4).alias("lang_conf"))
        .orderBy("doc_id")
    )
    return df, LANGID_SQL


# -- D26: winnowing fingerprints (round 9) ----------------------------------
#
# The MOSS selection is position-exact and hash-exact under the
# md5-portable gram hash, so BOTH the fingerprint SET (winnow) and the
# pair scores (overlap) oracle-verify: a window-frame off-by-one, a
# tie-break divergence (rightmost vs leftmost argmin), or a dedup bug
# (the consecutive-selection interval property) all hash-mismatch.

FINGERPRINT_WINNOW_SQL = r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\s+'),
                         x -> x <> '') AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id, len(t) - 3 AS m,
             unnest(generate_series(1, len(t) - 3)) AS gs, t
      FROM toks WHERE len(t) >= 4
    ),
    hashed AS (
      SELECT doc_id, m, gs - 1 AS start,
             ('0x' || substr(md5(array_to_string(t[gs:gs+3], ' ')),
                             1, 13))::BIGINT AS h
      FROM grams
    ),
    win AS (
      SELECT doc_id, m, start,
             min({'h': h, 'np': -start}) OVER (
               PARTITION BY doc_id ORDER BY start
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
      FROM hashed
    )
    SELECT DISTINCT doc_id, -sel.np AS pos, sel.h AS fp
    FROM win WHERE start <= greatest(m - 4, 0)
    ORDER BY doc_id, pos
"""


def fingerprint_winnow(spark, sf_dir):
    """The D26 selection-shape query: winnowed (doc_id, pos, fp) over
    the documents table at k=4, w=4 under the md5-portable gram hash -
    the xxhash64 twin is the bench row.  The DuckDB mirror re-derives
    tokenization, gram hashing, the rightmost-argmin window (struct
    min over (h, -pos)), and the anchor bound - DISTINCT in SQL equals
    the Spark side's lag-dedup by the winnowing interval property."""
    from ..operators.fingerprint import winnow_fingerprints

    d = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    return winnow_fingerprints(d, k=4, w=4, hash_fn="md5").orderBy(
        "doc_id", "pos"
    )


FINGERPRINT_OVERLAP_SQL = r"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 4000000,
             array_to_string(
               list_filter(regexp_split_to_array(trim(text), '\s+'),
                           x -> x <> '')[1:30], ' ')
             || ' tail' || doc_id || ' extra' || doc_id
      FROM documents
      WHERE doc_id % 7 = 0
        AND len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                            x -> x <> '')) >= 30
    ),
    toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\s+'),
                         x -> x <> '') AS t
      FROM corpus
    ),
    grams AS (
      SELECT doc_id, len(t) - 3 AS m,
             unnest(generate_series(1, len(t) - 3)) AS gs, t
      FROM toks WHERE len(t) >= 4
    ),
    hashed AS (
      SELECT doc_id, m, gs - 1 AS start,
             ('0x' || substr(md5(array_to_string(t[gs:gs+3], ' ')),
                             1, 13))::BIGINT AS h
      FROM grams
    ),
    win AS (
      SELECT doc_id, m, start,
             min({'h': h, 'np': -start}) OVER (
               PARTITION BY doc_id ORDER BY start
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
      FROM hashed
    ),
    sets AS (
      SELECT DISTINCT doc_id, sel.h AS fp
      FROM win WHERE start <= greatest(m - 4, 0)
    ),
    sizes AS (
      SELECT doc_id, count(*) AS n FROM sets GROUP BY doc_id
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      FROM sets a JOIN sets b USING (fp)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, shared, sa.n AS n_a, sb.n AS n_b,
           round(shared / least(sa.n, sb.n), 4) AS overlap
    FROM pairs
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE shared / least(sa.n, sb.n) >= 0.5
    ORDER BY id_a, id_b
"""


def fingerprint_overlap_pairs(spark, sf_dir):
    """The D26 pair-scoring query: every 7th document's 30-token
    prefix re-appears under a fresh id with a unique tail (the D20
    planting pattern), and the MOSS containment scores must surface
    exactly those pairs at overlap >= 0.5.  Exact (max_fp_docs=None) -
    the governed variant is the bench row."""
    from ..operators.fingerprint import (
        fingerprint_overlap,
        winnow_fingerprints,
    )

    d = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    toks = F.filter(
        F.split(F.trim(F.col("text")), r"\s+"), lambda t: t != F.lit("")
    )
    with_t = d.select("doc_id", toks.alias("t"))
    planted = with_t.filter(
        (F.col("doc_id") % 7 == 0) & (F.size("t") >= 30)
    ).select(
        (F.col("doc_id") + 4_000_000).alias("doc_id"),
        F.concat(
            F.array_join(F.slice("t", 1, 30), " "),
            F.lit(" tail"), F.col("doc_id").cast("string"),
            F.lit(" extra"), F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    corpus = d.unionByName(planted)
    fps = winnow_fingerprints(corpus, k=4, w=4, hash_fn="md5")
    return (
        fingerprint_overlap(fps)
        .filter(F.col("overlap") >= 0.5)
        .select("id_a", "id_b", "shared", "n_a", "n_b",
                F.round("overlap", 4).alias("overlap"))
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# D27: BPE tokenizer (round 9) — histogram oracle + encode-path oracle
# --------------------------------------------------------------------------
#
# Split of responsibility (the D24/D25 precedent): the merge LOOP is
# iterative and property-gated in tests/test_bpe.py against an
# independent reference trainer (exact merge-sequence equality); the
# corpus-wide stages ARE SQL-expressible and oracle here — (1) the
# word-type histogram (the one pass that touches every byte), and
# (2) the distributed encode path, with the trained word->n_tokens
# map registered as a DuckDB table so the oracle re-derives every
# per-document token count from raw text through its own tokenize +
# join + sum.  A split drift between Spark and the UDF, a batch-
# boundary bug, or a null-handling bug all hash-mismatch.

BPE_HISTOGRAM_SQL = r"""
    WITH toks AS (
      SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                x -> x <> '')) AS word
      FROM documents
    )
    SELECT word, count(*) AS cnt
    FROM toks GROUP BY word
    ORDER BY cnt DESC, word
"""


def bpe_histogram(spark, sf_dir):
    """The D27 corpus-pass query: the (word, count) type histogram BPE
    training folds over — one explode + one map-side-combined groupBy
    (plan-gated to ONE Exchange in tests)."""
    from ..operators.bpe import word_histogram

    d = Catalog(spark, sf_dir).documents.select("text")
    return (
        word_histogram(d)
        .select("word", F.col("count").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "word")
    )


BPE_TOKEN_COUNTS_SQL = r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                x -> x <> '')) AS word
      FROM documents
    ),
    per AS (
      SELECT t.doc_id, sum(m.n_tok) AS n
      FROM toks t JOIN bpe_word_map m USING (word)
      GROUP BY t.doc_id
    )
    SELECT d.doc_id, coalesce(per.n, 0)::BIGINT AS bpe_token_count
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN per ON d.doc_id = per.doc_id
    ORDER BY d.doc_id
"""


def bpe_token_counts_oracle(spark, sf_dir, con):
    """The D27 oracle pair: trains the tokenizer on the corpus (the
    merge loop itself is reference-gated in test_bpe.py), registers
    the word -> token-length map over the corpus VOCABULARY (bounded:
    the distinct-word set the histogram already materializes) as
    ``bpe_word_map``, then compares per-document true token counts —
    Spark's pandas-UDF encode vs DuckDB's tokenize + map-join + sum
    from raw text."""
    import pandas as pd

    from ..operators.bpe import BpeTokenizer, word_histogram

    d = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    hist = word_histogram(d)
    tok = BpeTokenizer.train(hist, num_merges=64)
    memo: dict = {}
    vocab = [r["word"] for r in hist.select("word").collect()]
    con.register("bpe_word_map", pd.DataFrame({
        "word": vocab,
        "n_tok": [len(tok._encode_word(w, memo)) for w in vocab],
    }))
    df = (
        tok.token_count(d)
        .select("doc_id", "bpe_token_count")
        .orderBy("doc_id")
    )
    return df, BPE_TOKEN_COUNTS_SQL


# --------------------------------------------------------------------------
# D28: Gopher quality rules (round 9) — fully SQL-expressible
# --------------------------------------------------------------------------
#
# Unlike the repetition block (D10, whose n-gram Counter math needs the
# vectorized UDF), the A1.1 quality rules are pure rational arithmetic
# over the shared token split — DuckDB re-derives every signal AND the
# pass flag from raw text, so a tokenization drift, a ratio
# denominator bug, or a threshold boundary error all hash-mismatch.

GOPHER_QUALITY_SQL = r"""
    WITH t AS (
      SELECT doc_id, text,
             list_filter(regexp_split_to_array(trim(text), '\s+'),
                         x -> x <> '') AS w,
             regexp_split_to_array(text, '\n') AS lines
      FROM documents
    ),
    m AS (
      SELECT doc_id,
        len(w)::BIGINT AS word_count,
        CASE WHEN len(w) > 0 THEN
          list_sum(list_transform(w, x -> len(x)))::DOUBLE / len(w)
        ELSE 0.0 END AS mean_word_len,
        CASE WHEN len(w) > 0 THEN
          ((len(text) - len(replace(text, '#', '')))
           + (len(text) - len(replace(text, '...', ''))) / 3.0
           + (len(text) - len(replace(text, '…', '')))) / len(w)
        ELSE 0.0 END AS symbol_ratio,
        CASE WHEN len(lines) > 0 THEN
          len(list_filter(lines,
              l -> regexp_matches(trim(l), '^(•|-|\*)')))::DOUBLE
          / len(lines)
        ELSE 0.0 END AS bullet_frac,
        CASE WHEN len(lines) > 0 THEN
          len(list_filter(lines,
              l -> trim(l) LIKE '%...' OR trim(l) LIKE '%…'))::DOUBLE
          / len(lines)
        ELSE 0.0 END AS ellipsis_frac,
        CASE WHEN len(w) > 0 THEN
          len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
          / len(w)
        ELSE 0.0 END AS alpha_frac,
        len(list_filter(['the','be','to','of','and','that','have','with'],
            s -> list_contains(list_transform(w, x -> lower(x)), s))
        )::BIGINT AS stop_hits
      FROM t
    )
    SELECT doc_id, word_count,
           round(mean_word_len, 4) AS mean_word_len,
           round(symbol_ratio, 4) AS symbol_ratio,
           round(bullet_frac, 4) AS bullet_frac,
           round(ellipsis_frac, 4) AS ellipsis_frac,
           round(alpha_frac, 4) AS alpha_frac,
           stop_hits,
           (word_count BETWEEN 50 AND 100000
            AND mean_word_len BETWEEN 3.0 AND 10.0
            AND symbol_ratio <= 0.1
            AND bullet_frac <= 0.9
            AND ellipsis_frac <= 0.3
            AND alpha_frac >= 0.8
            AND stop_hits >= 2) AS passes_gopher_quality
    FROM m
    ORDER BY doc_id
"""


def gopher_quality(spark, sf_dir):
    """The D28 query: all seven A1.1 signals + the pass flag per
    document (thresholds = the paper's defaults).  The flag is
    computed on UNROUNDED values in both engines; only the emitted
    ratio columns round (the §2.4 float protocol)."""
    from ..operators.text import gopher_quality_profile

    d = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    prof = gopher_quality_profile(d)
    return (
        prof.select(
            "doc_id", "word_count",
            F.round("mean_word_len", 4).alias("mean_word_len"),
            F.round("symbol_ratio", 4).alias("symbol_ratio"),
            F.round("bullet_frac", 4).alias("bullet_frac"),
            F.round("ellipsis_frac", 4).alias("ellipsis_frac"),
            F.round("alpha_frac", 4).alias("alpha_frac"),
            "stop_hits", "passes_gopher_quality",
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# D29: corpus datasheet (round 9) — composition table, fully oracled
# --------------------------------------------------------------------------
#
# Exact aggregates only (percentile, not percentile_approx) precisely
# so DuckDB can re-derive every cell: quantile_cont uses the same
# linear interpolation as Spark's percentile, md5 is the portable
# fingerprint, and token_share re-derives from the group sums.

CORPUS_DATASHEET_SQL = r"""
    WITH m AS (
      SELECT source, lang,
             len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                             x -> x <> '')) AS nt,
             len(text) AS nc,
             md5(text) AS fp
      FROM documents
    ),
    g AS (
      SELECT source, lang,
             count(*) AS n_docs,
             sum(nt)::BIGINT AS total_tokens,
             avg(nt) AS mean_tokens,
             quantile_cont(nt, 0.5) AS median_tokens,
             quantile_cont(nt, 0.9) AS p90_tokens,
             avg(nc) AS mean_chars,
             count(DISTINCT fp) AS n_distinct
      FROM m GROUP BY source, lang
    )
    SELECT source, lang, n_docs, total_tokens,
           round(mean_tokens, 4) AS mean_tokens,
           round(median_tokens, 4) AS median_tokens,
           round(p90_tokens, 4) AS p90_tokens,
           round(mean_chars, 4) AS mean_chars,
           round(1.0 - n_distinct / n_docs, 4) AS dup_frac,
           round(total_tokens / (SELECT sum(total_tokens) FROM g), 4)
             AS token_share
    FROM g
    ORDER BY source, lang
"""


def corpus_datasheet_report(spark, sf_dir):
    """The D29 query: the per-(source, lang) composition table over
    documents — every cell re-derived by DuckDB from raw text."""
    from ..operators.datasheet import corpus_datasheet

    d = Catalog(spark, sf_dir).documents.select("source", "lang", "text")
    sheet = corpus_datasheet(d)
    return (
        sheet.select(
            "source", "lang", "n_docs", "total_tokens",
            F.round("mean_tokens", 4).alias("mean_tokens"),
            F.round("median_tokens", 4).alias("median_tokens"),
            F.round("p90_tokens", 4).alias("p90_tokens"),
            F.round("mean_chars", 4).alias("mean_chars"),
            F.round("dup_frac", 4).alias("dup_frac"),
            F.round("token_share", 4).alias("token_share"),
        )
        .orderBy("source", "lang")
    )


# --------------------------------------------------------------------------
# D30: CCNet perplexity bucketing (head / middle / tail)
# --------------------------------------------------------------------------

CCNET_BUCKETS_SQL = r"""
    WITH tok AS (
      SELECT doc_id,
             list_transform(
               list_filter(regexp_split_to_array(trim(text), '\s+'),
                           x -> x <> ''),
               t -> lower(t)) AS t
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest(list_transform(
               range(1, len(t) - 1),
               i -> struct_pack(ctx := t[i] || ' ' || t[i+1],
                                tok := t[i+2]))) AS gr
      FROM tok WHERE len(t) >= 3
    ),
    scored AS (
      SELECT x.doc_id,
             ln((coalesce(lg.cnt, 0) + m.k)
                / (coalesce(lc.total, 0) + m.k * m.vocab_size)) AS logp
      FROM (SELECT doc_id, gr.ctx AS ctx, gr.tok AS tok FROM g) x
      LEFT JOIN lm_grams lg ON x.ctx = lg.ctx AND x.tok = lg.tok
      LEFT JOIN lm_contexts lc ON x.ctx = lc.ctx
      CROSS JOIN lm_meta m
    ),
    per_doc AS (
      SELECT doc_id, round(exp(-avg(logp)), 4) AS rppl
      FROM scored GROUP BY doc_id
    ),
    base AS (
      SELECT d.doc_id, d.lang, p.rppl
      FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    ),
    ranked AS (
      SELECT doc_id,
             ['head', 'middle', 'tail'][
               ntile(3) OVER (PARTITION BY lang ORDER BY rppl, doc_id)
             ] AS ppl_bucket
      FROM base WHERE rppl IS NOT NULL
    )
    SELECT b.doc_id, b.lang, b.rppl, r.ppl_bucket
    FROM base b LEFT JOIN ranked r ON b.doc_id = r.doc_id
    ORDER BY b.doc_id
"""


def ccnet_ppl_buckets_oracle(spark, sf_dir, con):
    """The D30 oracle pair: returns ``(spark_df, sql)`` after
    registering the fitted trigram LM (same fit as the D19
    ``lm_perplexity`` oracle: doc_id % 3 != 0 reference slice, n=3,
    k=0.1).  CCNet step 2 (Wenzek et al. 2020 §4.4): every language's
    scored documents split into perplexity tertiles — head (closest to
    the reference LM), middle, tail.  The Spark side is
    ``NgramLM.perplexity`` + :func:`...operators.lm.ppl_buckets_by_rank`
    (ntile(3) per language over the engine-portable rounded
    perplexity); DuckDB re-derives tokenization, the smoothed trigram
    score, the rounding, AND the identical NTILE window from raw text
    plus the exported count tables — so a drift in scoring, sort-key
    rounding, tie ordering, or tile arithmetic all hash-mismatch.
    NULL-perplexity (sub-3-token) documents keep a NULL bucket on both
    sides."""
    import pandas as pd

    from ..operators.lm import NgramLM, ppl_buckets_by_rank

    d = Catalog(spark, sf_dir).documents.select("doc_id", "text", "lang")
    lm = NgramLM.fit(
        d.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text"),
        n=3, k=0.1,
    )
    con.register("lm_grams", lm.grams.toPandas())
    con.register("lm_contexts", lm.contexts.toPandas())
    con.register("lm_meta", pd.DataFrame(
        {"k": [float(lm.k)], "vocab_size": [float(lm.vocab_size)]}))
    ppl = lm.perplexity(d.select("doc_id", "text")).join(
        d.select("doc_id", "lang"), "doc_id"
    )
    df = (
        ppl_buckets_by_rank(ppl, lang_col="lang", ppl_col="ppl",
                            id_col="doc_id")
        .select(
            "doc_id", "lang",
            F.round("ppl", 4).alias("rppl"),
            "ppl_bucket",
        )
        .orderBy("doc_id")
    )
    return df, CCNET_BUCKETS_SQL


# --------------------------------------------------------------------------
# D32: SoftDedup - duplicate down-weighting + realized mixture
# --------------------------------------------------------------------------

SOFT_DEDUP_SQL = r"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 10 = 0
    ),
    fp AS (
      SELECT doc_id,
             md5(coalesce(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                          chr(0))) AS f
      FROM corpus
    ),
    c AS (
      SELECT doc_id, count(*) OVER (PARTITION BY f) AS commonness FROM fp
    ),
    wgt AS (
      SELECT doc_id, commonness,
             power(commonness, -1.0) AS w
      FROM c
    ),
    e AS (
      SELECT doc_id, commonness, w,
             CAST(floor(w) AS INT)
             + CASE WHEN ('0x' || substr(md5('|wmix|'
                         || CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
                         % 10000
                         < (w - floor(w)) * 10000
                    THEN 1 ELSE 0 END AS n
      FROM wgt
    )
    SELECT doc_id, commonness, round(w, 6) AS weight,
           CAST(unnest(range(0, n)) AS BIGINT) AS epoch
    FROM e WHERE n > 0
    ORDER BY doc_id, epoch
"""


def soft_dedup(spark, sf_dir):
    """The D32 query: SoftDedup reweighting (He et al. 2024) end to
    end on documents + planted exact copies (every 5th doc once more,
    every 10th twice more -> commonness 1/2/3).  Spark computes the
    content-multiplicity weight (ONE fingerprint-window shuffle, md5
    for portability) and realizes the deterministic weighted mixture
    (zero-Exchange map fanout); DuckDB re-derives the normalization,
    the fingerprint window, the power-law weight, the salted hash
    draw, AND the epoch explosion from raw text."""
    from ..operators.dedup import soft_dedup_weights
    from ..operators.sampling import mix_by_weight

    d = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    corpus = d.unionByName(
        d.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text")
    ).unionByName(
        d.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 2000000).alias("doc_id"), "text")
    )
    w = soft_dedup_weights(corpus, alpha=1.0, hash_fn="md5")
    mixed = mix_by_weight(w, "doc_id", "weight")
    return mixed.select(
        "doc_id", "commonness",
        F.round("weight", 6).alias("weight"),
        F.col("epoch").cast("long").alias("epoch"),
    ).orderBy("doc_id", "epoch")


# --------------------------------------------------------------------------
# D33: contamination report - per-benchmark-doc leakage table
# --------------------------------------------------------------------------

CONTAMINATION_REPORT_SQL = r"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 3 != 0
    ),
    bench AS (
      SELECT doc_id + 5000000 AS doc_id,
             substring(text, strpos(text, ' ') + 1) AS text
      FROM documents
      WHERE doc_id % 3 != 0 AND doc_id % 7 = 1 AND strpos(text, ' ') > 0
      UNION ALL
      SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
    ),
    cg AS (
      SELECT DISTINCT
             unnest(list_distinct(list_transform(
               generate_series(1, len(toks) - 12),
               i -> array_to_string(toks[i:i+12], ' ')))) AS g
      FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS toks
            FROM corpus)
    ),
    bg AS (
      SELECT doc_id AS bench_id,
             unnest(list_distinct(list_transform(
               generate_series(1, len(toks) - 12),
               i -> array_to_string(toks[i:i+12], ' ')))) AS g
      FROM (SELECT doc_id,
                   regexp_split_to_array(trim(text), '\s+') AS toks
            FROM bench)
    ),
    stats AS (
      SELECT b.bench_id,
             count(*) AS n_grams,
             count(c.g) AS n_hit
      FROM bg b LEFT JOIN cg c ON b.g = c.g
      GROUP BY b.bench_id
    )
    SELECT d.bench_id,
           coalesce(s.n_grams, 0) AS n_grams,
           coalesce(s.n_hit, 0) AS n_hit,
           CASE WHEN coalesce(s.n_grams, 0) > 0
                THEN round(coalesce(s.n_hit, 0) * 1.0 / s.n_grams, 6)
           END AS overlap_frac,
           CASE WHEN coalesce(s.n_grams, 0) > 0
                THEN CASE WHEN coalesce(s.n_hit, 0) >= 1
                     THEN 1 ELSE 0 END
           END AS contaminated
    FROM (SELECT DISTINCT doc_id AS bench_id FROM bench) d
    LEFT JOIN stats s ON d.bench_id = s.bench_id
    ORDER BY d.bench_id
"""


def contamination_report_q(spark, sf_dir):
    """The D33 query: per-benchmark-document leakage (the model-card
    table) against the same planted-contamination construction as
    decontam_ngram13 - every planted copy must report near-total
    13-gram overlap, every clean held-out doc near-zero.  Corpus grams
    reduce THROUGH the broadcast benchmark gram set (bench-bounded
    shuffle); DuckDB re-derives totals, hits, fractions, and the flag
    from raw text."""
    from ..operators.contamination import contamination_report

    d = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") % 3 != 0)
    planted = (
        corpus.filter((F.col("doc_id") % 7 == 1) & (F.instr("text", " ") > 0))
        .select(
            (F.col("doc_id") + 5_000_000).alias("doc_id"),
            F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
        )
    )
    clean = d.filter(F.col("doc_id") % 3 == 0)
    bench = planted.unionByName(clean)
    rep = contamination_report(corpus, bench, n=13, hash_fn="raw")
    return rep.select(
        "bench_id", "n_grams", "n_hit",
        F.round("overlap_frac", 6).alias("overlap_frac"),
        # int, not boolean: a NULLABLE boolean canonicalizes
        # differently across engines ('\N' vs NaN); NULL ints agree
        F.col("contaminated").cast("int").alias("contaminated"),
    ).orderBy("bench_id")


# --------------------------------------------------------------------------
# D34: tokenizer fertility report
# --------------------------------------------------------------------------

TOKENIZER_FERTILITY_SQL = r"""
    WITH toks AS (
      SELECT doc_id, source, lang, length(text) AS chars,
             list_filter(regexp_split_to_array(trim(text), '\s+'),
                         x -> x <> '') AS w
      FROM documents
    ),
    tok_per_doc AS (
      SELECT doc_id, sum(m.n_tok) AS bpe
      FROM (SELECT doc_id, unnest(w) AS word FROM toks) u
      JOIN bpe_word_map m USING (word)
      GROUP BY doc_id
    ),
    g AS (
      SELECT t.source, t.lang,
             count(*) AS n_docs,
             sum(len(t.w))::BIGINT AS words,
             sum(coalesce(tp.bpe, 0))::BIGINT AS bpe_tokens,
             sum(t.chars)::BIGINT AS chars
      FROM toks t LEFT JOIN tok_per_doc tp USING (doc_id)
      GROUP BY t.source, t.lang
    )
    SELECT source, lang, n_docs, words, bpe_tokens,
           CASE WHEN words > 0
                THEN round(bpe_tokens * 1.0 / words, 6) END AS fertility,
           CASE WHEN bpe_tokens > 0
                THEN round(chars * 1.0 / bpe_tokens, 6)
           END AS chars_per_token
    FROM g
    ORDER BY source, lang
"""


def tokenizer_fertility_oracle(spark, sf_dir, con):
    """The D34 oracle pair: trains the 64-merge tokenizer on the
    corpus, registers the word -> token-length map over the corpus
    vocabulary (the D27 split of responsibility: the merge loop is
    reference-gated, everything downstream is SQL), and compares the
    per-(source, lang) fertility table — Spark's pandas-UDF encode +
    one group aggregate vs DuckDB's tokenize + map-join + group sums
    from raw text."""
    import pandas as pd

    from ..operators.bpe import (
        BpeTokenizer,
        tokenizer_fertility,
        word_histogram,
    )

    d = Catalog(spark, sf_dir).documents.select(
        "doc_id", "text", "source", "lang")
    hist = word_histogram(d)
    tok = BpeTokenizer.train(hist, num_merges=64)
    memo: dict = {}
    vocab = [r["word"] for r in hist.select("word").collect()]
    con.register("bpe_word_map", pd.DataFrame({
        "word": vocab,
        "n_tok": [len(tok._encode_word(w, memo)) for w in vocab],
    }))
    rep = tokenizer_fertility(d, tok)
    df = rep.select(
        "source", "lang", "n_docs", "words", "bpe_tokens",
        F.round("fertility", 6).alias("fertility"),
        F.round("chars_per_token", 6).alias("chars_per_token"),
    ).orderBy("source", "lang")
    return df, TOKENIZER_FERTILITY_SQL


DOMAIN_GATE_SQL = r"""
    WITH u AS (
      SELECT doc_id,
             'https://docs.'
             || lower(regexp_replace(source, '[^A-Za-z0-9-]', '-', 'g'))
             || '.example/' || CAST(doc_id AS VARCHAR) AS url
      FROM documents),
    h AS (
      -- trailing-dot strip mirrors url_host (round-14 advice: a
      -- valid-FQDN 'host.' form must not bypass the blocklist)
      SELECT doc_id,
             regexp_replace(lower(regexp_extract(
               url,
               '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)',
               1)), '\.+$', '') AS host
      FROM u),
    d AS (
      SELECT doc_id, host,
             CASE WHEN len(string_split(host, '.')) <= 2 THEN host
                  ELSE string_split(host, '.')[-2] || '.'
                       || string_split(host, '.')[-1]
             END AS domain
      FROM h)
    SELECT domain,
           domain NOT IN ('src3.example', 'src7.example', 'src11.example')
             AS passes,
           count(*) AS docs,
           min(doc_id) AS min_doc
    FROM d
    GROUP BY domain, passes
    ORDER BY domain
"""


def domain_gate_report(spark, sf_dir):
    """URL/domain blocklist gate (SURVEY §2.5 D36 - the CCNet/
    RefinedWeb/Dolma origin filter) over documents: a deterministic
    synthetic URL per document (the corpus carries none), host + naive
    registrable-domain extraction, a literal three-domain blocklist
    verdict, and per-domain accounting.  Exercises the full
    :mod:`..operators.domains` path the funnel's stage-0
    ``blocked_domain`` gate runs (synthetic_url -> url_host ->
    registrable_domain -> domain_gate).  Pure map stage + one grouped
    pass; group count = distinct origins (plan-gated in
    tests/test_domains.py)."""
    from ..operators.domains import (
        domain_gate,
        registrable_domain,
        synthetic_url,
        url_host,
    )

    blocked = ["src3.example", "src7.example", "src11.example"]
    d = Catalog(spark, sf_dir).documents.select("doc_id", "source")
    return (
        d.withColumn("url", synthetic_url("source", "doc_id"))
        .withColumn("domain", registrable_domain(url_host("url")))
        .withColumn("passes", domain_gate("url", blocklist=blocked))
        .groupBy("domain", "passes")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.min("doc_id").alias("min_doc"),
        )
        .orderBy("domain")
    )
