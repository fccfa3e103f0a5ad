"""Text-analysis + dedup query family (SURVEY.md §2.I I1/I2/I4) over
the ``documents`` table.

Oracle-parity notes: tokenization is single-space split with empty
filtering on both sides; all hashes are md5 hex (identical across
engines); integer reductions are order-independent, so DuckDB's
unordered ``list_distinct`` can't cause drift; every float is rounded
identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_work_flow_for_big_data_spark.catalog import _footer_rows, load_table
from etl_work_flow_for_big_data_spark.functions.text import (
    EN_STOPWORDS,
    bpe_ish_tokens,
    distinct_tokens,
    fingerprint,
    min_shingle_fingerprint,
    round4_ratio,
    stopword_count,
    token_count,
    tokens,
)
from etl_work_flow_for_big_data_spark.operators.dedup import (
    dedup_exact,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_fingerprints,
)
from etl_work_flow_for_big_data_spark.operators.transforms import (
    hash_bucket,
    pack_sequences as pack_window,
)
from etl_work_flow_for_big_data_spark.queries import query

#: DuckDB fragment: filtered whitespace tokens of documents.text
_DUCK_TOKS = "list_filter(string_split(text, ' '), __t -> len(__t) > 0)"
#: DuckDB fragment: distinct 5-gram shingles of documents.text
_DUCK_SHINGLES = f"""
list_distinct(list_transform(
  range(1, greatest(len({_DUCK_TOKS}) - 4, 0) + 1),
  __i -> array_to_string(({_DUCK_TOKS})[__i:__i+4], ' ')))
"""

#: Stop-shingle document-frequency bound for exact-Jaccard candidate
#: generation. Candidate cost is Σ df(shingle)²; with df capped at
#: MAX_DF it collapses to ≤ MAX_DF · Σ df = MAX_DF · |index| — linear
#: in corpus size instead of quadratic in the hottest shingle. A
#: shingle shared by >100 documents is boilerplate, not evidence of
#: near-duplication, so recall loss is negligible (standard
#: stop-shingle trade).
MAX_DF = 100


def _duck_j4(inter: str, union: str) -> str:
    """DuckDB fragment: ``round(inter/union, 4)`` scaled by 10^4,
    computed in exact integer arithmetic (mirror of
    ``functions.text.round4_ratio``). Emit ``{_duck_j4(..)}/10000.0``
    for the jaccard column and compare ``{_duck_j4(..)} >= t*10^4``
    for the threshold — the filter must apply to the ROUNDED value on
    both sides or boundary pairs diverge between engines."""
    return f"((20000*({inter}) + ({union})) // (2*({union})))"


#: the ngram-family oracles all threshold on the same rounded jaccard
_J4_NGRAM = _duck_j4("inter", "na.n_sh + nb.n_sh - inter")


def _duck_rare_shingle_index(src: str) -> str:
    """DuckDB CTE fragment mirroring shingle_index + the ``max_df``
    stop-shingle filter of ``ngram_jaccard_pairs`` — defines ``s``
    (doc_id, sh) with shingles of document frequency > MAX_DF removed,
    exactly as the Spark side drops them before pairing."""
    return f"""
      s0 AS (SELECT doc_id, unnest({_DUCK_SHINGLES}) AS sh FROM {src}),
      keep AS (SELECT sh FROM s0 GROUP BY sh HAVING COUNT(*) <= {MAX_DF}),
      s AS (SELECT s0.doc_id, s0.sh FROM s0 JOIN keep USING (sh))
    """


@query(
    "text_tokens",
    f"""
    SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (SELECT lang, unnest({_DUCK_TOKS}) AS token FROM documents)
    GROUP BY lang, token
    ORDER BY lang, token
    """,
    doc="I4 tokenize + frequency count (explode → groupBy; partial agg "
    "keeps shuffle at vocab size, not corpus size)",
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("lang", F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "text_quality",
    f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
         c AS (SELECT doc_id,
                      len(toks) AS n,
                      len(list_distinct(toks)) AS u,
                      len(list_filter(toks, __x -> list_contains({EN_STOPWORDS!r}, __x))) AS s,
                      -- list_sum, NOT list_reduce: reduce ERRORS on an
                      -- empty list (zero-token doc); list_sum yields
                      -- NULL there, and the n=0 ratio is NULL anyway
                      list_sum(list_transform(toks, __x -> len(__x))) AS chars
               FROM t)
    SELECT doc_id,
           CAST(n AS INT) AS n_tokens,
           CAST(u AS INT) AS n_uniq,
           ((20000*u + n) // (2*n)) / 10000.0                         AS ttr,
           ((20000*chars + n) // (2*n)) / 10000.0                     AS avg_token_len,
           ((20000*s + n) // (2*n)) / 10000.0                         AS stop_ratio,
           ((20000*(400*u + 300*s + 3*least(n, 100)*n) + 1000*n)
              // (2000*n)) / 10000.0                                  AS quality
    FROM c
    ORDER BY doc_id
    """,
    doc="I4 quality scoring: token count, type-token ratio, avg token "
    "length, stopword ratio, composite score — all narrow expressions. "
    "Every 4-decimal ratio is rounded in exact integer arithmetic "
    "(functions.text.round4_ratio): double ROUND diverges between "
    "engines at half boundaries (caught by the sf0.1 sweep; the "
    "composite quality = (400u + 300s + 3·min(n,100)·n) / 1000n).",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    n = token_count(text).cast("long")
    u = F.size(distinct_tokens(text)).cast("long")
    s = stopword_count(text).cast("long")
    chars = F.aggregate(
        tokens(text), F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    q_num = F.lit(400) * u + F.lit(300) * s + F.lit(3) * F.least(n, F.lit(100)) * n
    return d.select(
        "doc_id",
        n.cast("int").alias("n_tokens"),
        u.cast("int").alias("n_uniq"),
        round4_ratio(u, n).alias("ttr"),
        round4_ratio(chars, n).alias("avg_token_len"),
        round4_ratio(s, n).alias("stop_ratio"),
        round4_ratio(q_num, F.lit(1000) * n).alias("quality"),
    )


@query(
    "text_lang_id",
    f"""
    WITH t AS (SELECT doc_id, lang, {_DUCK_TOKS} AS toks FROM documents),
         c AS (SELECT doc_id, lang, len(toks) AS n,
                      len(list_filter(toks, __x -> list_contains({EN_STOPWORDS!r}, __x))) AS s
               FROM t)
    SELECT doc_id,
           lang AS labeled_lang,
           ((20000*s + n) // (2*n)) / 10000.0 AS en_score,
           CASE WHEN 20*s > n THEN 'en' ELSE 'und' END AS pred_lang
    FROM c
    ORDER BY doc_id
    """,
    doc="I4 language-ID heuristic: stopword-hit ratio per language "
    "profile (fixture text is synthetic word soup, so the interesting "
    "part is the operator shape: per-row set-membership scoring). "
    "Score rounding and the 0.05 cutoff are both integer-exact "
    "(s/n > 0.05 ⇔ 20s > n) — no float boundary on either side.",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    n = token_count(text).cast("long")
    s = stopword_count(text).cast("long")
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        round4_ratio(s, n).alias("en_score"),
        F.when(F.lit(20) * s > n, "en").otherwise("und").alias("pred_lang"),
    )


@query(
    "text_fingerprint",
    f"""
    SELECT doc_id,
           md5(trim(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \\t\\n\\r\\f\\v]+', ' ', 'g'), ' ')) AS fp,
           list_min(list_transform({_DUCK_SHINGLES}, __s -> md5(__s))) AS min_shingle_fp
    FROM documents
    ORDER BY doc_id
    """,
    doc="I4 document fingerprinting: whole-doc md5 of normalized text + "
    "winnowing-style min-shingle-hash fingerprint",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        fingerprint(F.col("text")).alias("fp"),
        min_shingle_fingerprint(F.col("text"), 5).alias("min_shingle_fp"),
    )


@query(
    "text_token_regex",
    """
    SELECT doc_id,
           CAST(len(list_filter(string_split(text, ' '), __t -> len(__t) > 0)) AS INT)
             AS n_ws_tokens,
           CAST(len(regexp_extract_all(text || ' ' || doc_id, '[a-z]+|[0-9]+')) AS INT)
             AS n_re_tokens
    FROM documents
    ORDER BY doc_id
    """,
    doc="I4 token counting: whitespace count + BPE-ish regex extraction "
    "count (letters/digit runs)",
)
def text_token_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    aug = F.concat(F.col("text"), F.lit(" "), F.col("doc_id").cast("string"))
    return d.select(
        "doc_id",
        token_count(F.col("text")).cast("int").alias("n_ws_tokens"),
        F.size(bpe_ish_tokens(aug)).cast("int").alias("n_re_tokens"),
    )


@query(
    "dedup_exact",
    """
    SELECT md5(trim(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \\t\\n\\r\\f\\v]+', ' ', 'g'), ' ')) AS text_hash,
           CAST(MIN(doc_id) AS BIGINT)  AS keeper_id,
           CAST(COUNT(*) AS BIGINT)     AS n_copies
    FROM documents
    GROUP BY 1
    ORDER BY text_hash
    """,
    doc="I1 exact dedup: hash-groupBy on a 16-byte digest (at 100 TB: "
    "shuffle digests, never full text), min-id keeper policy",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return dedup_exact(d, "text", "doc_id")


@query(
    "dedup_passages",
    f"""
    WITH t AS (
      SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
    ),
    w AS (
      SELECT t.doc_id, CAST(u.p AS INT) AS pos,
             array_to_string(
               (t.toks)[CAST(u.p*32+1 AS BIGINT):CAST(u.p*32+32 AS BIGINT)],
               ' ') AS ptext
      FROM t, UNNEST(range(0, CAST(ceil(len(t.toks)/32.0) AS BIGINT))) AS u(p)
      WHERE len(t.toks) > 0
    ),
    h AS (SELECT doc_id, pos, ptext, md5(ptext) AS ph FROM w),
    occ AS (
      SELECT ph, COUNT(*) AS n_occ, MIN((doc_id, pos)) AS first
      FROM h GROUP BY ph
    ),
    j AS (
      SELECT h.doc_id, h.pos, h.ptext, occ.n_occ,
             (occ.n_occ = 1 OR (h.doc_id, h.pos) = occ.first) AS keep
      FROM h JOIN occ ON h.ph = occ.ph
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT)                                  AS n_passages,
           CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
           CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT)      AS n_removed,
           md5(COALESCE(string_agg(ptext, ' ' ORDER BY pos)
                        FILTER (WHERE keep), ''))                     AS clean_hash
    FROM j GROUP BY doc_id
    """,
    doc="I2 passage-level exact dedup (r10): 32-token windows hashed, "
    "only the globally first occurrence of a repeated passage kept — "
    "the boilerplate/licence/navigation remover document-level dedup "
    "cannot see. Per-doc survivors fingerprinted via position-ordered "
    "md5. Occurrence counting is groupBy(hash)+join, NOT a window: a "
    "boilerplate passage is a hot key, and the groupBy/join pair is "
    "map-side-combined and AQE-skew-splittable where a window funnels "
    "the key through one task.",
)
def q_dedup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_work_flow_for_big_data_spark.operators.dedup import passage_dedup

    d = load_table(spark, sf_dir, "documents")
    return passage_dedup(d, "text", "doc_id", window_tokens=32)


@query(
    "dedup_ngram",
    f"""
    WITH {_duck_rare_shingle_index("documents")},
         n AS (SELECT doc_id, COUNT(*) AS n_sh FROM s GROUP BY doc_id),
         p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
               FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
    SELECT d1, d2,
           {_J4_NGRAM} / 10000.0 AS jaccard
    FROM p JOIN n na ON p.d1 = na.doc_id JOIN n nb ON p.d2 = nb.doc_id
    WHERE {_J4_NGRAM} >= 5000
    ORDER BY d1, d2
    """,
    doc="I2 exact n-gram Jaccard near-dup pairs via inverted shingle "
    "index (explode + equi-join; the exact baseline the LSH variant "
    "approximates). Stop-shingles with df > MAX_DF are dropped before "
    "pairing, bounding candidate cost at MAX_DF x index size.",
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        d, "text", "doc_id", k=5, threshold=0.5, max_df=MAX_DF
    )


@query(
    "dedup_minhash",
    f"""
    WITH base AS (
      SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM documents
    ),
    sig AS (
      SELECT doc_id, sh,
             list_transform(range(0, 12),
               __i -> list_min(list_transform(sh,
                 __s -> substring(md5((__i // 8) || '#' || __s),
                                  (__i % 8) * 4 + 1, 4)))) AS sig
      FROM base
    ),
    banded AS (
      SELECT doc_id,
             unnest(list_transform(range(0, 4),
               __b -> __b || ':' || array_to_string(list_slice(sig, __b*3 + 1, __b*3 + 3), '|')))
               AS band
      FROM sig
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
      FROM banded x JOIN banded y ON x.band = y.band AND x.doc_id < y.doc_id
    )
    SELECT d1, d2,
           {_duck_j4("len(list_intersect(s1.sh, s2.sh))",
                     "len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh))")}
             / 10000.0 AS jaccard
    FROM cand
    JOIN base s1 ON cand.d1 = s1.doc_id
    JOIN base s2 ON cand.d2 = s2.doc_id
    WHERE {_duck_j4("len(list_intersect(s1.sh, s2.sh))",
                    "len(s1.sh) + len(s2.sh) - len(list_intersect(s1.sh, s2.sh))")} >= 5000
    ORDER BY d1, d2
    """,
    doc="I2 MinHash-LSH near-dup: word-split md5 hash family (8 16-bit "
    "hashes per md5) → 12-row signature → 4-band bucket equi-join → "
    "exact-Jaccard verify. Sub-quadratic: shuffle O(docs×bands), not "
    "O(docs²). Oracle mirrors the exact hash family, so candidates "
    "are engine-independent.",
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # footer row count (metadata read) feeds the r13 size gate: a
    # provably dim-sized corpus keeps the broadcast join plan, a big
    # or unknown one pins sort-merge (see minhash_lsh_pairs)
    return minhash_lsh_pairs(
        d, "text", "doc_id", k=5, n_hashes=12, n_bands=4, threshold=0.5,
        corpus_rows=_footer_rows(sf_dir, "documents"),
    )


@query(
    "dedup_simhash",
    f"""
    WITH t AS (SELECT doc_id, list_distinct({_DUCK_TOKS}) AS toks FROM documents)
    SELECT doc_id,
           -- inner vote via list_sum, NOT list_reduce: reduce ERRORS
           -- on an empty token list; list_sum yields NULL there, the
           -- CASE falls through to 0 per bit, and simhash = 0 exactly
           -- like Spark's empty-array aggregate
           CAST(list_reduce(list_transform(range(0, 16), __j -> CASE WHEN
               list_sum(list_transform(toks,
                 __t -> CASE WHEN ((CAST('0x' || substring(md5(__t), 1, 4) AS INT) >> __j) & 1) = 1
                             THEN 1 ELSE -1 END)) > 0
             THEN (1 << __j) ELSE 0 END), (__x, __y) -> __x + __y) AS INT) AS simhash
    FROM t
    ORDER BY doc_id
    """,
    doc="I2 SimHash fingerprints: 16-bit sign-of-bit-votes over distinct "
    "tokens; constant per-doc state — the cheapest near-dup candidate "
    "generator at scale",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return simhash_fingerprints(d, "text", "doc_id").select(
        F.col("id").alias("doc_id"), "simhash"
    )


@query(
    "text_chunk",
    f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    n AS (SELECT doc_id, toks,
                 CASE WHEN len(toks) <= 32 THEN 1
                      ELSE CAST(CEIL((len(toks) - 32) / 24.0) AS INT) + 1 END AS n_chunks
          FROM t)
    SELECT doc_id,
           CAST(c AS INT)                                        AS chunk_idx,
           -- COALESCE: duck's array_to_string([]) is NULL where
           -- spark's array_join([]) is '' (zero-token doc's one chunk)
           COALESCE(array_to_string(toks[c*24 + 1 : c*24 + 32], ' '), '') AS chunk_text,
           CAST(len(toks[c*24 + 1 : c*24 + 32]) AS INT)          AS n_chunk_tokens
    FROM n, unnest(range(0, n_chunks)) AS u(c)
    ORDER BY doc_id, chunk_idx
    """,
    doc="I4 document chunking for training pipelines: 32-token windows "
    "with 8-token overlap (stride 24), one output row per chunk — "
    "narrow explode, no shuffle",
)
def text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n = F.size(toks)
    n_chunks = F.when(n <= 32, 1).otherwise(
        F.ceil((n - 32) / F.lit(24.0)).cast("int") + 1
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda c: F.struct(
            c.cast("int").alias("chunk_idx"),
            F.array_join(F.slice(toks, c * 24 + 1, 32), " ").alias("chunk_text"),
            F.size(F.slice(toks, c * 24 + 1, 32)).cast("int").alias("n_chunk_tokens"),
        ),
    )
    return (
        d.select("doc_id", F.explode(chunks).alias("c"))
        .select("doc_id", "c.chunk_idx", "c.chunk_text", "c.n_chunk_tokens")
    )


@query(
    "dedup_apply",
    f"""
    WITH {_duck_rare_shingle_index("documents")},
         n AS (SELECT doc_id, COUNT(*) AS n_sh FROM s GROUP BY doc_id),
         p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
               FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
               GROUP BY 1, 2),
         dups AS (SELECT DISTINCT d2 FROM p
                  JOIN n na ON p.d1 = na.doc_id JOIN n nb ON p.d2 = nb.doc_id
                  WHERE {_J4_NGRAM} >= 5000)
    SELECT doc_id, lang, source
    FROM documents WHERE doc_id NOT IN (SELECT d2 FROM dups)
    ORDER BY doc_id
    """,
    doc="I2 dedup application: greedy keep-lowest-id over near-dup "
    "pairs (one anti-join; the transitive-closure variant needs "
    "iterative joins and is deliberately not the default at scale). "
    "Candidate generation is MAX_DF-bounded.",
)
def q_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_work_flow_for_big_data_spark.operators.dedup import apply_near_dedup

    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        d, "text", "doc_id", k=5, threshold=0.5, max_df=MAX_DF
    )
    return apply_near_dedup(d, pairs, "doc_id").select(
        "doc_id", "lang", "source"
    )


@query(
    "dedup_components",
    f"""
    WITH RECURSIVE
      {_duck_rare_shingle_index("documents")},
      n AS (SELECT doc_id, COUNT(*) AS n_sh FROM s GROUP BY doc_id),
      p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
            FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
      pairs AS (SELECT d1, d2 FROM p
                JOIN n na ON p.d1 = na.doc_id JOIN n nb ON p.d2 = nb.doc_id
                WHERE {_J4_NGRAM} >= 5000),
      edges AS (SELECT d1 AS a, d2 AS b FROM pairs
                UNION SELECT d2, d1 FROM pairs),
      reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
      )
    SELECT a AS id, CAST(LEAST(a, MIN(b)) AS BIGINT) AS component
    FROM reach GROUP BY a
    """,
    doc="I2 transitive near-dup clusters: connected components over "
    "n-gram Jaccard pairs via large-star/small-star alternation "
    "(Kiveris et al. — O(log n) rounds regardless of cluster shape; "
    "lazy per-round checkpoints keep the plan O(1) per round and the "
    "convergence probe is the round's single job; min-label "
    "propagation retained as the property-tested reference). The "
    "oracle computes the exact transitive closure with a recursive "
    "CTE — so even the iterative algorithm is hash-checked, not "
    "rows-only. The closure is O(cluster²) and fine at oracle scale; "
    "the engine side stays O(rounds x edges).",
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_work_flow_for_big_data_spark.operators.dedup import connected_components

    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        d, "text", "doc_id", k=5, threshold=0.5, max_df=MAX_DF
    )
    return connected_components(pairs)


@query(
    "llm_clean_corpus",
    f"""
    WITH q AS (
      SELECT doc_id, lang, source, text,
             CAST(len({_DUCK_TOKS}) AS INT) AS n_tokens
      FROM documents
      WHERE len({_DUCK_TOKS}) >= 20
    ),
    k AS (
      SELECT MIN(doc_id) AS doc_id
      FROM q GROUP BY md5(trim(regexp_replace(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[ \\t\\n\\r\\f\\v]+', ' ', 'g'), ' '))
    ),
    u AS (SELECT q.* FROM q JOIN k USING (doc_id)),
    {_duck_rare_shingle_index("u")},
    n AS (SELECT doc_id, count(*) AS n_sh FROM s GROUP BY doc_id),
    p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
          FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
    dups AS (SELECT DISTINCT d2 FROM p
             JOIN n na ON p.d1 = na.doc_id JOIN n nb ON p.d2 = nb.doc_id
             WHERE {_J4_NGRAM} >= 5000)
    SELECT doc_id, lang, source, n_tokens
    FROM u WHERE doc_id NOT IN (SELECT d2 FROM dups)
    """,
    doc="Flagship LLM training-data prep pipeline, end to end in ONE "
    "Catalyst plan: quality gate (token count >= 20) -> exact dedup "
    "(normalized-md5 digest groupBy, min-id keeper) -> near-dup "
    "removal (5-gram Jaccard >= 0.5, greedy keep-lowest-id) -> clean "
    "corpus projection. At 100 TB every stage shuffles digests/ids, "
    "never document text; candidate generation is MAX_DF-bounded "
    "(stop-shingles dropped), keeping the near-dup stage linear in "
    "index size while staying hash-oracle-checkable; swap the pair "
    "stage to minhash_lsh_pairs for the sub-quadratic variant.",
)
def llm_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_work_flow_for_big_data_spark.operators.dedup import apply_near_dedup

    d = load_table(spark, sf_dir, "documents")
    qual = d.withColumn(
        "n_tokens", token_count(F.col("text")).cast("int")
    ).filter(F.col("n_tokens") >= 20)
    keepers = dedup_exact(qual, "text", "doc_id").select(
        F.col("keeper_id").alias("doc_id")
    )
    uniq = qual.join(keepers, "doc_id", "left_semi")
    pairs = ngram_jaccard_pairs(
        uniq, "text", "doc_id", k=5, threshold=0.5, max_df=MAX_DF
    )
    clean = apply_near_dedup(uniq, pairs, "doc_id")
    return clean.select("doc_id", "lang", "source", "n_tokens")


@query(
    "text_scrub",
    """
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || doc_id ||
             '@example.com or https://site' || doc_id ||
             '.io ref 4111111111111111' AS raw
      FROM documents
    )
    SELECT doc_id,
           md5(regexp_replace(regexp_replace(regexp_replace(raw,
                 '[a-z0-9._]+@[a-z0-9.-]+', '<EMAIL>', 'g'),
                 'https?://[a-z0-9./-]+', '<URL>', 'g'),
                 '[0-9]{13,16}', '<NUM>', 'g'))                  AS scrubbed_hash,
           CAST(len(regexp_extract_all(raw, '[a-z0-9._]+@[a-z0-9.-]+')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(raw, 'https?://[a-z0-9./-]+')) AS INT)   AS n_urls
    FROM aug
    """,
    doc="I4 PII scrubbing: email/URL/long-digit-run redaction via "
    "chained regexp_replace (the fixture corpus carries no PII, so "
    "synthetic markers are injected deterministically first — the "
    "operator under test is the scrub chain). Narrow per-row "
    "expressions; at 100 TB this is a map-only pass.",
)
def text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or https://site"),
        F.col("doc_id").cast("string"),
        F.lit(".io ref 4111111111111111"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(raw, r"[a-z0-9._]+@[a-z0-9.-]+", "<EMAIL>"),
            r"https?://[a-z0-9./-]+",
            "<URL>",
        ),
        r"[0-9]{13,16}",
        "<NUM>",
    )
    return d.select(
        "doc_id",
        F.md5(scrubbed).alias("scrubbed_hash"),
        F.size(F.regexp_extract_all(raw, F.lit(r"[a-z0-9._]+@[a-z0-9.-]+"), 0))
        .cast("int")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(raw, F.lit(r"https?://[a-z0-9./-]+"), 0))
        .cast("int")
        .alias("n_urls"),
    )


@query(
    "split_assign",
    """
    SELECT doc_id,
           CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT)
                % 100 AS INT)                             AS bucket,
           CASE WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT)
                     % 100 < 90 THEN 'train'
                WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT)
                     % 100 < 95 THEN 'val'
                ELSE 'test' END                           AS split
    FROM documents
    """,
    doc="I4/D train-val-test assignment: deterministic hash-bucket "
    "split (md5 of the id, 90/5/5) — reproducible across engines, "
    "runs, and cluster sizes; no sampling state, no shuffle. The "
    "standard way to split 100 TB without materializing a permutation.",
)
def split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bucket = hash_bucket(F.col("doc_id"), 100)
    return d.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < 90, "train")
        .when(bucket < 95, "val")
        .otherwise("test")
        .alias("split"),
    )


@query(
    "pack_sequences",
    """
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(string_split(text, ' '), __t -> len(__t) > 0)) AS INT)
               AS n_tokens
      FROM documents
    )
    SELECT doc_id, lang, n_tokens,
           CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - n_tokens) / 512.0) AS BIGINT) AS seq_id
    FROM t
    """,
    doc="I4 sequence packing: assign docs to fixed token-budget "
    "training sequences (512 tokens) by running-sum window within "
    "language — each doc lands in the sequence where its text starts. "
    "One window shuffle on the partition key; deterministic (integer "
    "sums, id-ordered frames — doc_id is unique by fixture contract; "
    "duplicate ids would make tied rows' running sums order-dependent "
    "in principle, probed invariant across partition counts in r9). "
    "The packing every LLM data loader "
    "needs before concat-and-chunk. SCALE NOTE: the per-lang running "
    "sum is a serial funnel by contract (a prefix sum cannot "
    "parallelize within its key). At 100 TB, subdivide the key — see "
    "pack_sequences_bucketed (operators.transforms.pack_sequences "
    "with n_buckets), which partitions by (lang, hash bucket of "
    "doc_id) so each bucket packs independently; sequences never "
    "spanned buckets anyway once the loader shards by the same hash.",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_tok = token_count(F.col("text")).cast("int")
    t = d.select("doc_id", "lang", n_tok.alias("n_tokens"))
    return pack_window(t).select("doc_id", "lang", "n_tokens", "seq_id")


@query(
    "pack_sequences_bucketed",
    """
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(string_split(text, ' '), __t -> len(__t) > 0)) AS INT)
               AS n_tokens,
             CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT)
                  % 8 AS INT) AS bucket
      FROM documents
    )
    SELECT doc_id, lang, bucket, n_tokens,
           CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY lang, bucket ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - n_tokens) / 512.0) AS BIGINT) AS seq_id
    FROM t
    """,
    doc="I4 sequence packing, 100-TB form: the per-lang prefix sum is "
    "a serial funnel by contract (pack_sequences' documented "
    "scale-killer), so the window partition key is subdivided by a "
    "deterministic md5 hash bucket of doc_id (8 here; sized by "
    "tokens-per-task at scale) — each (lang, bucket) packs "
    "independently and concurrently, and within every bucket the "
    "assignment is identical to unbucketed packing of that bucket's "
    "rows (contract pinned by tests/test_pack_sequences.py). "
    "(lang, bucket, seq_id) names a sequence; loaders shard by the "
    "same hash family as split_assign/mix_weighted.",
)
def pack_sequences_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_tok = token_count(F.col("text")).cast("int")
    t = d.select("doc_id", "lang", n_tok.alias("n_tokens"))
    return pack_window(t, n_buckets=8).select(
        "doc_id", "lang", "bucket", "n_tokens", "seq_id"
    )


@query(
    "text_editdist",
    """
    SELECT p.c_custkey AS a_key, q.c_custkey AS b_key,
           CAST(levenshtein(p.c_name, q.c_name) AS INT) AS edit_dist
    FROM customer p JOIN customer q ON q.c_custkey = p.c_custkey + 1
    WHERE p.c_custkey < 200
    """,
    doc="I4/B8 string-similarity scalar: levenshtein distance between "
    "neighboring customer names — the short-string near-dup metric "
    "(shingle Jaccard degenerates below ~k tokens). Narrow per-pair "
    "expression after an equi-join. The registered metric is pinned at "
    "the BYTE level: DuckDB's levenshtein runs its Wagner-Fischer DP "
    "over UTF-8 bytes while Spark's runs over codepoints (東→x is 1 "
    "edit in Spark, 3 in duck — found by the seeded fuzz sweep), so "
    "the Spark side round-trips through encode/decode(ISO-8859-1), "
    "whose chars are exactly the UTF-8 bytes. Identical to codepoint "
    "distance on ASCII names; Spark-native codepoint levenshtein "
    "remains available to library callers as F.levenshtein.",
)
def text_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    p = c.filter(F.col("c_custkey") < 200).select(
        F.col("c_custkey").alias("a_key"), F.col("c_name").alias("a_name")
    )
    q = c.select(
        (F.col("c_custkey") - 1).alias("a_key"),
        F.col("c_custkey").alias("b_key"),
        F.col("c_name").alias("b_name"),
    )

    def _bytes_as_chars(col: str):  # UTF-8 bytes, one Latin-1 char each
        return F.decode(F.encode(F.col(col), "UTF-8"), "ISO-8859-1")

    return p.join(q, "a_key").select(
        "a_key",
        "b_key",
        F.levenshtein(_bytes_as_chars("a_name"), _bytes_as_chars("b_name"))
        .cast("int")
        .alias("edit_dist"),
    )


@query(
    "decontaminate",
    f"""
    WITH bench AS (
      SELECT DISTINCT unnest({_DUCK_SHINGLES}) AS sh
      FROM documents WHERE doc_id < 5
    ),
    corpus AS (SELECT doc_id, unnest({_DUCK_SHINGLES}) AS sh FROM documents),
    shared AS (
      SELECT c.doc_id AS id, CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM corpus c JOIN bench b ON c.sh = b.sh
      GROUP BY 1
    )
    SELECT d.doc_id AS id,
           COALESCE(s.n_shared, 0)      AS n_shared,
           COALESCE(s.n_shared, 0) >= 1 AS contaminated
    FROM documents d LEFT JOIN shared s ON d.doc_id = s.id
    """,
    doc="I2/I4 benchmark decontamination: flag training docs sharing "
    "any 5-gram with the eval set (here: docs 0-4 standing in as the "
    "benchmark) — inverted-index equi-join with the benchmark side "
    "broadcast; the eval-leakage screen every corpus release runs.",
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_work_flow_for_big_data_spark.operators.dedup import (
        contamination_flags,
    )

    d = load_table(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") < 5)
    return contamination_flags(d, bench, "text", "doc_id", k=5, min_shared=1)


@query(
    "mix_weighted",
    """
    SELECT doc_id, lang,
           CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT)
                % 100 AS INT) AS bucket
    FROM documents
    WHERE CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT) % 100
          < CASE WHEN lang = 'en' THEN 80 ELSE 50 END
    """,
    doc="Corpus mixing: per-source weighted sampling by deterministic "
    "hash bucket (en at 80%, everything else at 50%) — the "
    "dataset-mixing step of a training pipeline, reproducible across "
    "engines/runs/cluster sizes, zero shuffle, composes with "
    "split_assign (same bucket family).",
)
def mix_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bucket = hash_bucket(F.col("doc_id"), 100)
    rate = F.when(F.col("lang") == "en", 80).otherwise(50)
    return d.filter(bucket < rate).select(
        "doc_id", "lang", bucket.alias("bucket")
    )


@query(
    "sample_quota",
    """
    SELECT doc_id, source, quota_rank FROM (
      SELECT doc_id, source,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS INT) AS quota_rank
      FROM documents
    ) WHERE quota_rank <= 10
    """,
    doc="I4 per-domain quota sampling: keep at most N docs per source, "
    "chosen by deterministic hash order (md5 of the id = a seeded "
    "uniform draw with no sampling state; doc_id tie-break) — the "
    "domain-balancing cap every crawl pipeline applies before "
    "training. Spark executes the rank<=N filter with "
    "WindowGroupLimit (plan-asserted): each map task keeps only its "
    "local top-N per key BEFORE the shuffle, so a hot domain ships "
    "N rows per input partition, not its whole row set — the reason "
    "this form survives a skewed 100-TB crawl where a naive "
    "sort-within-partition would funnel the hot domain through one "
    "task's sort.",
)
def sample_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select(
            "doc_id",
            "source",
            F.row_number().over(w).cast("int").alias("quota_rank"),
        )
        .filter(F.col("quota_rank") <= 10)
    )


@query(
    "text_repetition",
    """
    WITH w AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), __t -> len(__t) > 0)) AS w
      FROM documents
    ),
    wc AS (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(c) AS INT)   AS n_words,
           CAST(COUNT(*) AS INT) AS n_distinct_words,
           CAST(MAX(c) AS INT)   AS top_word_count
    FROM wc GROUP BY 1
    """,
    doc="I4 repetition filter (the Gopher/RefinedWeb quality-rule "
    "family): per-doc total / distinct / top-word counts, from which "
    "the duplicate-word fraction (1 - distinct/total) and "
    "top-word fraction (top/total) quality gates derive. Outputs are "
    "EXACT integers — no floats, so the oracle contract holds at any "
    "scale with no rounding discipline needed; consumers do the "
    "division. Docs with no tokens produce no row (explode "
    "semantics, both engines). Plan: explode -> partial-combined "
    "groupBy (doc_id, word) -> groupBy doc_id; the map-side partial "
    "agg means a spammy doc repeating one word ships one combined "
    "row per map task, not its raw word stream — the repetition the "
    "filter hunts is exactly what the shuffle combines away.",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_work_flow_for_big_data_spark.functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    w = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
    wc = w.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    return wc.groupBy("doc_id").agg(
        F.sum("c").cast("int").alias("n_words"),
        F.count("*").cast("int").alias("n_distinct_words"),
        F.max("c").cast("int").alias("top_word_count"),
    )
