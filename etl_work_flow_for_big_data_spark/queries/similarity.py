"""Similarity-search query family (SURVEY.md §2.I I3/I5) over the
``embeddings`` table (500–2000 × 64-dim float vectors).

Oracle parity: both sides compute cosine with the same double-
precision left-to-right fold (see functions/vectors.py), round to 6dp
BEFORE ranking, and tie-break on vec_id — bit-identical results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_work_flow_for_big_data_spark.catalog import load_table
from etl_work_flow_for_big_data_spark.operators.similarity import (
    _stat_fingerprint,
    ann_lsh_topk,
    cosine_pairs,
    topk_cosine,
)
from etl_work_flow_for_big_data_spark.queries import query

#: DuckDB fragments mirroring functions/vectors.py exactly
_DOT = """
list_reduce(
  list_transform(range(1, len({a}) + 1),
    __i -> CAST({a}[__i] AS DOUBLE) * CAST({b}[__i] AS DOUBLE)),
  (__x, __y) -> __x + __y)
"""


def _duck_cos(a: str, b: str) -> str:
    return (
        f"({_DOT.format(a=a, b=b)}) / "
        f"sqrt(({_DOT.format(a=a, b=a)}) * ({_DOT.format(a=b, b=b)}))"
    )


#: validity CTE: the kernel-backed queries (topk/pairs/ivf) consider
#: only vectors where cosine is defined — mirror of
#: functions.vectors.is_valid_embedding — AND of contract width
#: (len = 64): the list-indexed _DOT silently computes a PREFIX dot
#: against a longer vector, so without the width clause the oracle
#: pairs rows the fixed-width kernel correctly excludes (r9 ragged
#: probe). The LSH queries keep admitting zero/NaN vectors (their
#: pure-Catalyst sign computation treats them identically on both
#: engines — fuzz-proven) but share the width filter, since a short
#: vector is an ANSI element_at error in Spark and a NULL-projection
#: bucket in DuckDB.
_DUCK_VALID_EMB = f"""
    v AS (SELECT vec_id, embedding FROM embeddings
          WHERE isfinite({_DOT.format(a='embedding', b='embedding')})
            AND ({_DOT.format(a='embedding', b='embedding')}) > 0
            AND len(embedding) = 64)
"""


@query(
    "sim_topk",
    f"""
    WITH {_DUCK_VALID_EMB}
    SELECT q.vec_id AS q_vec_id,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY ROUND({_duck_cos('q.embedding', 'c.embedding')}, 6) DESC,
                      c.vec_id) AS BIGINT)                       AS rank,
           c.vec_id AS c_vec_id,
           ROUND({_duck_cos('q.embedding', 'c.embedding')}, 6)   AS cos_sim
    FROM (SELECT * FROM v WHERE vec_id < 5) q
    JOIN v c ON q.vec_id <> c.vec_id
    QUALIFY rank <= 10
    ORDER BY q_vec_id, rank
    """,
    doc="I3 exact top-k cosine: broadcast query set × streamed "
    "candidates, no candidate shuffle; rank on rounded similarity. "
    "Degenerate vectors (NULL/zero/NaN) and wrong-width vectors are "
    "out of domain on both sides (is_valid_embedding dim=64 / the "
    "validity CTE).",
)
def sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_work_flow_for_big_data_spark.functions.vectors import is_valid_embedding

    e = load_table(spark, sf_dir, "embeddings").filter(
        is_valid_embedding(F.col("embedding"), dim=64)
    )
    return topk_cosine(
        e.filter(F.col("vec_id") < 5), e, "vec_id", "embedding", k=10
    )


@query(
    "sim_pairs",
    f"""
    WITH {_DUCK_VALID_EMB}
    SELECT a.vec_id AS d1, b.vec_id AS d2,
           ROUND({_duck_cos('a.embedding', 'b.embedding')}, 6) AS cos_sim
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE ROUND({_duck_cos('a.embedding', 'b.embedding')}, 6) >= 0.4
    ORDER BY d1, d2
    """,
    doc="I2/I3 embedding near-dup pairs (exact O(n²) baseline; the LSH "
    "variant below is the scale path). Degenerate and wrong-width "
    "vectors are out of domain on both sides.",
)
def sim_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_work_flow_for_big_data_spark.catalog import table_row_count
    from etl_work_flow_for_big_data_spark.functions.vectors import is_valid_embedding

    e = load_table(spark, sf_dir, "embeddings").filter(
        is_valid_embedding(F.col("embedding"), dim=64)
    )
    # parquet-footer count: sizes the hash blocks without a scan job
    # (upper bound — the validity filter only shrinks blocks)
    n = table_row_count(sf_dir, "embeddings")
    # dim=64: the embeddings fixture contract (TESTDATA.md; same
    # constant the LSH plane generator assumes) — pins the kernel
    # width so no y-block can mis-infer it from corrupted rows
    return cosine_pairs(e, "vec_id", "embedding", threshold=0.4, n_hint=n, dim=64)


@query(
    "dedup_embedding",
    f"""
    WITH {_DUCK_VALID_EMB},
    p AS (
      SELECT a.vec_id AS d1, b.vec_id AS d2
      FROM v a JOIN v b ON a.vec_id < b.vec_id
      WHERE ROUND({_duck_cos('a.embedding', 'b.embedding')}, 6) >= 0.4
    )
    SELECT doc_id, lang, source
    FROM documents WHERE doc_id NOT IN (SELECT DISTINCT d2 FROM p)
    ORDER BY doc_id
    """,
    doc="I2 embedding-cosine near-dup REMOVAL: the semantic-dedup "
    "composition a training pipeline runs (cosine pairs over the "
    "document embeddings → greedy keep-lowest-id anti-join on the "
    "documents table; embeddings.vec_id IS documents.doc_id per the "
    "fixture contract). Threshold 0.4 is the fixtures' similarity "
    "tail — their embeddings plant no true near-dups (max pair cos "
    "~0.51) and a production run sets ~0.9; the operator is "
    "threshold-parametric. Same blocked pair grid as sim_pairs "
    "(scale path: sim_ann_lsh candidates feed the same anti-join); "
    "same one-anti-join application as dedup_apply.",
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_work_flow_for_big_data_spark.catalog import table_row_count
    from etl_work_flow_for_big_data_spark.functions.vectors import is_valid_embedding
    from etl_work_flow_for_big_data_spark.operators.dedup import apply_near_dedup

    e = load_table(spark, sf_dir, "embeddings").filter(
        is_valid_embedding(F.col("embedding"), dim=64)
    )
    n = table_row_count(sf_dir, "embeddings")
    pairs = cosine_pairs(
        e, "vec_id", "embedding", threshold=0.4, n_hint=n, dim=64
    )
    d = load_table(spark, sf_dir, "documents")
    return apply_near_dedup(d, pairs, "doc_id").select(
        "doc_id", "lang", "source"
    )


#: md5 hyperplane signature — exact mirror of
#: functions.vectors.lsh_hyperplane_sig (defined here, above its first
#: use in dedup_embedding_ann; also consumed by the sim_ann_* oracles).
#: ``{np}`` is the plane count: the sim_ann_* oracles pin 8 (matching
#: their registered queries), the dedup_embedding_ann[_h1] oracles pass
#: the corpus-scaled ``np`` from the _DUCK_NP params CTE (r14).
_DUCK_SIG = """
list_reduce(list_transform(range(0, {np}), __p -> CASE WHEN
  list_reduce(list_transform(range(1, 65),
    __i -> (CAST('0x' || substring(md5(__p || '_' || __i), 1, 4) AS INT) % 1001 - 500)
           * CAST({v}[__i] AS DOUBLE)),
    (__x, __y) -> __x + __y) >= 0
  THEN (1 << __p) ELSE 0 END), (__x, __y) -> __x + __y)
"""

#: Corpus-scaled plane count (VERDICT r13 #2): n_planes =
#: clamp(ceil-ish log2(rows / 4), 8, 24) so bucket count grows with the
#: corpus and per-bucket pair work stays ~constant (verify cost O(n·4)
#: instead of O(n²/2^8)). Derived with EXACT integer ops both engines
#: share — Python ``(n // 4).bit_length()`` == DuckDB
#: ``length(bin(n // 4))`` for n // 4 >= 1 (the n // 4 = 0 case differs,
#: 0 vs 1, but both clamp to 8) — and from the UNFILTERED embeddings
#: row count: the Spark side reads the parquet footer (metadata only),
#: the oracle mirrors with COUNT(*) over the raw table, NOT the
#: validity-filtered view. FP log2 would not be engine-stable at exact
#: powers of two; bit-length is.
_DUCK_NP = """
params AS (
  SELECT GREATEST(8, LEAST(24,
           length(bin((SELECT COUNT(*) FROM embeddings) // 4)))) AS np
)
"""


def _scaled_planes(n: int | None) -> int:
    """Python half of the _DUCK_NP mirror (see its comment)."""
    if n is None:
        return 8
    return max(8, min(24, (n // 4).bit_length()))


@query(
    "dedup_embedding_ann",
    f"""
    WITH {_DUCK_VALID_EMB},
    {_DUCK_NP},
    sig AS (
      SELECT vec_id, embedding, {_DUCK_SIG.format(v='embedding', np='np')} AS bucket
      FROM v, params
    ),
    p AS (
      SELECT a.vec_id AS d1, b.vec_id AS d2
      FROM sig a JOIN sig b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE ROUND({_duck_cos('a.embedding', 'b.embedding')}, 6) >= 0.4
    )
    SELECT doc_id, lang, source
    FROM documents WHERE doc_id NOT IN (SELECT DISTINCT d2 FROM p)
    ORDER BY doc_id
    """,
    doc="I2 embedding near-dup REMOVAL, ANN path (r13, VERDICT r12 "
    "#4): hyperplane-LSH bucket self-join generates candidates, exact "
    "cosine verifies them, then the same greedy keep-lowest-id "
    "anti-join as dedup_embedding removes the d2 side from documents. "
    "This is the REGISTERED scale path for embedding dedup; "
    "dedup_embedding remains the labeled exact O(n²) baseline. r14 "
    "(VERDICT r13 #2): n_planes scales with the footer row count "
    "(clamp(bit_length(n/4), 8, 24), _DUCK_NP mirror) so expected "
    "verify cost is O(n·4), linear, instead of the pinned-8-plane "
    "O(n²/256). Recall < 1 by construction (single table/probe — "
    "production adds tables or probes), but the md5 hash family AND "
    "the plane-count derivation are mirrored exactly in the oracle so "
    "both engines derive the identical candidate set.",
)
def dedup_embedding_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_work_flow_for_big_data_spark.catalog import _footer_rows
    from etl_work_flow_for_big_data_spark.functions.vectors import is_valid_embedding
    from etl_work_flow_for_big_data_spark.operators.dedup import apply_near_dedup
    from etl_work_flow_for_big_data_spark.operators.similarity import (
        ann_near_dup_pairs,
    )

    e = load_table(spark, sf_dir, "embeddings").filter(
        is_valid_embedding(F.col("embedding"), dim=64)
    )
    n = _footer_rows(sf_dir, "embeddings")
    pairs = ann_near_dup_pairs(
        e, "vec_id", "embedding", threshold=0.4,
        n_planes=_scaled_planes(n), dim=64, corpus_rows=n,
    )
    d = load_table(spark, sf_dir, "documents")
    return apply_near_dedup(d, pairs, "doc_id").select(
        "doc_id", "lang", "source"
    )


@query(
    "dedup_embedding_ann_h1",
    f"""
    WITH {_DUCK_VALID_EMB},
    {_DUCK_NP},
    sig AS (
      SELECT vec_id, embedding, {_DUCK_SIG.format(v='embedding', np='np')} AS bucket
      FROM v, params
    ),
    p AS (
      SELECT a.vec_id AS d1, b.vec_id AS d2
      FROM sig a JOIN sig b
        ON a.vec_id < b.vec_id
       AND bit_count(xor(a.bucket, b.bucket)) <= 1
      WHERE ROUND({_duck_cos('a.embedding', 'b.embedding')}, 6) >= 0.4
    )
    SELECT doc_id, lang, source
    FROM documents WHERE doc_id NOT IN (SELECT DISTINCT d2 FROM p)
    ORDER BY doc_id
    """,
    doc="I2 embedding near-dup removal at Hamming-1 multi-probe (r13): "
    "the recall lever on dedup_embedding_ann — the self-join's left "
    "side fans out to its (planes+1)-bucket probe set (base + each "
    "single-bit flip), so pairs whose signatures differ on ≤1 plane "
    "are candidates (~2.3× single-probe recall for cos-0.9 pairs) at "
    "(planes+1)× join fan on ONE side; the corpus bucket index is "
    "untouched. r14: planes scale with the footer row count "
    "(_DUCK_NP / _scaled_planes mirror), killing the pinned-8 "
    "O(n²/256) candidate tail (VERDICT r13 #2). The oracle states "
    "the same candidate set declaratively (bit_count(xor) <= 1, "
    "plane-count-independent) — an O(n²) predicate the oracle can "
    "afford at check scale while the engine's probe-join shape is "
    "what runs at 100 TB.",
)
def dedup_embedding_ann_h1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_work_flow_for_big_data_spark.catalog import _footer_rows
    from etl_work_flow_for_big_data_spark.functions.vectors import is_valid_embedding
    from etl_work_flow_for_big_data_spark.operators.dedup import apply_near_dedup
    from etl_work_flow_for_big_data_spark.operators.similarity import (
        ann_near_dup_pairs,
    )

    e = load_table(spark, sf_dir, "embeddings").filter(
        is_valid_embedding(F.col("embedding"), dim=64)
    )
    n = _footer_rows(sf_dir, "embeddings")
    pairs = ann_near_dup_pairs(
        e, "vec_id", "embedding", threshold=0.4,
        n_planes=_scaled_planes(n), dim=64, corpus_rows=n,
        multi_probe=True,
    )
    d = load_table(spark, sf_dir, "documents")
    return apply_near_dedup(d, pairs, "doc_id").select(
        "doc_id", "lang", "source"
    )


_DUCK_QUANT = """
    qv AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(
               (CAST(x AS DOUBLE) * 127.0) /
               list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))))
             ) AS INT)) AS q
      FROM v)
"""


@query(
    "sim_topk_quantized",
    f"""
    WITH {_DUCK_VALID_EMB},
    {_DUCK_QUANT}
    SELECT q.vec_id AS q_vec_id,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY ROUND({_duck_cos('q.q', 'c.q')}, 6) DESC,
                      c.vec_id) AS BIGINT)                       AS rank,
           c.vec_id AS c_vec_id,
           ROUND({_duck_cos('q.q', 'c.q')}, 6)                   AS cos_sim
    FROM (SELECT * FROM qv WHERE vec_id < 5) q
    JOIN qv c ON q.vec_id <> c.vec_id
    QUALIFY rank <= 10
    ORDER BY q_vec_id, rank
    """,
    doc="I3 top-k cosine over INT8-QUANTIZED embeddings (r11): the "
    "100-TB scan-bandwidth lever — symmetric per-vector int8 "
    "(q_i = round(x_i*127/max|x|)), and cosine is scale-invariant so "
    "ranking runs directly on the int arrays, no dequantization. "
    "Quantization arithmetic order and rounding rule are mirrored "
    "bit-for-bit in the oracle (functions.vectors.quantize_embedding "
    "docstring); ties from the coarser values break on vec_id as "
    "everywhere. Storage/recall trade measured in SCALE.md.",
)
def sim_topk_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_work_flow_for_big_data_spark.functions.vectors import (
        is_valid_embedding,
        quantize_embedding,
    )

    e = load_table(spark, sf_dir, "embeddings").filter(
        is_valid_embedding(F.col("embedding"), dim=64)
    )
    qz = e.select(
        "vec_id", quantize_embedding(F.col("embedding"))["q"].alias("q")
    )
    return topk_cosine(
        qz.filter(F.col("vec_id") < 5), qz, "vec_id", "q", k=10
    )




@query(
    "sim_ann_lsh",
    f"""
    WITH sig AS (
      SELECT vec_id, embedding, {_DUCK_SIG.format(v='embedding', np=8)} AS bucket
      FROM embeddings WHERE len(embedding) = 64
    )
    SELECT q.vec_id AS q_vec_id,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY ROUND({_duck_cos('q.embedding', 'c.embedding')}, 6) DESC,
                      c.vec_id) AS BIGINT)                      AS rank,
           c.vec_id AS c_vec_id,
           ROUND({_duck_cos('q.embedding', 'c.embedding')}, 6)  AS cos_sim
    FROM (SELECT * FROM sig WHERE vec_id < 5) q
    JOIN sig c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
    QUALIFY rank <= 5
    ORDER BY q_vec_id, rank
    """,
    doc="I3 ANN via deterministic hyperplane LSH: bucket equi-join "
    "restricts scoring to ~n/2^8 of candidates; md5-derived planes "
    "make buckets engine-independent (oracle mirrors exactly)",
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.size("embedding") == 64
    )
    return ann_lsh_topk(
        e.filter(F.col("vec_id") < 5), e, "vec_id", "embedding", k=5
    )


#: shared by sim_ivf_topk (one-shot) and sim_ivf_persisted (build+
#: query): the persisted form's parity contract IS "identical result
#: to the one-shot operator", so they pin against the same oracle.
_IVF_TOPK_ORACLE = f"""
    WITH {_DUCK_VALID_EMB},
    cent AS (SELECT vec_id AS cid, embedding AS cvec FROM v WHERE vec_id < 16),
    a AS (
      SELECT e.vec_id, e.embedding, c.cid,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY ROUND({_duck_cos('e.embedding', 'c.cvec')}, 6) DESC, c.cid
             ) AS rn
      FROM v e JOIN cent c ON e.vec_id <> c.cid
    ),
    asg AS (
      SELECT vec_id, embedding,
             CASE WHEN vec_id < 16 THEN vec_id ELSE cid END AS cluster
      FROM a WHERE rn = 1
    )
    SELECT q.vec_id AS q_vec_id,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY ROUND({_duck_cos('q.embedding', 'c.embedding')}, 6) DESC,
                      c.vec_id) AS BIGINT)                      AS rank,
           c.vec_id AS c_vec_id,
           ROUND({_duck_cos('q.embedding', 'c.embedding')}, 6)  AS cos_sim
    FROM (SELECT * FROM asg WHERE vec_id IN (16, 17, 18, 19, 20)) q
    JOIN asg c ON q.cluster = c.cluster AND q.vec_id <> c.vec_id
    QUALIFY rank <= 5
    ORDER BY q_vec_id, rank
    """


@query(
    "sim_ivf_topk",
    _IVF_TOPK_ORACLE,
    doc="I3 IVF-style ANN: nearest-centroid assignment (deterministic "
    "centroid set = first 16 ids) then search within the query's "
    "cluster only — the inverted-file scale path next to LSH. "
    "Degenerate vectors are out of domain on both sides (a NaN "
    "centroid would otherwise poison every assignment).",
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_work_flow_for_big_data_spark.functions.vectors import is_valid_embedding
    from etl_work_flow_for_big_data_spark.operators.similarity import ivf_topk

    e = load_table(spark, sf_dir, "embeddings").filter(
        is_valid_embedding(F.col("embedding"), dim=64)
    )
    return ivf_topk(
        e, [16, 17, 18, 19, 20], "vec_id", "embedding", n_centroids=16, k=5
    )


#: shared by sim_ivf_nprobe (one-shot) and sim_ivf_persisted_nprobe
#: (build+query): same rationale as _IVF_TOPK_ORACLE — the persisted
#: form's contract IS one-shot equivalence.
_IVF_NPROBE_ORACLE = f"""
    WITH {_DUCK_VALID_EMB},
    cent AS (SELECT vec_id AS cid, embedding AS cvec FROM v WHERE vec_id < 16),
    a AS (
      SELECT e.vec_id, e.embedding, c.cid,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY ROUND({_duck_cos('e.embedding', 'c.cvec')}, 6) DESC, c.cid
             ) AS rn
      FROM v e JOIN cent c ON e.vec_id <> c.cid
    ),
    asg AS (
      SELECT vec_id, embedding,
             CASE WHEN vec_id < 16 THEN vec_id ELSE cid END AS cluster
      FROM a WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id, cid AS cluster FROM a
      WHERE vec_id IN (16, 17, 18, 19, 20) AND rn <= 2
      UNION
      SELECT vec_id, cluster FROM asg WHERE vec_id IN (16, 17, 18, 19, 20)
    ),
    q AS (
      SELECT p.vec_id, e.embedding, p.cluster
      FROM probes p JOIN v e ON e.vec_id = p.vec_id
    )
    SELECT q.vec_id AS q_vec_id,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY ROUND({_duck_cos('q.embedding', 'c.embedding')}, 6) DESC,
                      c.vec_id) AS BIGINT)                      AS rank,
           c.vec_id AS c_vec_id,
           ROUND({_duck_cos('q.embedding', 'c.embedding')}, 6)  AS cos_sim
    FROM q JOIN asg c ON q.cluster = c.cluster AND q.vec_id <> c.vec_id
    QUALIFY rank <= 5
    ORDER BY q_vec_id, rank
    """


@query(
    "sim_ivf_nprobe",
    _IVF_NPROBE_ORACLE,
    doc="I3 IVF ANN with nprobe=2 (r10): each query searches its TWO "
    "nearest clusters — the standard recall lever for the "
    "cross-cluster-boundary miss, fanning out only the query side "
    "(the corpus index is untouched, so big-table cost is unchanged "
    "at 100 TB). Same deterministic contract as sim_ivf_topk "
    "(centroids = first 16 ids, 6dp-rounded ranking, id tie-breaks); "
    "measured recall/cost curve in SCALE.md.",
)
def sim_ivf_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_work_flow_for_big_data_spark.functions.vectors import is_valid_embedding
    from etl_work_flow_for_big_data_spark.operators.similarity import ivf_topk

    e = load_table(spark, sf_dir, "embeddings").filter(
        is_valid_embedding(F.col("embedding"), dim=64)
    )
    return ivf_topk(
        e, [16, 17, 18, 19, 20], "vec_id", "embedding", n_centroids=16,
        k=5, nprobe=2,
    )


#: one live index per (variant, sf_dir) slot → (fingerprint, path).
#: r13 (ADVICE r12): keyed by fingerprint alone, every fixture rewrite
#: leaked the superseded temp index dir and cache entry — a long-lived
#: session regenerating fixtures grew /tmp and memory without bound.
#: Now a fingerprint change EVICTS the stale entry and rmtrees its dir.
_IVF_INDEX_CACHE: dict[tuple, tuple[tuple, str]] = {}


def _cached_ivf_index(e, sf_dir: str, variant: str, **build_kwargs) -> str:
    """Build-or-reuse the persisted IVF index for (variant, sf_dir).

    Fingerprint hit → reuse; miss → drop the superseded entry, remove
    its temp directory, rebuild. The index must outlive this call (the
    returned DataFrame is evaluated by the harness afterwards), so it
    lives in a process-lifetime temp dir; /tmp reaps process leftovers.
    Real deployments pass a durable path and rebuild on corpus change.

    Invalidation contract (ADVICE r13): eviction rmtrees the
    SUPERSEDED directory immediately, so a DataFrame returned by an
    EARLIER call that is still lazily unevaluated when the fixture is
    rewritten will fail at its eventual evaluation (its plan
    references the removed path). That is the intended trade — the
    alternative (deferring removal one eviction cycle) keeps a stale
    index serving results for a corpus that no longer exists, which
    is worse than a loud FileNotFound. Callers in this repo evaluate
    within the same harness step as the call (bench/t2/pytest all
    materialize immediately); any future caller holding plans across
    a fixture rewrite must re-call this function after the rewrite.
    """
    import os
    import shutil
    import tempfile

    from etl_work_flow_for_big_data_spark.operators.similarity import ivf_build

    fp = _embeddings_fingerprint(sf_dir)
    slot = (variant, sf_dir)
    hit = _IVF_INDEX_CACHE.get(slot)
    if hit is not None:
        old_fp, old_path = hit
        if old_fp == fp:
            return old_path
        del _IVF_INDEX_CACHE[slot]
        shutil.rmtree(os.path.dirname(old_path), ignore_errors=True)
    index_path = tempfile.mkdtemp(prefix=f"sim_ivf_{variant}_") + "/index"
    ivf_build(e, "vec_id", "embedding", index_path, **build_kwargs)
    _IVF_INDEX_CACHE[slot] = (fp, index_path)
    return index_path


def _embeddings_fingerprint(sf_dir: str) -> tuple:
    """Cache key for the persisted-IVF index: the stat fingerprint of
    the embeddings table. Keying on sf_dir alone served a STALE index
    when an in-process fixture regenerated the table at the same path
    (r11 advice) — the fingerprint changes with any rewrite, so
    regeneration transparently triggers a rebuild. Local paths only
    (the oracled queries read the local test fixture — a durable-index
    deployment manages rebuilds explicitly, see the sim_ivf_persisted
    docstring)."""
    return _stat_fingerprint(f"{sf_dir}/embeddings.parquet")


@query(
    "sim_ivf_persisted",
    _IVF_TOPK_ORACLE,
    doc="I3 IVF build-once/query-many (r11): ivf_build persists the "
    "inverted file (postings PARTITIONED by cluster + centroids + "
    "build meta), ivf_query answers a batch from it — the corpus-wide "
    "assignment pass is paid once at build, each query batch scans "
    "ONLY the probed cluster directories (static partition pruning, "
    "plan-asserted in tests/test_ivf_persisted.py). Result contract: "
    "identical to the one-shot sim_ivf_topk, so it pins against the "
    "same oracle; amortized query-vs-one-shot numbers in SCALE.md.",
)
def sim_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_work_flow_for_big_data_spark.functions.vectors import is_valid_embedding
    from etl_work_flow_for_big_data_spark.operators.similarity import ivf_query

    e = load_table(spark, sf_dir, "embeddings").filter(
        is_valid_embedding(F.col("embedding"), dim=64)
    )
    # Build once per (process, table fingerprint) — build-once/
    # query-many IS the operator's semantic, so repeated calls (bench
    # med3 re-runs) measure the amortized per-batch query cost, exactly
    # the number the operator exists to improve; the one-shot cost is
    # sim_ivf_topk's line. Cached per (variant, sf_dir) and rebuilt on
    # fingerprint change (r11 advice: same-path regeneration must not
    # serve a stale index; r12 advice: the superseded index dir is
    # evicted, not leaked) — see _cached_ivf_index.
    index_path = _cached_ivf_index(e, sf_dir, "persisted", n_centroids=16)
    return ivf_query(
        spark, index_path,
        e.filter(F.col("vec_id").isin([16, 17, 18, 19, 20])),
        "vec_id", "embedding", k=5, nprobe=1,
    )


@query(
    "sim_ivf_persisted_nprobe",
    _IVF_NPROBE_ORACLE,
    doc="I3 persisted IVF at nprobe=2 (r11): the multi-probe branch of "
    "ivf_query (top-2 centroid clusters per query UNION the assigned "
    "cluster, still only the probed directories scanned) against the "
    "same cached index as sim_ivf_persisted — pinned against "
    "sim_ivf_nprobe's oracle verbatim, so the one-shot-equivalence "
    "contract holds on BOTH probe branches under the driver's hash "
    "check, not just the local parity pin.",
)
def sim_ivf_persisted_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_work_flow_for_big_data_spark.functions.vectors import is_valid_embedding
    from etl_work_flow_for_big_data_spark.operators.similarity import ivf_query

    e = load_table(spark, sf_dir, "embeddings").filter(
        is_valid_embedding(F.col("embedding"), dim=64)
    )
    # same cached index slot as sim_ivf_persisted (variant
    # "persisted") — only the probe width differs at query time
    index_path = _cached_ivf_index(e, sf_dir, "persisted", n_centroids=16)
    return ivf_query(
        spark, index_path,
        e.filter(F.col("vec_id").isin([16, 17, 18, 19, 20])),
        "vec_id", "embedding", k=5, nprobe=2,
    )


@query(
    "sim_ivf_trained",
    f"""
    WITH {_DUCK_VALID_EMB}
    SELECT q.vec_id AS q_vec_id,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY ROUND({_duck_cos('q.embedding', 'c.embedding')}, 6) DESC,
                      c.vec_id) AS BIGINT)                       AS rank,
           c.vec_id AS c_vec_id,
           ROUND({_duck_cos('q.embedding', 'c.embedding')}, 6)   AS cos_sim
    FROM (SELECT * FROM v WHERE vec_id IN (16, 17, 18, 19, 20)) q
    JOIN v c ON q.vec_id <> c.vec_id
    QUALIFY rank <= 5
    ORDER BY q_vec_id, rank
    """,
    doc="I3 TRAINED-centroid persisted IVF (r12, VERDICT r11 #3): "
    "ivf_build with kmeans_iters=2 (Lloyd-refined centroids — real "
    "IVF recall, not the seeded-sample convention), served by "
    "ivf_query at nprobe = n_centroids. Probing ALL inverted lists "
    "makes the served top-k EXACT — independent of the FP-order-"
    "dependent centroid values — so the trained build+serve path is "
    "hash-checkable against the brute-force oracle; the recall-vs-"
    "iters curve at small nprobe is measured separately "
    "(SCALE.md ANN table).",
)
def sim_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_work_flow_for_big_data_spark.functions.vectors import is_valid_embedding
    from etl_work_flow_for_big_data_spark.operators.similarity import ivf_query

    e = load_table(spark, sf_dir, "embeddings").filter(
        is_valid_embedding(F.col("embedding"), dim=64)
    )
    # separate cache slot from the untrained index (variant "trained";
    # same fingerprint-eviction convention as sim_ivf_persisted)
    index_path = _cached_ivf_index(
        e, sf_dir, "trained", n_centroids=16, kmeans_iters=2
    )
    return ivf_query(
        spark, index_path,
        e.filter(F.col("vec_id").isin([16, 17, 18, 19, 20])),
        "vec_id", "embedding", k=5, nprobe=16,
    )


@query(
    "sim_ann_multiprobe",
    f"""
    WITH sig AS (
      SELECT vec_id, embedding, {_DUCK_SIG.format(v='embedding', np=8)} AS sig
      FROM embeddings WHERE len(embedding) = 64
    ),
    q AS (
      SELECT vec_id, embedding,
             unnest(list_prepend(sig,
               list_transform(range(0, 8), __p -> xor(sig, 1 << __p)))) AS bucket
      FROM sig WHERE vec_id < 5
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS q_vec_id, q.embedding AS q_emb,
                      c.vec_id AS c_vec_id, c.embedding AS c_emb
      FROM q JOIN sig c ON q.bucket = c.sig AND q.vec_id <> c.vec_id
    )
    SELECT q_vec_id,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY q_vec_id
             ORDER BY ROUND({_duck_cos('q_emb', 'c_emb')}, 6) DESC,
                      c_vec_id) AS BIGINT)             AS rank,
           c_vec_id,
           ROUND({_duck_cos('q_emb', 'c_emb')}, 6)     AS cos_sim
    FROM cand
    QUALIFY rank <= 5
    ORDER BY q_vec_id, rank
    """,
    doc="I3 multi-probe ANN: probe the query's bucket plus every "
    "Hamming-1 bucket (flip each hyperplane bit) — the standard LSH "
    "recall lever at (n_planes+1)x query-side fan-out with the "
    "candidate index untouched. Deterministic md5 plane family keeps "
    "it fully oracle-checkable.",
)
def sim_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.size("embedding") == 64
    )
    return ann_lsh_topk(
        e.filter(F.col("vec_id") < 5), e, "vec_id", "embedding", k=5,
        multi_probe=True,
    )
