"""Deduplication operators for LLM-training-data pipelines
(SURVEY.md §2.I I1/I2): exact, n-gram Jaccard, MinHash-LSH, SimHash.

Scale design (the point of each variant):

- **exact**: one hash-groupBy shuffle on a 16-byte digest — the
  cheapest possible dedup; at 100 TB hash first, never shuffle full
  document text.
- **ngram_jaccard_pairs**: exact pairwise Jaccard via an inverted
  shingle index (explode + self-equi-join on shingle). Cost is
  Σ df(shingle)² — bounded by dropping "stop-shingles" whose document
  frequency exceeds ``max_df`` (they contribute pairs quadratically
  but little signal). This is the exact-but-expensive baseline.
- **minhash_lsh_pairs**: the sub-quadratic scale path — constant-size
  signature per doc, band-bucket equi-join produces only probable
  candidates, exact Jaccard verifies. Shuffle volume is
  O(docs × n_bands), independent of document length.
- **simhash**: constant-size per-doc fingerprint; equal fingerprints
  (or small Hamming distance) are near-dup candidates. Cheapest
  candidate generator; coarser recall.

All candidate generation is equi-join-based (hash-partitionable);
nothing here does a cross join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_work_flow_for_big_data_spark.catalog import _merge_unless_small
from etl_work_flow_for_big_data_spark.functions.text import (
    distinct_tokens_sql,
    fingerprint,
    minhash_bands,
    minhash_signature,
    round4_ratio,
    shingles,
    simhash_expr,
    tokens,
)

# conservative in-memory price of one broadcast row carrying a shingle
# set (hundreds of short strings × ~20-30 B each, plus JVM array +
# hash-relation overhead), so the size gate only clears when the whole
# corpus is unambiguously dim-sized; see minhash_lsh_pairs
# join-strategy note
_SHINGLE_ROW_BYTES = 4096


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: group by content digest, keep the min-id row.
    Returns (text_hash, keeper_id, n_copies)."""
    return (
        df.select(
            fingerprint(F.col(text_col)).alias("text_hash"), F.col(id_col).alias("id")
        )
        .groupBy("text_hash")
        .agg(F.min("id").alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def passage_dedup(
    df: DataFrame, text_col: str, id_col: str, window_tokens: int = 32
) -> DataFrame:
    """Passage-level exact dedup (the duplicated-passage removal step
    of a corpus-prep pipeline): split each document into fixed
    ``window_tokens`` token windows, hash each passage, keep only the
    globally FIRST occurrence (lexicographic min (doc_id, pos)) of
    every repeated passage, and report per document what survives —
    the boilerplate/licence-block/navigation-chrome remover that
    document-level dedup cannot see (two distinct pages sharing a
    footer are not document duplicates).

    Returns (doc_id, n_passages, n_dup, n_removed, clean_hash):
    ``n_dup`` = passages whose hash occurs more than once in the
    corpus, ``n_removed`` = this document's passages dropped as later
    occurrences, ``clean_hash`` = md5 of the document's kept passages
    re-joined in position order (md5 of '' when every passage was
    removed) — the content fingerprint a downstream loader would see.
    Documents with no tokens produce no output row (no passages by
    definition; both engines agree).

    Scale shape: passages are hashed BEFORE any shuffle, so the wide
    stages move 16-byte digests plus (doc_id, pos) — never raw text
    except the final per-document reassembly, where each passage
    travels exactly once to its own document's reducer. Occurrence
    counting is groupBy(hash) + an equi-join back — NOT a window over
    the hash: a boilerplate passage shared by millions of documents
    is a hot key, and a window partition funnels that whole key
    through one task (unsplittable), while the groupBy gets map-side
    partial aggregation and the join inherits AQE skew-splitting
    (same trade as dedup_components' per-round min, measured there).
    First-occurrence choice is a lexicographic struct MIN —
    deterministic, order-independent, identical in DuckDB (row-value
    MIN), no tie possible since (doc_id, pos) is unique.
    """
    toks = tokens(F.col(text_col))
    w = window_tokens
    n_pass = F.ceil(F.size("__toks") / float(w)).cast("int")
    # fan_out rejected here (r15, measured): the passage explode is
    # ~8 rows/doc — an order of magnitude lighter than the shingle
    # index — and the interleaved A/B read off med 1.68 s vs on med
    # 2.20 s at sf0.1: the round-robin exchange of document text costs
    # more than the parallelized tokenize+md5 saves, even with the
    # pipeline planned twice.
    passages = (
        df.select(F.col(id_col).alias("doc_id"), toks.alias("__toks"))
        .filter(F.size("__toks") > 0)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_pass - 1),
                    lambda i: F.array_join(
                        F.slice("__toks", i * w + 1, w), " "
                    ),
                )
            ).alias("pos", "ptext"),
        )
        .withColumn("ph", F.md5("ptext"))
    )
    occ = passages.groupBy("ph").agg(
        F.count(F.lit(1)).alias("n_occ"),
        F.min(F.struct("doc_id", "pos")).alias("first"),
    )
    j = passages.join(occ, "ph").withColumn(
        "keep",
        (F.col("n_occ") == 1)
        | (F.struct("doc_id", "pos") == F.col("first")),
    )
    kept = F.array_sort(
        F.collect_list(F.when(F.col("keep"), F.struct("pos", "ptext")))
    )
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_passages"),
        F.sum((F.col("n_occ") > 1).cast("int")).cast("bigint").alias("n_dup"),
        F.sum((~F.col("keep")).cast("int")).cast("bigint").alias("n_removed"),
        F.md5(
            F.array_join(
                F.transform(kept, lambda x: x["ptext"]), " "
            )
        ).alias("clean_hash"),
    )


def shingle_index(df: DataFrame, text_col: str, id_col: str, k: int = 5) -> DataFrame:
    """Inverted index: one row per (id, distinct k-gram shingle)."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(shingles(F.col(text_col), k)).alias("sh"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact near-dup pairs by k-gram Jaccard ≥ threshold.

    ``max_df`` drops shingles appearing in more than that many docs
    before pairing (quadratic-cost control at scale; None = keep all).
    Returns (d1, d2, jaccard) with d1 < d2.

    Two physical strategies by ``max_df``:

    - **bounded (max_df set)** — posting-list pair generation (the
      Vernica/Carey inverted-index join): ONE shuffle groups the index
      by shingle, and candidate pairs are generated in-group with a
      combinations explode whose per-task work is ≤ max_df², by
      construction un-skewable. The df bound is applied with a
      count-over-shingle WINDOW before ``collect_list`` (same shuffle
      key, exchange reused): the window buffer spills hot stop-shingle
      groups to disk, whereas filtering AFTER collect_list would first
      materialize a df-sized array in one aggregation buffer — the
      exact skew/OOM the bound exists to prevent.

      r14 single-pass sizes: the combinations explode additionally
      emits ONE SELF-PAIR (d, d) per posting-list member, so the same
      (d1, d2) count aggregate yields both the intersection counts
      (d1 < d2 rows) and each doc's kept-shingle count (the (d, d)
      row counts one occurrence per posting list containing d —
      identical to the former ``explode(ids) → groupBy(id).count``).
      Before r14 ``sizes`` was a second aggregation over ``grouped``,
      and its two join aliases (na, nb) plus ``inter`` made Catalyst
      re-derive the full scan→explode→shuffle(sh)→window→collect_list
      pipeline THREE times per query (plan-verified; AQE exchange
      reuse only dedupes up to the first exchange). Measured med-of-5
      interleaved, sf0.1: pairs-only 1.88 s → 1.00 s; identical rows.
      The counted aggregate is persisted for its three consumers —
      it is candidate-pair-sized (≤ max_df·|index| + one row per doc,
      far below the index itself), MEMORY_AND_DISK, freed by the
      ContextCleaner like the minhash signature table. Self-pair rows
      add one row per index incidence to the explode, but map-side
      partial aggregation collapses them before the shuffle.

      Two rejected-by-measurement alternatives (med-of-5, interleaved
      in one session, sf0.1): (a) a broadcast stop-shingle blocklist
      (``groupBy(sh).count.filter(> max_df)`` → broadcast left_anti →
      single collect_list groupBy) — same OOM-safety, but it re-scans
      and re-explodes the index for the count aggregate and pays an
      extra broadcast job: 1.7-1.8× slower end-to-end (dedup_apply
      2.32s vs 1.34s, llm_clean_corpus 2.93s vs 2.06s), and at scale
      it reads the corpus twice; (b) a df-aggregate + semi-join +
      index self-join (three shuffles of the exploded index), ~2×
      slower still. The window shuffles the index exactly once and
      scans the corpus exactly once; its per-partition sort spills
      rather than OOMs on hot shingles.

      Re-measured after one run recorded dedup_apply at 7.47 s:
      interleaved med-of-5 on this strategy reads 1.89 s with the
      control at 0.93× its first record — the outlier was bench-host
      load, not a regression; the strategy choice above stands.
    - **unbounded (max_df=None)** — index self-join on shingle
      (sort-merge streams unbounded posting lists; an in-group
      explode would materialize a hot shingle's df² pairs in one
      task).

    Persistence: only the bounded path's candidate-count aggregate is
    persisted (pair-sized, never the index — see the bounded-strategy
    note above); the index lineage itself is scan→explode→one shuffle,
    cheaper to recompute than to materialize (measured at sf0.1; at
    larger corpora persist the INPUT df, not the index).
    """
    from etl_work_flow_for_big_data_spark.catalog import fan_out

    # fan out the shingle compute (r15): a single-file corpus scans as
    # one task, serializing tokenize+shingle+explode on one core; the
    # projection keeps the fan-out exchange to (id, text) only. No-op
    # when the input already has >= cores splits.
    idx = shingle_index(
        fan_out(df.select(id_col, text_col)), text_col, id_col, k
    )
    if max_df is not None:
        from pyspark.sql import Window

        n_df = F.count(F.lit(1)).over(Window.partitionBy("sh"))
        grouped = (
            idx.withColumn("__df", n_df)
            .filter(F.col("__df") <= max_df)
            .groupBy("sh")
            .agg(F.collect_list("id").alias("ids"))
        )
        # all i<j combinations of the (distinct-per-doc) posting list
        # (least/greatest canonicalizes to d1 < d2) PLUS one (x, x)
        # self-pair per member: the single (d1, d2) count below then
        # yields intersection counts AND per-doc kept-shingle counts
        # from one pipeline (see the bounded-strategy docstring)
        pairs = grouped.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "concat(array(struct(x as d1, x as d2)), "
                    "transform(slice(ids, i + 2, size(ids) - i - 1), y -> "
                    "struct(least(x, y) as d1, greatest(x, y) as d2)))))"
                )
            ).alias("p")
        ).select("p.*")
        counted = (
            pairs.groupBy("d1", "d2")
            .agg(F.count(F.lit(1)).alias("inter"))
            .persist()
        )
        inter = counted.filter(F.col("d1") != F.col("d2"))
        sizes = counted.filter(F.col("d1") == F.col("d2")).select(
            F.col("d1").alias("id"), F.col("inter").alias("n_sh")
        )
    else:
        sizes = idx.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
        a = idx.alias("a")
        b = idx.alias("b")
        inter = (
            a.join(
                b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id"))
            )
            .groupBy(F.col("a.id").alias("d1"), F.col("b.id").alias("d2"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    na = sizes.select(F.col("id").alias("d1"), F.col("n_sh").alias("n1"))
    nb = sizes.select(F.col("id").alias("d2"), F.col("n_sh").alias("n2"))
    return (
        inter.join(na, "d1")
        .join(nb, "d2")
        .withColumn(
            "jaccard",
            # integer-exact rounding: cross-engine stable at half
            # boundaries, and the threshold filter below then compares
            # exactly q/10^4 >= t (both sides mirror this; a raw-ratio
            # oracle predicate would diverge on pairs whose raw
            # jaccard rounds across the threshold)
            round4_ratio(
                F.col("inter"), F.col("n1") + F.col("n2") - F.col("inter")
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    n_hashes: int = 12,
    n_bands: int = 4,
    threshold: float = 0.5,
    corpus_rows: int | None = None,
) -> DataFrame:
    """Near-dup pairs via MinHash LSH banding + exact-Jaccard verify.

    Docs sharing any of ``n_bands`` band keys become candidates
    (equi-join on band key); candidates are verified with exact Jaccard
    on their shingle sets. Deterministic md5-based hash family — the
    same candidates arise in any engine that mirrors the formula.
    Returns (d1, d2, jaccard) with d1 < d2, jaccard ≥ threshold.

    Note: the signature table is persisted and released only by the
    JVM ContextCleaner once the returned plan is garbage-collected;
    long-lived sessions running many dedups should spark.catalog
    .clearCache() between batches if storage memory is tight.

    Join strategy (r12 merge pin, r13 size gate): the band self-join
    and both shingle-verify joins are CORPUS-sized, and Catalyst's
    static size estimate for the pruned scan wildly underestimates
    the materialized array columns (shingle sets, band strings), so
    it auto-broadcast all three — at 50k docs the broadcast build
    OOM'd a default-memory driver ("Not enough memory to build and
    broadcast"), and AQE cannot demote a statically planned broadcast
    join. r12 pinned all three to sort-merge; correct at scale but it
    forfeited the broadcast plan at dim scale (dedup_minhash 1.0 →
    1.46 s at sf0.1, VERDICT r12 #4). r13: callers that know the
    corpus row count (parquet footer — a metadata read) pass it via
    ``corpus_rows``; when ``corpus_rows × _SHINGLE_ROW_BYTES`` is
    provably under the broadcast budget the hints are omitted and
    Catalyst keeps its broadcast plan, otherwise — including the
    unknown case (``None``) — every corpus join is pinned to
    sort-merge, which streams and spills at any scale.
    """
    if n_bands <= 0 or n_hashes % n_bands != 0:
        raise ValueError(
            f"n_hashes ({n_hashes}) must divide evenly into n_bands "
            f"({n_bands}); degenerate banding silently destroys the "
            "sub-quadratic candidate bound"
        )
    rows_per_band = n_hashes // n_bands

    def _hinted(frame: DataFrame) -> DataFrame:
        return _merge_unless_small(frame, corpus_rows, _SHINGLE_ROW_BYTES)

    from etl_work_flow_for_big_data_spark.catalog import fan_out

    # persist: the signature table is referenced three times (banding +
    # both sides of the verify join); without it Spark recomputes the
    # 12-hash md5 family per branch — measured 3-4× slower at sf0.1.
    # fan_out (r15): the 2-md5-per-shingle signature is the operator's
    # heaviest per-row stage and a single-file corpus scans as one
    # task — measured 2.0 s → 0.89 s at sf0.1 once fanned out.
    base = (
        fan_out(df.select(id_col, text_col))
        .select(
            F.col(id_col).alias("id"),
            shingles(F.col(text_col), k).alias("sh"),
        )
        # docs with no shingles (< k tokens) can never clear the Jaccard
        # threshold, but their all-null signatures collapse to identical
        # band keys — dropping them here avoids an O(shorts²) candidate
        # blowup on corpora with many tiny documents
        .filter(F.size("sh") > 0)
        .withColumn("sig", minhash_signature(F.col("sh"), n_hashes))
        .persist()
    )
    banded = _hinted(
        base.select(
            "id",
            F.explode(
                minhash_bands(F.col("sig"), n_bands, rows_per_band)
            ).alias("band"),
        )
    )
    x = banded.alias("x")
    y = banded.alias("y")
    cand = (
        x.join(y, (F.col("x.band") == F.col("y.band")) & (F.col("x.id") < F.col("y.id")))
        .select(F.col("x.id").alias("d1"), F.col("y.id").alias("d2"))
        .distinct()
    )
    sh1 = _hinted(base.select(F.col("id").alias("d1"), F.col("sh").alias("sh1")))
    sh2 = _hinted(base.select(F.col("id").alias("d2"), F.col("sh").alias("sh2")))
    return (
        cand.join(sh1, "d1")
        .join(sh2, "d2")
        .withColumn("inter", F.size(F.array_intersect("sh1", "sh2")))
        .withColumn(
            "jaccard",
            # same integer-exact rounding + rounded-threshold contract
            # as ngram_jaccard_pairs (see comment there)
            round4_ratio(
                F.col("inter"),
                F.size("sh1") + F.size("sh2") - F.col("inter"),
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", "jaccard")
    )


def apply_near_dedup(df: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Apply near-dup pairs to the corpus: greedy keep-lowest-id —
    every doc appearing as the higher id (d2) of a pair is dropped.
    One anti-join; not transitive-closure-exact (a→b, b→c keeps c if
    (a,c) wasn't itself a pair), which is the standard large-scale
    trade: connected components need iterative joins, greedy needs one.
    """
    drop = pairs.select(F.col("d2").alias(id_col)).distinct()
    return df.join(drop, id_col, "left_anti")


def simhash_fingerprints(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-doc 16-bit SimHash over distinct tokens. Equal values are
    near-dup candidates (constant-size state per doc; the cheapest
    candidate generator at scale). Returns (id, simhash)."""
    return df.select(
        F.col(id_col).alias("id"),
        F.expr(simhash_expr(distinct_tokens_sql(text_col), 16)).cast("int").alias("simhash"),
    )


def connected_components(
    pairs: DataFrame, max_iters: int | None = None, algorithm: str = "star",
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over near-dup pairs. Returns
    (id, component) where component is the min id in the node's
    component; exactly the nodes appearing in ``pairs`` are labeled
    (a node seen only in a self-pair (x, x) labels itself).

    ``algorithm='star'`` (default) — alternating large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14): each round rewires every node toward the minimum of a
    neighborhood, provably preserving connectivity while flattening
    the graph into stars rooted at component minima in O(log n) rounds.
    This is the 100-TB default: a pathological chain-shaped dup cluster
    gives min-label propagation O(diameter) rounds (unbounded), while
    two-phase converges logarithmically regardless of shape.

    ``algorithm='label'`` — iterative min-label propagation: every
    node's label starts as its own id; each round a node adopts the
    smallest label among itself and its neighbors; O(diameter) rounds
    of two equi-join shuffles. Kept as the obviously-correct reference
    implementation the property tests compare the default against.

    Both converge within ``max_iters`` rounds or raise (safety cap —
    silent truncation would mislabel components). The default budget
    is per-algorithm (``None`` → 30 for star, 10 for label): measured
    round counts for star grow ~logarithmically (a 10k-node chain
    needs 14 rounds, a shuffled-id 100k chain 13), so 30 covers any
    plausible component while convergence detection stops real
    workloads after 1-3; label's 10 matches its shallow-dup-graph
    contract, where callers facing deeper graphs size the cap to the
    expected diameter. Both checkpoint eagerly per round so the plan
    stays O(1) per round.

    This iterative operator can't be a single SQL statement, but the
    registered query is still hash-checked: the DuckDB oracle computes
    the exact transitive closure with a recursive CTE.

    ``stats``: pass a dict to receive ``{"rounds": r}`` — the number
    of rewiring rounds actually run (the O(log n) convergence
    evidence); zero driver-side cost otherwise.
    """
    if algorithm == "star":
        return _cc_two_phase(pairs, 30 if max_iters is None else max_iters,
                             stats=stats)
    if algorithm != "label":
        raise ValueError(f"algorithm must be star|label, got {algorithm!r}")
    max_iters = 10 if max_iters is None else max_iters
    n_parts = max(2, pairs.sparkSession.sparkContext.defaultParallelism // 8)
    edges = (
        pairs.select(F.col("d1").alias("a"), F.col("d2").alias("b"))
        .union(pairs.select(F.col("d2").alias("a"), F.col("d1").alias("b")))
        .distinct()
        .repartition(n_parts, "b")
        .localCheckpoint(eager=True)  # truncate lineage once up front
    )
    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=True)
    )
    lbl_rounds = 0
    for _ in range(max_iters):
        lbl_rounds += 1
        neighbor_min = (
            edges.join(labels, edges.b == labels.id)
            .groupBy("a")
            .agg(F.min("component").alias("n_min"))
        )
        # eager localCheckpoint every round: iterative joins otherwise
        # grow the lineage linearly and the planner blows up past ~10
        # rounds; checkpointing makes each round O(1) plan size. The
        # change flag is computed IN the same pass (old vs new label),
        # so the convergence probe below only scans the checkpoint —
        # no extra join job per round.
        new_label = F.least(
            F.col("component"), F.coalesce(F.col("n_min"), F.col("component"))
        )
        updated = (
            labels.join(neighbor_min, labels.id == neighbor_min.a, "left")
            .select(
                "id",
                new_label.alias("new_component"),
                (new_label != F.col("component")).alias("chg"),
            )
            .withColumnRenamed("new_component", "component")
            .repartition(n_parts, "id")
            .localCheckpoint(eager=True)
        )
        changed = updated.filter("chg").limit(1).count()
        labels = updated.drop("chg")
        if changed == 0:
            break
    else:
        if stats is not None:
            stats["rounds"] = lbl_rounds
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} iterations"
        )
    if stats is not None:
        stats["rounds"] = lbl_rounds
    return labels


def _cc_two_phase(pairs: DataFrame, max_iters: int,
                  stats: dict | None = None) -> DataFrame:
    """Large-star/small-star alternation (see connected_components).

    Invariants each round keeps canonical: edges are (lo, hi) with
    lo < hi, deduped, no self-loops (a self-pair in the INPUT
    contributes its node to the label set but no edge). Large-star
    attaches every strictly-larger neighbor of a center to the minimum
    of the center's full neighborhood (min ≤ center < neighbor, so
    output stays canonical); small-star attaches every smaller
    neighbor AND the center itself to the minimum of the smaller
    neighborhood. Each per-center min is a groupBy + join — NOT a
    window aggregate, although the window form measured ~1.6× faster
    per round at sf0.1: this algorithm deliberately grows star
    centers, so near the fixpoint a center's neighborhood IS its
    component, and a window partition funnels that whole component
    through one task's buffer (unsplittable by AQE), while the
    groupBy gets map-side partial mins and the skewed join key is
    exactly what AQE skew-join splits. Local loss, scale correctness.

    Convergence test: the edge set IS a star forest — no node occurs
    as both a lo and a hi (no chains) and no hi occurs twice (no node
    under two roots). That is exactly the fixpoint: a canonical star
    forest is trivially stable under both stars, and any non-star
    shape is changed by one of them. One cheap aggregate whose collect
    is the round's SINGLE action — it materializes the round's lazy
    localCheckpoint as it aggregates, so a round costs one Spark job,
    and no confirmation round is burned re-running the full transform
    to observe "nothing changed" (A/B: the signature-comparison form
    cost one extra round, ~0.7 s at sf0.1; the earlier eager-checkpoint
    form cost a second job per round). Tested before round 0 too — already-star inputs (the
    common near-dup shape: isolated pairs and fans) do zero rounds.

    At the fixpoint the stars are the components and each root is its
    component min (roots only ever appear as lo, and lo < hi), so
    labels read off directly: hi → lo, plus roots mapping to
    themselves.
    """

    def _edge_profile(edges: DataFrame) -> DataFrame:
        # flags over true edges only; self-rows (raw input) contribute
        # their id with zeroed flags so self-pair-only nodes stay in
        # the label set without registering as chain/multi evidence
        is_edge = (F.col("lo") != F.col("hi")).cast("int")
        return (
            edges.select(
                F.col("lo").alias("id"), is_edge.alias("l"), F.lit(0).alias("h")
            )
            .union(edges.select("hi", F.lit(0), is_edge))
            .groupBy("id")
            .agg(
                F.max("l").alias("l"),
                F.max("h").alias("h"),
                F.sum("h").alias("nh"),
            )
        )

    def _is_star(profile: DataFrame) -> bool:
        row = profile.agg(
            F.max((F.col("l") == 1) & (F.col("h") == 1)).alias("chain"),
            F.max(F.col("nh") > 1).alias("multi"),
        ).collect()[0]
        # empty edge set: both aggregates are NULL — vacuously a forest
        return not row["chain"] and not row["multi"]

    # keep self-pairs through canonicalization (their nodes are part
    # of the contract), strip them from the edge set after.
    # Checkpoints here and in the loop are LAZY (eager=False): the
    # round's only action is then the convergence collect in
    # `_is_star`, which materializes the checkpoint as it aggregates —
    # one Spark job per round instead of two (checkpoint job + probe
    # job). The fixed per-round job overhead dominated this operator
    # at sf0.1 (244 edges, 4.4 s), and at scale halving the job count
    # halves scheduler/barrier latency without touching the data path.
    raw = (
        pairs.select(
            F.least("d1", "d2").alias("lo"), F.greatest("d1", "d2").alias("hi")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    edges = raw.filter(F.col("lo") != F.col("hi"))
    # ONE pass builds both the node set (needed for root labels at the
    # end) and the initial star probe — they share the groupBy(id)
    profile = _edge_profile(raw).localCheckpoint(eager=False)
    nodes = profile.select("id")
    converged = _is_star(profile)
    rounds = 0
    for _ in range(max_iters):
        if converged:
            break
        rounds += 1
        # large-star: symmetrize so every node is a center once per
        # neighbor; m = min(neighborhood ∪ {center}). Output may carry
        # duplicate edges (no distinct here — one less exchange):
        # duplicates don't move small-star's min and the round's final
        # distinct restores canonical form.
        sym = edges.select(F.col("lo").alias("a"), F.col("hi").alias("b")).union(
            edges.select(F.col("hi").alias("a"), F.col("lo").alias("b"))
        )
        mins = sym.groupBy("a").agg(F.min("b").alias("mb"))
        ls = (
            sym.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.least("a", "mb").alias("lo"), F.col("b").alias("hi"))
        )
        # small-star: center = hi endpoint; m = min of its lo-neighbors
        # (all < center); lo-neighbors and the center attach to m
        mins2 = ls.groupBy("hi").agg(F.min("lo").alias("m"))
        ssj = ls.join(mins2, "hi")
        edges = (
            ssj.select(F.col("m").alias("lo"), F.col("lo").alias("hi"))
            .union(ssj.select(F.col("m").alias("lo"), F.col("hi")))
            .filter(F.col("lo") != F.col("hi"))
            .distinct()
            .localCheckpoint(eager=False)  # materialized by _is_star below
        )
        converged = _is_star(_edge_profile(edges))
    if stats is not None:
        stats["rounds"] = rounds
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} iterations"
        )
    labels = edges.select(F.col("hi").alias("id"), F.col("lo").alias("component"))
    roots = nodes.join(
        edges.select(F.col("hi").alias("id")).distinct(), "id", "left_anti"
    ).select("id", F.col("id").alias("component"))
    return labels.union(roots)


def contamination_flags(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing >= ``min_shared``
    k-gram shingles with any benchmark document — the standard
    eval-set-leakage screen a training corpus runs before release.

    Shape: inverted shingle index on both sides, equi-join on the
    shingle (the benchmark side is eval-set-sized → broadcast), count
    shared shingles per corpus doc. Returns (id, n_shared,
    contaminated); docs absent from the join have n_shared = 0.
    At 100 TB: the corpus-side index streams; only benchmark shingles
    broadcast; no all-pairs anything.
    """
    from etl_work_flow_for_big_data_spark.catalog import fan_out

    # fan_out (r15): the corpus-side shingle explode ran in the single
    # scan task of a one-file corpus; the benchmark side is
    # eval-set-sized and stays as-is. No-op at >= cores input splits.
    corpus_idx = shingle_index(
        fan_out(df.select(id_col, text_col)), text_col, id_col, k
    )
    bench_sh = (
        shingle_index(benchmark, text_col, id_col, k).select("sh").distinct()
    )
    shared = (
        corpus_idx.join(F.broadcast(bench_sh), "sh")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    ids = df.select(F.col(id_col).alias("id"))
    return (
        ids.join(shared, "id", "left")
        .select(
            "id",
            F.coalesce("n_shared", F.lit(0)).cast("bigint").alias("n_shared"),
            (F.coalesce("n_shared", F.lit(0)) >= min_shared).alias("contaminated"),
        )
    )
