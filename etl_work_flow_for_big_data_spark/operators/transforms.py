"""Built-in named operators — the standard plugin set.

These are the session-plugin analogs a pipeline spec references by
name (the reference loads them from .so files by name,
``MFramework.cpp:970``, ``:744-749``). Each is a pure DataFrame
transform registered in the default registry; pipelines chain them via
plans/spec.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_work_flow_for_big_data_spark.functions.packets import (
    packet_get,
    packet_map,
    serialize_map,
)
from etl_work_flow_for_big_data_spark.operators.registry import operator


@operator("identity")
def identity(df: DataFrame) -> DataFrame:
    return df


@operator("parse_packets")
def parse_packets(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """B1: wire text → attrs map + promoted well-known keys
    (s/f/t/a, the reference's reserved keys). The map is built once,
    behind a one-row generate that pushed-down filters cannot cross,
    so a filter on a promoted key is a map lookup, not a re-parse. A
    malformed ``s`` promotes to NULL, so ``filter_valid`` drops it."""
    m = packet_map(F.col(payload_col))
    return (
        df.select("*", F.inline(F.array(F.struct(m.alias("__attrs")))))
        .withColumn("attrs", F.col("__attrs"))
        .drop("__attrs")
        .withColumn("s", packet_get(F.col("attrs"), "s").try_cast("long"))
        .withColumns({k: packet_get(F.col("attrs"), k) for k in "fta"})
    )


@operator("filter_valid")
def filter_valid(df: DataFrame, required: str = "s") -> DataFrame:
    """B3: drop packets lacking the required key
    (MFramework.cpp:1245-1250)."""
    return df.filter(F.col(required).isNotNull())


@operator("serialize_packets")
def serialize_packets(df: DataFrame, attrs_col: str = "attrs") -> DataFrame:
    """B2: attrs map → wire text column ``payload``."""
    return df.withColumn("payload", serialize_map(F.col(attrs_col)))


@operator("project")
def project(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    return df.select(*(columns or df.columns))


@operator("filter_expr")
def filter_expr(df: DataFrame, predicate: str = "true") -> DataFrame:
    return df.filter(F.expr(predicate))


@operator("with_column")
def with_column(df: DataFrame, name: str = "col", expr: str = "NULL") -> DataFrame:
    return df.withColumn(name, F.expr(expr))


@operator("rate")
def rate(
    df: DataFrame,
    amount: str = "l_extendedprice",
    discount: str = "l_discount",
    tax: str = "l_tax",
    out: str = "charge",
) -> DataFrame:
    """B9: the rating arithmetic the reference's gsmrating binary
    performs per CDR (gsmrating.sh:14 domain)."""
    return df.withColumn(
        out,
        F.round(F.col(amount) * (1 - F.col(discount)) * (1 + F.col(tax)), 2),
    )


@operator("route_by")
def route_by(
    df: DataFrame,
    key: str = "t",
    out: str = "route",
    invalid: str | None = "dead-letter",
) -> DataFrame:
    """F1: stamp the content-based route (the writer-demux 't' key,
    MFramework.cpp:1372-1377). Physical fan-out happens at the sink
    (partitionBy(route)).

    The reference LOGS-AND-DROPS packets with no component type
    ("invalid packet", MFramework.cpp:1468-1471); pass ``invalid=None``
    to mirror that exactly. The default instead keeps them on a
    ``dead-letter`` route — a deliberate deviation so nothing is
    silently lost and the invalid stream stays auditable at the sink."""
    if invalid is None:
        return df.filter(F.col(key).isNotNull()).withColumn(out, F.col(key))
    return df.withColumn(out, F.coalesce(F.col(key), F.lit(invalid)))


@operator("repartition_by_key")
def repartition_by_key(df: DataFrame, key: str = "s", n: int | None = None) -> DataFrame:
    """F2: hash distribution by session key (per-session dispatch,
    MFramework.cpp:1276-1306)."""
    return df.repartition(n, F.col(key)) if n else df.repartition(F.col(key))


@operator("round_robin")
def round_robin(df: DataFrame, n: int = 4) -> DataFrame:
    """F3: round-robin redistribution (producer index cycling,
    MFramework.cpp:1565-1571) — Spark's RoundRobinPartitioning."""
    return df.repartition(n)


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    tombstone_col: str | None = None,
    version_col: str | None = None,
) -> DataFrame:
    """Batch CDC merge: rows of ``updates`` replace same-key rows of
    ``base``; new keys append; rows with ``tombstone_col`` true are
    deleted. The plain-parquet answer to MERGE INTO (no lakehouse
    dependency): survivors = base ANTI-JOIN update-keys, result =
    survivors UNION updates-minus-tombstones.

    A CDC batch may carry several changes for one key; pass
    ``version_col`` to apply last-write-wins (max version per key,
    key-ordered tie-break impossible: equal versions keep an arbitrary
    one — give versions a total order). Without it, duplicate-key
    updates are emitted as-is (the caller's batch is trusted to be
    key-unique, the common compacted-CDC contract).

    At 100 TB: one shuffle on the merge key for the anti-join (or zero
    with pre-bucketed layouts, operators/distribution.py) and a
    narrow union — update batches are typically ≪ base, so the
    anti-join broadcasts the update-key side. Output overwrites the
    base atomically at the sink (write-then-swap), exactly how the
    reference's batch jobs replace their landing outputs.
    """
    if version_col is not None:
        from pyspark.sql import Window

        w = Window.partitionBy(*key_cols).orderBy(F.desc(version_col))
        updates = (
            updates.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", version_col)
        )
    upd_keys = updates.select(*key_cols).distinct()
    survivors = base.join(upd_keys, key_cols, "left_anti")
    live = (
        updates.filter(~F.coalesce(F.col(tombstone_col), F.lit(False)))
        .drop(tombstone_col)
        if tombstone_col
        else updates
    )
    return survivors.unionByName(live)



def hash_bucket(col: Column, n: int) -> Column:
    """Deterministic hash bucket of a key column: first 16 bits of
    md5, mod ``n``. Reproducible across engines, runs, and cluster
    sizes (split_assign, mix_weighted and route_assign bucket with
    it); DuckDB mirror:
    ``CAST('0x' || substring(md5(CAST(k AS VARCHAR)), 1, 4) AS INT) % n``.
    """
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 4), 16, 10).cast("int")
        % n
    ).cast("int")


def pack_sequences(
    df: DataFrame,
    token_col: str = "n_tokens",
    order_col: str = "doc_id",
    part_cols: list[str] | None = None,
    budget: int = 512,
    n_buckets: int | None = None,
    bucket_col: str = "bucket",
) -> DataFrame:
    """I4 sequence packing: assign each row to the fixed token-budget
    training sequence where its text starts — ``seq_id =
    floor((running_sum - n_tokens) / budget)`` over an id-ordered
    running-sum window within ``part_cols`` (default ``["lang"]``).
    The packing every LLM data loader needs before concat-and-chunk.

    SCALE: a prefix sum cannot parallelize within its window key, so
    the bare per-lang window is a serial funnel — at 100 TB "en" is
    most of the corpus and would flow through ONE task. Pass
    ``n_buckets`` to subdivide the key: a deterministic
    ``hash_bucket(order_col, n_buckets)`` column joins the window
    partition key and each (lang, bucket) packs independently and
    concurrently. Sequences never span buckets — the loader shards by
    the same hash, so a (lang, bucket, seq_id) triple names a sequence
    exactly as (lang, seq_id) did, and within every bucket the
    assignment is IDENTICAL to running the unbucketed packer on that
    bucket's rows alone (contract pinned by
    tests/test_pack_sequences.py). Choose n_buckets ≈ corpus_tokens /
    (tokens a single task should prefix-sum, ~10^8): buckets are
    hash-uniform, so the funnel width drops n_buckets-fold.
    """
    from pyspark.sql import Window

    keys = list(part_cols) if part_cols is not None else ["lang"]
    out = df
    if n_buckets is not None:
        out = out.withColumn(bucket_col, hash_bucket(F.col(order_col), n_buckets))
        keys = keys + [bucket_col]
    w = (
        Window.partitionBy(*keys)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return out.withColumn(
        "seq_id",
        F.floor((F.sum(token_col).over(w) - F.col(token_col)) / float(budget)).cast(
            "bigint"
        ),
    )


def distributed_ntile(
    df: DataFrame,
    order_cols: list,
    n_buckets: int,
    out_col: str = "ntile",
    n_parts: int | None = None,
) -> DataFrame:
    """Exact ``NTILE(n) OVER (ORDER BY order_cols)`` without a
    single-partition sort — the scale-safe global quantile binning.

    A plain global-order window funnels every row through ONE task's
    sort. This instead uses the classic distributed-ranking shape:
    split the key space into contiguous ranges, count rows per range
    (constant-size driver collect), then global rank = range's prefix
    offset + partition-local row_number, and NTILE's closed form
    (first N%n buckets get one extra row) maps rank → bucket.

    The subtle requirement is that the per-range COUNTS and the final
    WINDOW must describe the exact same row→range assignment across
    two separate jobs. The type of the leading order key picks one of
    two ways to fix that assignment:

    - numeric leading key: range split points come from one
      ``approxQuantile`` pass and are LITERALIZED into the assignment
      expression (``count of split points < key``) — both jobs share
      the literals, so assignment is deterministic by construction and
      NOTHING is materialized. Ties on a split value land in one range
      (tie-break columns order them inside the window); skewed hot
      values bound a range's size exactly like they bound a sort
      partition. Cost: one quantile pass + ONE ranking job whose
      broadcast subtree computes the per-range counts/offsets/total.
    - any other orderable key: ``repartitionByRange`` (sampled,
      nondeterministic boundaries) frozen by ONE eager
      localCheckpoint so both downstream reads see the same
      assignment. This materializes the dataset — fine below memory
      scale, ruinous at 100 TB, so at true scale give the operator a
      numeric or dictionary-encoded leading key.

    Measured at sf0.1 (med-of-5, one session) the two ways ran 1.45 s
    (split points) and 1.19 s (checkpoint), both bounded below by the
    three inherently sequential passes (sample, count, rank). Numeric
    keys take split points despite that local edge because the
    checkpoint materializes the full input, and a size-based switch
    would need private plan-stats APIs for an operator that accepts
    arbitrary DataFrames, not tables.

    ``order_cols`` must be a total order (add a unique tie-break
    column) or ranks — and thus buckets — are nondeterministic at
    range boundaries.
    """
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    # the operator adds working columns under these names; an input
    # that already carries one would silently corrupt ranks (or raise
    # an ambiguous-reference error deep in the plan) — fail loudly at
    # the boundary instead
    clash = {"__pid", "__offset", "__total", "__rank0", "__k0", "__cnt"} & set(
        df.columns
    )
    if clash:
        raise ValueError(
            f"distributed_ntile reserves column name(s) {sorted(clash)}; "
            "rename them on the input"
        )
    from pyspark.sql import Window
    from pyspark.sql.types import NumericType

    spark = df.sparkSession
    n_parts = n_parts or spark.sparkContext.defaultParallelism

    # accept plain column names like every other DataFrame API
    first_col = (
        order_cols[0] if not isinstance(order_cols[0], str) else F.col(order_cols[0])
    )
    if isinstance(df.select(first_col).schema[0].dataType, NumericType):
        import math

        keyed = df.withColumn("__k0", first_col.cast("double"))
        probs = [i / n_parts for i in range(1, n_parts)]
        # one pass; split points become plan literals below, so every
        # downstream job assigns rows to ranges identically. Non-finite
        # split points are dropped: NaN/±inf have no SQL double literal
        # (repr would emit an unresolvable `inf` identifier) and
        # ±inf KEYS compare correctly against finite splits anyway
        # (-inf → range 0, +inf → last range).
        splits = (
            [
                s
                for s in keyed.stat.approxQuantile("__k0", probs, 0.001)
                if math.isfinite(s)
            ]
            if n_parts > 1
            else []
        )
        if splits:
            arr = "array(" + ",".join(f"CAST({s!r} AS DOUBLE)" for s in splits) + ")"
            # null __k0 (null key or non-castable) → all comparisons
            # null → size 0 → range 0: matches nulls-first ascending.
            # NaN keys sort LAST in Spark ordering but compare false
            # against every split — route them to the last range
            # explicitly.
            pid = F.when(F.isnan("__k0"), F.lit(len(splits))).otherwise(
                F.expr(f"size(filter({arr}, __b -> __b < __k0))")
            )
        else:  # empty input or a single constant key value
            pid = F.lit(0)
        ranged = keyed.withColumn("__pid", pid).drop("__k0")
    else:
        ranged = (
            df.repartitionByRange(n_parts, *order_cols)
            .withColumn("__pid", F.spark_partition_id())
            .localCheckpoint(eager=True)
        )
    # Per-range counts, prefix offsets, AND the grand total ride a lazy
    # broadcast subplan instead of a driver collect: the counts
    # aggregate + tiny prefix-sum window (n_parts rows, single
    # partition by construction) execute inside the SAME Spark job as
    # the ranking window, as the broadcast-exchange subtree of the
    # offsets join — dropping the separate counts-collect job (r5
    # verdict). Assignment is still driven by the literalized splits,
    # so both the counts subtree and the main branch see the identical
    # row→range mapping by construction.
    counts_df = ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    w_tot = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    off_df = counts_df.select(
        "__pid",
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__offset"),
        F.sum("__cnt").over(w_tot).alias("__total"),
    )
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    # NTILE closed form over 0-based global rank r of N rows, k buckets:
    # the first m = N % k buckets hold big = ceil(N/k) rows, the rest
    # hold small = floor(N/k); 1-based bucket follows from r directly.
    # N arrives as the broadcast __total column, so the constants are
    # expressions over it rather than driver-side literals.
    m = F.col("__total") % n_buckets
    small = F.floor(F.col("__total") / n_buckets)
    big = small + 1
    rank0 = (F.row_number().over(w) - 1 + F.col("__offset")).alias("__rank0")
    bucket = F.when(
        F.col("__rank0") < m * big, F.floor(F.col("__rank0") / big)
    ).otherwise(m + F.floor((F.col("__rank0") - m * big) / F.greatest(small, F.lit(1))))
    return (
        ranged.join(F.broadcast(off_df), "__pid")
        .withColumn("__rank0", rank0)
        .withColumn(out_col, (bucket + 1).cast("bigint"))
        .drop("__pid", "__offset", "__total", "__rank0")
    )


def profile_columns(
    df: DataFrame, cols: list[str], exact_distinct: bool = True
) -> DataFrame:
    """Single-aggregate column profiling: null count, distinct count,
    min/max (as strings) per requested column — the landing-zone data
    health report every ingest pipeline runs.

    Plan shape (worth knowing at 100 TB): the closing unpivot-union
    makes Catalyst split the profile into one aggregate branch per
    column, each with its scan PRUNED to that column — total IO ≈ one
    full-table read spread across branches, and no multi-distinct
    EXPAND ever appears. ``exact_distinct=True`` (the oracle-checkable
    default) shuffles each column's distinct values; at 100 TB pass
    ``exact_distinct=False`` for HLL sketches
    (``approx_count_distinct``, ~2% error) — constant-size partials
    regardless of cardinality.
    """
    if not cols:
        raise ValueError("profile_columns needs at least one column")
    nd = F.countDistinct if exact_distinct else F.approx_count_distinct
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"__n_{c}"),
            F.count(c).alias(f"__nn_{c}"),
            nd(c).alias(f"__nd_{c}"),
            F.min(F.col(c).cast("string")).alias(f"__min_{c}"),
            F.max(F.col(c).cast("string")).alias(f"__max_{c}"),
        ]
    one = df.agg(*aggs)
    stacked = None
    for c in cols:
        row = one.select(
            F.lit(c).alias("column"),
            (F.col(f"__n_{c}") - F.col(f"__nn_{c}")).cast("bigint").alias("n_nulls"),
            F.col(f"__nd_{c}").cast("bigint").alias("n_distinct"),
            F.col(f"__min_{c}").alias("min_s"),
            F.col(f"__max_{c}").alias("max_s"),
        )
        stacked = row if stacked is None else stacked.unionByName(row)
    return stacked


def dq_validate(df: DataFrame, rules: list[tuple[str, str]]) -> DataFrame:
    """Declarative data-quality rules in ONE pass: each rule is
    (name, SQL predicate that valid rows satisfy); output is one row
    per rule with its violation count — the deequ/dbt-test analog of
    the reference's single hard-coded validity filter
    (MFramework.cpp:1245-1250), generalized to rules-as-data.

    A violation is a row where the predicate is FALSE **or NULL**
    (unknown fails the check, matching SQL constraint semantics).
    All rules evaluate in the same aggregate — one scan, one
    constant-size shuffle, regardless of rule count — and the result
    is a LAZY plan like every other operator: the per-rule rows come
    from a generator (explode of a literal-keyed struct array) over
    the single aggregate row, NOT from a union of per-rule selects
    (which would make Catalyst clone the aggregate per rule and
    re-scan) and NOT from an eager collect (which would execute the
    scan at plan-build time).
    """
    if not rules:
        raise ValueError("dq_validate needs at least one (name, predicate) rule")
    names = [n for n, _ in rules]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate rule names: {sorted(names)}")
    # coalesce: F.sum over an EMPTY frame is NULL, and empty batches
    # are a normal pipeline condition — report 0 violations, not crash.
    # Aggregates are aliased positionally (__rule_i), NOT by the
    # user-supplied rule name: a name with dots/backticks would
    # misparse in the column references below; the real name appears
    # only as a string literal in the output.
    aggs = [
        F.coalesce(
            F.sum(F.when(~F.coalesce(F.expr(pred), F.lit(False)), 1).otherwise(0)),
            F.lit(0),
        )
        .cast("bigint")
        .alias(f"__rule_{i}")
        for i, (_, pred) in enumerate(rules)
    ]
    one = df.agg(*aggs)
    unpivot = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(name).alias("rule"),
                    F.col(f"__rule_{i}").alias("n_violations"),
                )
                for i, name in enumerate(names)
            ]
        )
    ).alias("r")
    return one.select(unpivot).select("r.rule", "r.n_violations")
