"""Measured scaling curves: how does each headline query's runtime
grow when the FACT data grows x2 / x4 / x8 beyond sf0.1?

The bench answers "how fast at sf0.1"; the 100-TB question is "what's
the exponent". This probe derives scaled perf fixtures from the
driver's sf0.1 tables (perf only — correctness stays on the pristine
fixtures + oracles) and reports per-query med-of-3 runtimes and the
fitted exponent alpha = log(t_8/t_1) / log 8: alpha ~= 1 is linear
scale-out, alpha >> 1 is a blowup that 100x data would turn fatal.

Fixture derivation — NOT naive replication. Concatenating a table
with itself duplicates every key, which makes joins and near-dup
candidate generation quadratic in ways real 8x data would never be
(every order would have 8 clones of its lineitems; every document 7
identical twins). Instead, per replica i:

- orders/lineitem: o_orderkey/l_orderkey shifted by i*10^10 — the
  1:N order->lineitem structure is preserved exactly, so the
  fact-fact join output grows linearly, like real data;
- events: event_id and user_id shifted — key cardinality grows with
  volume (more users), keeping window-partition sizes realistic;
- documents: doc_id shifted and the text's letter classes rotated
  per replica (translate over two vowel/consonant sets) — replicas
  are fully decorrelated, so the near-dup families see a corpus
  with sf0.1's duplicate DENSITY at 8x the volume rather than a
  pathological 8-clone cluster per document;
- embeddings: vec_id shifted and each component deterministically
  jittered by replica — replicas land in different LSH buckets the
  way independent vectors would;
- dimensions (region/nation/customer/supplier/part) stay 1x:
  dims grow far slower than facts in every real deployment, and the
  broadcast-ability the plans rely on is exactly what this probe
  should validate.

Usage: python scripts/scale_probe.py [out_json] [factors_csv] [queries_csv]
Defaults: factors 1,2,4,8 over the full HEADLINE set (~10-15 min on an
idle local[32]). The r8 deep probe narrows to the operators whose
x1..x8 alpha was still overhead-masked and pushes them to x16/x32,
where fixed job overhead amortizes and data-proportional cost shows::

    python scripts/scale_probe.py /tmp/deep.json 1,4,16,32 \
        llm_clean_corpus,dedup_apply

Writes one JSON object {query: {"<k>": sec, ..., "alpha": a,
"alpha_tail": at}}: alpha is the full-range log-log slope, alpha_tail
the slope over the last doubling — the overhead-free estimate.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from etl_work_flow_for_big_data_spark.catalog import load_table  # noqa: E402

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
FACTORS = [1, 2, 4, 8]
HEADLINE = [
    "agg_groupby",
    "agg_distinct",
    "join_star",
    "tpch_q3_shipping_priority",
    "tpch_q12_priority_by_tier",
    "window_ntile",
    "window_session",
    "parse_kv",
    "rate_charge",
    "text_quality",
    "dedup_exact",
    "dedup_minhash",
    "dedup_apply",
    "dedup_components",
    "llm_clean_corpus",
    "sim_ann_lsh",
    "sim_ann_multiprobe",
    "ts_gapfill",
    "dedup_embedding_ann",  # r13: registered embedding-dedup scale path
    "tpch_q21_waiting_suppliers",  # r13: double-decorrelation shape
]
DIMS = ["region", "nation", "customer", "supplier", "part"]
_VOWS = ["aeiou", "eioua", "iouae", "ouaei", "uaeio", "aeiou"[::-1], "eioua"[::-1], "iouae"[::-1]]
# Consonant rotations compose with the vowel maps to 32 distinct
# translate maps for the x16/x32 deep probe — without this, replica
# i and i+8 would carry byte-identical text and the dedup families
# would see a pathological n/8-clone cluster per document instead of
# sf0.1's duplicate density. Index 0 is the identity so replicas 1-7
# stay byte-identical to the r7-recorded x1..x8 derivation.
_CONS = ["bcdfgh", "cdfghb", "dfghbc", "fghbcd"]


def _replica(spark, table, i):
    # load_table, not raw read: it normalizes the driver fixtures'
    # nanos/NTZ timestamp physical types (see catalog.py)
    df = load_table(spark, SRC, table)
    if i == 0:
        return df
    shift = i * 10_000_000_000
    if table == "orders":
        return df.withColumn("o_orderkey", F.col("o_orderkey") + shift)
    if table == "lineitem":
        return df.withColumn("l_orderkey", F.col("l_orderkey") + shift)
    if table == "events":
        return (df.withColumn("event_id", F.col("event_id") + shift)
                  .withColumn("user_id", F.col("user_id") + F.lit(i * 1_000_000)))
    if table == "documents":
        src = _VOWS[0] + _CONS[0]
        dst = _VOWS[i % len(_VOWS)] + _CONS[(i // len(_VOWS)) % len(_CONS)]
        return (df.withColumn("doc_id", F.col("doc_id") + shift)
                  .withColumn("text", F.translate("text", src, dst)))
    if table == "embeddings":
        jitter = F.transform(
            "embedding",
            lambda x, j: (x + F.sin((F.col("vec_id") % 97 + j.cast("double")) * float(i)) * F.lit(0.15)).cast("float"),
        )
        return (df.withColumn("vec_id", F.col("vec_id") + shift)
                  .withColumn("embedding", jitter))
    return df


def build_fixture(spark, k, out_dir):
    # SPARK_GRAFT_PROBE_TABLES=embeddings narrows the fact build for a
    # single-family probe (the r9 sim-family x64 run needs 128k
    # vectors, not 38M replicated lineitem rows it never reads); dims
    # are cheap and always included.
    facts = ["orders", "lineitem", "events", "documents", "embeddings"]
    only = os.environ.get("SPARK_GRAFT_PROBE_TABLES")
    if only:
        facts = [t for t in facts if t in only.split(",")]
    os.makedirs(out_dir, exist_ok=True)
    for table in DIMS + facts:
        dst = os.path.join(out_dir, f"{table}.parquet")
        # atomic build: write to a temp dir, rename into place on
        # success — a partially-written dir left by a crashed previous
        # run must never be silently reused (it would skew the curves);
        # the rename makes "dst exists" equal "dst is complete".
        tmp = dst + "__building"
        shutil.rmtree(tmp, ignore_errors=True)
        if os.path.exists(dst):
            continue
        if table in DIMS or k == 1:
            df = load_table(spark, SRC, table)
        else:
            df = _replica(spark, table, 0)
            for i in range(1, k):
                df = df.unionByName(_replica(spark, table, i))
        df.write.mode("overwrite").parquet(tmp)
        os.rename(tmp, dst)


def main() -> None:
    import math

    out_json = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scale_probe.json"
    factors = ([int(x) for x in sys.argv[2].split(",")]
               if len(sys.argv) > 2 else FACTORS)
    queries = sys.argv[3].split(",") if len(sys.argv) > 3 else HEADLINE

    from etl_work_flow_for_big_data_spark.queries import load_all
    from etl_work_flow_for_big_data_spark.session import get_spark

    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()

    dirs = {}
    for k in factors:
        d = f"/tmp/scale_probe_x{k}"
        build_fixture(spark, k, d)
        dirs[k] = d

    results = {}
    for name in queries:
        spec = registry[name]
        results[name] = {}
        for k in factors:
            times = []
            for _ in range(3):
                t0 = time.time()
                # full materialization, no driver-side row transfer
                spec.fn(spark, dirs[k]).write.mode("overwrite").format("noop").save()
                times.append(time.time() - t0)
            results[name][str(k)] = round(sorted(times)[1], 3)
        lo, hi = factors[0], factors[-1]
        t_lo, t_hi = results[name][str(lo)], results[name][str(hi)]
        alpha = math.log(max(t_hi, 1e-9) / max(t_lo, 1e-9)) / math.log(hi / lo)
        results[name]["alpha"] = round(alpha, 2)
        if len(factors) >= 3:
            # slope over the last step: fixed overhead has amortized,
            # so this is the data-proportional-regime estimate
            p = factors[-2]
            t_p = results[name][str(p)]
            tail = math.log(max(t_hi, 1e-9) / max(t_p, 1e-9)) / math.log(hi / p)
            results[name]["alpha_tail"] = round(tail, 2)
        print(f"{name:28s} " + "  ".join(f"x{k}:{results[name][str(k)]:6.2f}s" for k in factors)
              + f"  alpha={alpha:5.2f}"
              + (f"  tail={results[name].get('alpha_tail'):5.2f}" if "alpha_tail" in results[name] else ""),
              flush=True)

    with open(out_json, "w") as f:
        json.dump(results, f, indent=1, sort_keys=True)
    print(f"\nwritten {out_json}", flush=True)
    for k in factors:
        shutil.rmtree(dirs[k], ignore_errors=True)


if __name__ == "__main__":
    main()
