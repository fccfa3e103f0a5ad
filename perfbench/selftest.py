"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py

Run from the root of a checkout (about a minute; starts one local
SparkSession). Checks that:

* the generators are deterministic per seed (byte-identical files) and
  differ across seeds;
* every output check fails on a tampered output: a deleted route
  partition of the CDR batch sink and of the routed stream's sink, and
  a dropped row in the result of each query the benchmark runs,
  compared with its DuckDB oracle;
* the metric names and units the benchmark emits equal the ones
  declared in ``BENCHMARK.json``.

Exits non-zero on the first failure.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads as wls  # noqa: E402


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"FAIL {what}")
    print(f"ok   {what}", flush=True)


def same_tree(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    _match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


def test_generators(work: str) -> None:
    def cdr(tag: str, seed: int) -> tuple[str, dict]:
        d = os.path.join(work, tag)
        return d, gen.write_cdr(d, seed, 20_000, 4)

    (a, ea), (b, eb), (c, _ec) = cdr("cdr_a", 5), cdr("cdr_b", 5), cdr("cdr_c", 6)
    check(same_tree(a, b) and ea == eb, "CDR generator: same seed, byte-identical files and expectations")
    check(not same_tree(a, c), "CDR generator: another seed, other files")
    kept = sum(n for n, _cents in ea["by_route"].values())
    check(kept == ea["kept"] and gen.DEAD_LETTER in ea["by_route"],
          "CDR expectation: per-route counts cover every kept record, dead-letter route present")

    sa, sb, sc = (os.path.join(work, t) for t in ("stream_a", "stream_b", "stream_c"))
    ea, eb = gen.write_cdr_stream(sa, 5, 3, 2_000), gen.write_cdr_stream(sb, 5, 3, 2_000)
    gen.write_cdr_stream(sc, 6, 3, 2_000)
    check(same_tree(sa, sb) and ea == eb,
          "stream generator: same seed, byte-identical files and expectations")
    check(not same_tree(sa, sc), "stream generator: another seed, other files")

    fa, fb, fc = (os.path.join(work, t) for t in ("fix_a", "fix_b", "fix_c"))
    gen.write_fixture(fa, 5, 0.02)
    gen.write_fixture(fb, 5, 0.02)
    gen.write_fixture(fc, 6, 0.02)
    check(same_tree(fa, fb), "fixture generator: same seed, byte-identical parquet")
    check(not same_tree(fa, fc), "fixture generator: another seed, other parquet")


def test_metric_names() -> None:
    with open("BENCHMARK.json") as f:
        decl = json.load(f)
    e2e = {m["name"]: m["unit"] for m in decl["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in decl["per_layer"]}
    check(e2e == run.END_TO_END, "end-to-end metric names and units equal BENCHMARK.json")
    check(layer == run.per_layer_units(), "per-layer metric names and units equal BENCHMARK.json")
    check([w["name"] for w in decl["workloads"]] == list(wls.WORKLOADS),
          "workload names equal BENCHMARK.json")


def test_tampered_outputs(work: str) -> None:
    run.configure_env(os.path.join(work, "spark"), trace=False)
    run.import_program()
    from etl_work_flow_for_big_data_spark.session import get_spark

    spark = get_spark("perfbench-selftest")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        ctx = wls.Context(spark=spark, tracer=tracing.Tracer())

        cdr = wls.CdrMediation(records=20_000, files=4)
        cdr.generate(os.path.join(work, "cdr_run"), 9)
        cdr.prepare(ctx)
        clean = cdr.run_pass(ctx, "clean", check=True)
        check(clean.failed == 0, f"CDR checks pass on the real output ({clean.errors})")

        for sink, what in (("batch", "batch sink"), ("stream", "stream sink")):
            def drop_billing(step: str, out_dir: str, sink=sink) -> None:
                if step == sink:
                    for root, dirs, _files in os.walk(out_dir):
                        if "route=billing" in dirs:
                            shutil.rmtree(os.path.join(root, "route=billing"))

            cdr.tamper = drop_billing
            bad = cdr.run_pass(ctx, f"tampered_{sink}", check=True)
            check(bad.failed == 1 and bad.failed / bad.attempted > 0,
                  f"CDR check fails when the {what} loses its billing route ({bad.errors})")

        qg = wls.QueryMix(scale=0.05, corpus_scale=0.1)
        qg.generate(os.path.join(work, "query_run"), 9)
        qg.prepare(ctx)
        clean = qg.run_pass(ctx, "clean", check=True)
        sizes = {q: t.num_rows for q, t in qg.fetched.items()}
        qg.verify(clean)
        check(clean.failed == 0, f"oracle checks pass on the real results ({clean.errors})")
        check(all(sizes.values()), f"every query of the mix returns rows to tamper with ({sizes})")
        qg.tamper = lambda q, table: table.slice(1)
        bad = qg.run_pass(ctx, "tampered", check=True)
        qg.verify(bad)
        check(bad.failed == len(wls.QUERIES),
              f"oracle check of each of the {len(wls.QUERIES)} queries fails when one "
              f"result row is dropped ({bad.failed} failed)")
    finally:
        run.stop_program(spark)


def main() -> int:
    work = os.path.join(os.getcwd(), ".perfbench_work", f"selftest-{os.getpid()}")
    os.makedirs(work)
    try:
        test_metric_names()
        test_generators(work)
        test_tampered_outputs(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print("all self-tests passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
