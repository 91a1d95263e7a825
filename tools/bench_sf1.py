"""Scale smoke: measure the FULL catalog at sf0.1 AND the upsampled
sf1 (tools/make_sf1.py, all ten tables) and record per-query growth.

The point is the DECADE, not the absolute numbers: every query's
docstring claims a linear (or n log n) scale story, so its wall-clock
at 10x the data should grow ~10x plus constant overheads. The
recorded artifact (BENCH_sf1.json) carries both timings, the ratio,
and a pass/fail flag: ratio <= 15 (10x data, 1.5x allowance for fixed
per-query overheads, AQE re-planning, and this VM's documented ~20%
run-to-run variance), with an absolute escape at sf1 <= 2.0s —
overhead-dominated sub-100ms queries can show a large RATIO while
being trivially fine in absolute terms, and flagging those as
non-linear would be noise, not signal.

Excluded by design (documented, not silent caps):
- embedding_neardup — exact all-pairs, quadratic by construction and
  size-guarded; embedding_neardup_lsh is its scale path and IS
  measured. (A LINEAR ratio flag would be meaningless for a
  deliberately quadratic baseline; since round 9 the entry is still
  hash-VERIFIED at sf1 by the correctness sweep — ~79s Spark / 8s
  oracle — it is only this linearity report that excludes it.)
- etl_pipeline_run — generator-driven with its own sf knob; measured
  by bench.py's etl_records_per_sec instead.

Usage: python tools/bench_sf1.py  (expects make_sf1.py output at
$SPARK_GRAFT_SF1_DIR, default /tmp/spark_graft_sf1)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import execute  # noqa: E402

EXCLUDE = {"embedding_neardup", "etl_pipeline_run"}

RATIO_LIMIT = 15.0
ABS_OK_SEC = 2.0


def run_set(spark, sf_dir: str, names: list[str]) -> dict[str, dict]:
    from simpleetlpipeline_spark.cache import release_caches
    from simpleetlpipeline_spark.plans import catalog

    out: dict[str, dict] = {}
    for name in names:
        best, n, err = None, 0, None
        # Best of 2: a scale RATIO is meaningless if one side ate a
        # one-time cost (codegen for the new plan, GC growth from the
        # previous query, Python worker respawn) — observed as a
        # phantom 17x on a query that is flat when warm.
        for _ in range(2):
            t0 = time.perf_counter()
            try:
                n = execute(catalog.QUERIES[name](spark, sf_dir))
            except Exception as e:  # a crash at scale IS the finding
                err = f"{type(e).__name__}: {e}"
                release_caches()
                break
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            # Release cross-query caches between runs so each query is
            # charged its own full pipeline (the catalog bench
            # amortizes them; here isolation beats realism).
            release_caches()
        out[name] = {"sec": round(best, 3) if best is not None else None,
                     "rows": n, "error": err}
    return out


def main() -> None:
    sf01 = "/root/testdata/sf0.1"
    sf1 = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/spark_graft_sf1")
    if not os.path.exists(os.path.join(sf1, "lineitem.parquet")):
        raise SystemExit(
            f"run tools/make_sf1.py first (no full table set at {sf1})")

    from simpleetlpipeline_spark.plans import catalog
    from simpleetlpipeline_spark.session import get_spark

    names = [n for n in catalog.QUERIES if n not in EXCLUDE]
    spark = get_spark("bench-sf1")
    spark.sparkContext.setLogLevel("ERROR")
    # Warm-up (JVM, codegen, Python worker pool, streaming machinery)
    # — same reasoning as bench.py.
    execute(catalog.QUERIES["dedup_exact"](spark, "/root/testdata/sf0.001"))
    execute(catalog.QUERIES["media_meta_extract"](
        spark, "/root/testdata/sf0.001"))
    catalog.QUERIES["streaming_events_hourly"](
        spark, "/root/testdata/sf0.001").collect()

    t01 = run_set(spark, sf01, names)
    t1 = run_set(spark, sf1, names)

    queries = {}
    for name in names:
        a, b = t01[name], t1[name]
        err = a.get("error") or b.get("error")
        if err:
            queries[name] = {
                "sf0.1_sec": a["sec"], "sf1_sec": b["sec"],
                "ratio": None, "linear_ok": False, "error": err,
            }
            continue
        ratio = round(b["sec"] / max(a["sec"], 1e-3), 2)
        ok = ratio <= RATIO_LIMIT or b["sec"] <= ABS_OK_SEC
        queries[name] = {
            "sf0.1_sec": a["sec"], "sf1_sec": b["sec"],
            "sf0.1_rows": a["rows"], "sf1_rows": b["rows"],
            "ratio": ratio, "linear_ok": ok,
        }
    # Headline = worst ratio among queries doing real sf1 work; the
    # overhead-dominated tail would otherwise own the number.
    rated = [q for q in queries.values() if q["ratio"] is not None]
    heavy = [q["ratio"] for q in rated
             if (q["sf1_sec"] or 0) > ABS_OK_SEC]
    # all-errored run: still write the artifact (it carries the
    # per-query error report) instead of dying on max() of nothing
    worst = max(heavy or [max(q["ratio"] for q in rated)]) if rated \
        else None
    result = {
        "metric": "sf1_over_sf0.1_runtime_ratio",
        "value": worst,
        "unit": "ratio",
        "ratio_limit": RATIO_LIMIT,
        "abs_ok_sec": ABS_OK_SEC,
        "n_queries": len(names),
        "excluded": sorted(EXCLUDE),
        "all_linear_ok": all(q["linear_ok"] for q in queries.values()),
        "queries": queries,
    }
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "BENCH_sf1.json"), "w") as fh:
        json.dump(result, fh, indent=1)
        fh.write("\n")
    print(json.dumps({k: v for k, v in result.items() if k != "queries"},
                     separators=(",", ":")))
    worst_5 = sorted(queries.items(),
                     key=lambda kv: -(kv[1]["ratio"] or 1e9))[:5]
    for n, q in worst_5:
        print(f"  {n}: {q['sf0.1_sec']}s -> {q['sf1_sec']}s "
              f"(x{q['ratio']}, ok={q['linear_ok']})")
    spark.stop()


if __name__ == "__main__":
    main()
