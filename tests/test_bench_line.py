"""The driver parses bench.py's final stdout line from a ~2000-byte
tail window; these tests pin the line-budget contract so catalog
growth can never silently push the JSON back out of the window, and
pin execute(), the one timing action every bench tool shares."""

from __future__ import annotations

import json

from bench import LINE_BUDGET, bounded_line, execute, noise_fields


def _result(queries: dict) -> dict:
    return {
        "metric": "catalog_total_runtime",
        "value": round(sum(queries.values()), 4),
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "etl_records_per_sec": 123456.7,
        "repeat": 1,
        "best_of": 2,
        # worst-case noise block (every scalar present) so the
        # budget test charges its real byte cost
        "noise": noise_fields(
            {"loadavg": 12.34, "cpu_total": 100_000_000,
             "cpu_idle": 50_000_000, "cpu_steal": 1_000_000},
            {"loadavg": 23.45, "cpu_total": 100_999_999,
             "cpu_idle": 50_400_000, "cpu_steal": 1_050_000},
            {"q": [1.2345, 0.1234]}),
    }


def test_noise_fields_contract():
    """Round-9 verdict task #1: the artifact must self-adjudicate
    host noise — steal fraction, pre-run loadavg, and best-of-2
    gain each independently trip noise_suspect."""
    quiet = {"loadavg": 0.1, "cpu_total": 0, "cpu_idle": 0,
             "cpu_steal": 0}

    def end(steal=0, busy=0, total=1000):
        return {"loadavg": 0.1, "cpu_total": total,
                "cpu_idle": total - busy - steal, "cpu_steal": steal}

    calm = noise_fields(quiet, end(steal=1, busy=100), {"q": [1.0, 0.99]})
    assert calm["noise_suspect"] is False
    assert calm["cpu_steal_frac"] == 0.001

    stolen = noise_fields(quiet, end(steal=50, busy=100), {})
    assert stolen["noise_suspect"] is True

    loaded = noise_fields({"loadavg": 9.0}, {"loadavg": 0.1}, {})
    assert loaded["noise_suspect"] is True

    # Round-13 recalibration (prior verdict task #8): a large retry
    # gain on an otherwise-pristine host is cache/fixture warm-up,
    # not noise — it no longer trips the flag by itself ...
    shaved = noise_fields(quiet, end(steal=1, busy=100),
                          {"a": [2.0, 1.0], "b": [1.0, 1.0]})
    assert shaved["retry_gain_frac"] == round(1.0 / 3.0, 4)
    assert shaved["retry_improved"] == 1
    assert shaved["retry_gain_corroborated"] is False
    assert shaved["noise_suspect"] is False
    # ... but the same gain WITH mild external corroboration (steal
    # above 0.5%, below the 2% sufficient-alone bar) still trips it.
    shaved_steal = noise_fields(quiet, end(steal=8, busy=100),
                                {"a": [2.0, 1.0], "b": [1.0, 1.0]})
    assert shaved_steal["retry_gain_corroborated"] is True
    assert shaved_steal["noise_suspect"] is True
    # ...as does an end-of-run loadavg beyond the harness's own load.
    shaved_load = noise_fields(
        quiet, {"loadavg": 20.0, "cpu_total": 1000,
                "cpu_idle": 899, "cpu_steal": 1},
        {"a": [2.0, 1.0], "b": [1.0, 1.0]})
    assert shaved_load["noise_suspect"] is True


def test_current_catalog_fits_budget():
    """Worst-case line for the REAL registered query names (every
    timing a 6-char float) must fit the driver's tail window."""
    from simpleetlpipeline_spark.plans import catalog

    timings = {name: 123.45 for name in catalog.QUERIES}
    line = bounded_line(_result(timings))
    assert len(line) <= LINE_BUDGET
    parsed = json.loads(line)
    assert parsed["metric"] == "catalog_total_runtime"
    # everything dropped from the line is accounted for
    assert (len(parsed["queries"]) + parsed.get("queries_omitted", 0)
            == len(timings))


def test_oversized_catalog_drops_cheapest_first():
    timings = {f"query_with_a_rather_long_name_{i:03d}": float(i)
               for i in range(200)}
    line = bounded_line(_result(timings))
    assert len(line) <= LINE_BUDGET
    parsed = json.loads(line)
    kept = parsed["queries"]
    assert parsed["queries_omitted"] == 200 - len(kept)
    # the most expensive queries survive; the dropped ones are cheapest
    assert min(kept.values()) >= parsed["queries_omitted"] - 1


def test_small_catalog_unchanged():
    timings = {"a": 1.234, "b": 2.345}
    parsed = json.loads(bounded_line(_result(timings)))
    assert parsed["queries"] == {"a": 1.23, "b": 2.35}
    assert "queries_omitted" not in parsed


def test_bench_full_ownership_noise_aware():
    """Round-10 verdict task #2: a self-flagged noisy run may own
    BENCH_FULL.json only by beating the incumbent's total; fewer
    passes than the incumbent always diverts."""
    from bench import bench_full_divert_reason as why

    committed = {"repeat": 3, "value": 122.79}

    # driver-style single pass never clobbers a repeat-3 median
    assert "repeat=1" in why(1, 100.0, False, committed)
    # the motivating failure: noisy repeat-3 that is SLOWER
    assert "noise_suspect" in why(3, 200.75, True, committed)
    # noisy but faster = valid upper-bound improvement
    assert why(3, 110.0, True, committed) is None
    # quiet equal-passes run owns regardless of total
    assert why(3, 130.0, False, committed) is None
    # more passes beats the repeat guard; noise guard still applies
    assert why(5, 300.0, True, committed) is not None
    assert why(5, 300.0, False, committed) is None
    # corrupt/absent incumbent fields fall back permissive
    assert why(1, 50.0, True, {}) is None
    assert why(1, 50.0, True, {"repeat": "x", "value": None}) is None


def test_execute_computes_every_column_once_per_row(spark):
    """The shared timing action runs the whole plan: a Python-UDF
    column (which count() prunes away) runs exactly once per row."""
    from pyspark.sql import functions as F

    calls = spark.sparkContext.accumulator(0)

    def bump(x):
        calls.add(1)
        return x

    df = spark.range(100).select(F.udf(bump, "long")("id").alias("v"))
    assert execute(df) == 100
    assert calls.value == 100
