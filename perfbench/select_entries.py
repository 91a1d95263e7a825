"""Measure every catalog entry at sf0.001 and sf0.1 and derive the
entry lists of the catalog workloads from those times.

    python3 perfbench/select_entries.py            # measure, then derive
    python3 perfbench/select_entries.py --derive   # re-derive only

Measurement: one local[nproc] session; per entry, in catalog order,
one cold and one warm run at each scale (sf0.001 then sf0.1, twice),
each timed as entry call plus ``collect()`` and followed by
``cache.release_caches()``. The warm times, the oracle verdict of the
warm rows and the host are written to ``selection.json`` beside this
file, together with the rules below and the lists they give. The
benchmark reads its lists from that file, so a later change can audit
or re-derive them.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import fixtures  # noqa: E402
import harness  # noqa: E402

OUT = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                   "selection.json")
SCALES = ("sf0.001", "sf0.1")

#: Fixed-cost workload: entries whose sf0.001 time is at least this
#: share of their sf0.1 time; the slowest such entry of each of these
#: modules. (Filling the pass with the slowest fixed-cost entries
#: overall would put a 7 s entry, and a 40 s cold pass, into every
#: run, more than a run's time budget allows.)
FIXED_MIN_RATIO = 0.8
FIXED_MODULES = ("functions.multimodal", "streaming.windows",
                 "streaming.stateful", "streaming.sinks",
                 "operators.erasure", "operators.quality")
#: Data-proportional workload: entries whose sf0.1 time exceeds their
#: sf0.001 time by at least this much (the ETL entry excluded) ...
DATA_MIN_GROWTH_S = 1.5
#: ... taken by descending growth until the warm sf0.1 pass reaches
#: this many seconds, ...
DATA_PASS_S = 10.0
#: ... always keeping the basket trio, which each build the same
#: collect_set basket aggregate (the intermediate a session cache
#: would share). On a 4-vCPU host the trio alone is a 12 s pass, so
#: the cut admits nothing else; the MinHash and embedding families
#: that share persisted intermediates would double the pass.
DATA_ALWAYS = ("basket_lift_rules", "item_cooccurrence_cf",
               "copurchase_pairs")
ETL_ENTRY = "etl_pipeline_run"


def module_of(fn) -> str:
    return fn.__module__.removeprefix(harness.PACKAGE + ".")


def measure() -> dict:
    work = harness.prepare("select")
    cpu0 = harness.cpu_times()
    try:
        dirs = {sf: fixtures.write(os.path.join(work, sf),
                                   float(sf[2:]), fixtures.SEED)
                for sf in SCALES}
        spark = harness.start_session()
        from simpleetlpipeline_spark.cache import release_caches
        from simpleetlpipeline_spark.plans import catalog

        oracles = {sf: harness.Oracle(d) for sf, d in dirs.items()}
        entries = {}
        for name, fn in catalog.QUERIES.items():
            rec = {"module": module_of(fn)}
            for rep in ("cold", "warm"):
                for sf in SCALES:
                    t = time.perf_counter()
                    try:
                        df = fn(spark, dirs[sf])
                        cols, rows = df.columns, df.collect()
                    except Exception as exc:  # noqa: BLE001 — recorded
                        rec[f"{sf}_error"] = f"{type(exc).__name__}: {exc}"[:300]
                        release_caches()
                        continue
                    rec[f"{sf}_{rep}_s"] = round(time.perf_counter() - t, 4)
                    release_caches()
                    if rep == "warm":
                        problem = oracles[sf].check(name, cols, rows,
                                                    replay=True)
                        if problem:
                            rec[f"{sf}_error"] = problem[:300]
            entries[name] = rec
            print(name, rec, file=sys.stderr, flush=True)
        harness.stop_session(spark)
        return {"host": harness.host_info(cpu0), "entries": entries}
    finally:
        harness.cleanup(work)


def derive(entries: dict) -> dict:
    def t(name, sf):
        return entries[name][f"{sf}_warm_s"]

    ok = [n for n, r in entries.items()
          if all(f"{sf}_warm_s" in r and f"{sf}_error" not in r
                 for sf in SCALES)]

    fixed_pool = sorted((n for n in ok
                         if t(n, "sf0.001") >= FIXED_MIN_RATIO * t(n, "sf0.1")),
                        key=lambda n: -t(n, "sf0.001"))
    fixed = []
    for mod in FIXED_MODULES:
        fixed += [n for n in fixed_pool if entries[n]["module"] == mod][:1]

    def growth(n):
        return t(n, "sf0.1") - t(n, "sf0.001")

    data_pool = sorted((n for n in ok if n != ETL_ENTRY
                        and growth(n) >= DATA_MIN_GROWTH_S),
                       key=lambda n: -growth(n))
    data = [n for n in DATA_ALWAYS if n in data_pool]
    total = sum(t(n, "sf0.1") for n in data)
    for n in data_pool:
        if total >= DATA_PASS_S:
            break
        if n not in data:
            data.append(n)
            total += t(n, "sf0.1")
    return {"catalog_fixed_sf0.001": fixed, "catalog_data_sf0.1": data}


RULES = {
    "catalog_fixed_sf0.001": (
        f"warm sf0.001 >= {FIXED_MIN_RATIO} x warm sf0.1; the slowest such "
        f"entry of each of {list(FIXED_MODULES)}; entries that fail at "
        "either scale are left out and listed under failing"),
    "catalog_data_sf0.1": (
        f"warm sf0.1 - warm sf0.001 >= {DATA_MIN_GROWTH_S} s, "
        f"{ETL_ENTRY} excluded; always {list(DATA_ALWAYS)}, then by "
        f"descending growth until the warm sf0.1 pass reaches {DATA_PASS_S} s"),
}


def main() -> int:
    if "--derive" in sys.argv:
        with open(OUT) as fh:
            doc = json.load(fh)
    else:
        doc = measure()
    doc["rules"] = RULES
    doc["workloads"] = derive(doc["entries"])
    doc["failing"] = sorted(n for n, r in doc["entries"].items()
                            if any(k.endswith("_error") for k in r))
    with open(OUT, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
