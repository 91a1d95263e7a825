"""Per-JOB profile of catalog queries via the Spark event log
(optimization guide §1.1/§7): runs each named query once on a warm
session with eventLog enabled, labels it with setJobDescription, then
parses the log into a per-query job table — job wall ms, stage count,
task count, input bytes, shuffle read/write bytes. Job *structure*
(counts, bytes) is host-noise-immune, which is what makes this probe
usable on the shared VM; wall ms is indicative only. Usage:

    python tools/profile_jobs.py [--sf DIR] query [query...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import execute  # noqa: E402

EVDIR = "/tmp/spark_graft_events"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    os.makedirs(EVDIR, exist_ok=True)
    for f in os.listdir(EVDIR):
        os.unlink(os.path.join(EVDIR, f))

    from pyspark.sql import SparkSession

    from simpleetlpipeline_spark.plans import catalog
    from simpleetlpipeline_spark.session import _runtime_conf, default_parallelism

    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName("profile-jobs")
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{EVDIR}")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
    )
    for k, v in _runtime_conf().items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    catalog.QUERIES["top_products"](spark, args.sf).collect()

    runs: list[tuple[str, float, float, float]] = []
    for name in args.queries:
        spark.sparkContext.setJobDescription(name)
        t0 = time.perf_counter()
        w0 = time.time() * 1000
        execute(catalog.QUERIES[name](spark, args.sf))
        runs.append((name, time.perf_counter() - t0,
                     w0, time.time() * 1000))
        spark.sparkContext.setJobDescription(None)
    spark.stop()

    log = max((os.path.join(EVDIR, f) for f in os.listdir(EVDIR)),
              key=os.path.getmtime)
    if os.path.isdir(log):  # rolling event-log layout (Spark 3.0+)
        log = max((os.path.join(log, f) for f in os.listdir(log)
                   if "events" in f), key=os.path.getmtime)
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(log) as fh:
        for line in fh:
            ev = json.loads(line)
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "desc": (ev.get("Properties") or {}).get(
                        "spark.job.description", ""),
                    "t0": ev["Submission Time"],
                    "stages": [s["Stage ID"] for s in ev["Stage Infos"]],
                    "n_tasks": sum(s["Number of Tasks"]
                                   for s in ev["Stage Infos"]),
                }
            elif e == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                acc = {a.get("Name"): a.get("Value")
                       for a in si.get("Accumulables", [])}
                stages[si["Stage ID"]] = {
                    "input": acc.get("internal.metrics.input.bytesRead", 0),
                    "sw": acc.get(
                        "internal.metrics.shuffle.write.bytesWritten", 0),
                    "sr": acc.get(
                        "internal.metrics.shuffle.read.remoteBytesRead", 0)
                    + acc.get(
                        "internal.metrics.shuffle.read.localBytesRead", 0),
                    "name": si.get("Stage Name", ""),
                    "skipped": False,
                }

    for name, wall, w0, w1 in runs:
        mine = [j for j in jobs.values() if "t1" in j
                and w0 <= j["t0"] <= w1]
        print(f"\n== {name}: wall={wall:.2f}s "
              f"jobs={len(mine)}")
        for j in sorted(mine, key=lambda x: x["t0"]):
            tag = "" if j["desc"] == name else \
                f"  [{(j['desc'] or 'unlabelled')[:48]}]"
            ran = [s for s in j["stages"] if s in stages]
            inp = sum(stages[s]["input"] or 0 for s in ran)
            sw = sum(stages[s]["sw"] or 0 for s in ran)
            sr = sum(stages[s]["sr"] or 0 for s in ran)
            site = stages[ran[-1]]["name"][:44] if ran else ""
            print(f"  {j['t1'] - j['t0']:6d}ms stages={len(ran)}/"
                  f"{len(j['stages'])} tasks={j['n_tasks']:4d} "
                  f"in={inp >> 10:6d}K sw={sw >> 10:5d}K "
                  f"sr={sr >> 10:5d}K {site}{tag}")


if __name__ == "__main__":
    main()
