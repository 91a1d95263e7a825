"""End-to-end benchmark of the engine: one client, closed loop.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

One process is one run: it starts one ``local[nproc]`` session, sets
up its workload, runs one warm-up pass, then times passes over the
workload's entries, one entry at a time: as many passes as take about
``--seconds`` on a 4-vCPU host. Each entry is timed as its construction (the
catalog call, including any Spark jobs it runs eagerly) plus
``collect()``; every collected result is checked against its oracle
outside the timed region. ``cache.release_caches()`` ends every pass,
as a long-lived session's maintenance tick would.

Workloads (names carry the scale factor of their input):

- ``etl_sf0.01``: ``etl_pipeline_run`` at sf0.01 volume (85k source
  records per cycle). A pass is one generate -> validate -> append ->
  metadata -> rollup cycle; the seed is ``generator.SEED``, and the
  oracle replays the CSVs each cycle left behind.
- ``catalog_fixed_sf0.001``: one fixed-cost entry per named module
  (sf0.001 time at least 80% of sf0.1 time, see ``selection.json``)
  on a generated sf0.001 fixture.
- ``catalog_data_sf0.1``: the basket trio, whose time grows with data,
  on a generated sf0.1 fixture. Runnable, but not listed in
  BENCHMARK.json: a run of it takes about a minute, and a third gated
  workload does not fit the benchmark's time budget.

In the catalog workloads the seed shuffles the entry order of each pass.

End-to-end metrics (``--trace 0``): ``setup_s``, CPU seconds from
process start to the first timed pass (session start, fixture,
warm-up); ``pass_cpu_s``, median CPU seconds per timed pass;
``records_per_cpu_s``, records processed per CPU second of entry time:
the ETL lineage's ``records_processed`` (the reference's own formula,
main.py:639, over CPU instead of wall time), or for the catalog the
input records its jobs read, from Spark's status store. CPU seconds are
those of the whole process tree (this process, the JVM, its Python
workers), so they include JIT and GC threads. They are gated instead of
wall time because CPU steal on a shared 4-vCPU VM swings wall time
between identical runs far more than any bound allows. The info line
also prints, ungated, the wall-clock twins (``setup_wall_s``,
``pass_s``, ``records_per_sec``) and the entry latency medians ``query_s_p50`` and
``query_cpu_s_p50`` (a run has too few samples for a higher
percentile).

Per-layer metrics (``--trace 1``) come from a separate run that traces
every other timed pass; see ``tracing.py``. They are per traced pass.

The last line of stdout is the result,
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
The line before it records the host (cpus, versions, load, CPU steal),
the error rate, per-pass and per-entry times, and every failure.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import Counter  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import fixtures  # noqa: E402
import harness  # noqa: E402
import tracing  # noqa: E402

ETL_ENTRY = "etl_pipeline_run"
#: workload -> (fixture scale; the ETL generates its own input,
#: nominal warm pass seconds on a 4-vCPU host). A run times
#: ceil(--seconds / nominal) passes: a fixed amount of work, because
#: passes keep getting cheaper while the JIT warms up, so a pass count
#: that followed the host's speed would move the median.
WORKLOADS = {
    "etl_sf0.01": ("sf0.01", 5.0),
    "catalog_fixed_sf0.001": ("sf0.001", 5.0),
    "catalog_data_sf0.1": ("sf0.1", 12.0),
}
WARMUP_PASSES = 1
#: A traced run traces every other timed pass, starting with the
#: second, to measure the tracing overhead: untraced, traced,
#: untraced at least, so a trend across passes cancels.
MIN_TRACED_RUN_PASSES = 3


def load_selection() -> dict:
    with open(os.path.join(HERE, "selection.json")) as fh:
        return json.load(fh)


def layer_modules(selection: dict) -> list[str]:
    """Catalog modules with their own construct/action metrics: every
    module an entry of some workload lives in."""
    names = {n for lst in selection["workloads"].values() for n in lst}
    return sorted({selection["entries"][n]["module"] for n in names}
                  | {selection["entries"][ETL_ENTRY]["module"]})


class Run:
    """One benchmark run: session, entries, samples and results."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.etl = args.workload.startswith("etl_")
        self.samples = []   # (timed, name, construct_s, action_s, cpu_s)
        self.results = []   # (name, columns, rows) to check after timing
        self.failures = []  # (name, message)
        self.attempted = 0
        self.passes = []    # {"timed", "traced", "start", "end", "cpu_s"}
        self.records = 0    # records processed in timed passes
        self.traced_records = 0
        self.spark = None
        self.cpu0 = harness.cpu_times()

    def setup(self) -> None:
        selection = load_selection()
        self.layer_modules = layer_modules(selection)
        scale, nominal_s = WORKLOADS[self.args.workload]
        self.timed_passes = math.ceil(self.args.seconds / nominal_s)
        self.sf_dir = os.path.join(self.work, scale)
        if self.etl:
            entries = [ETL_ENTRY]
        else:
            entries = selection["workloads"][self.args.workload]
            fixtures.write(self.sf_dir, float(scale[2:]), fixtures.SEED)
        t = time.perf_counter()
        self.spark = harness.start_session()
        self.session_start_s = time.perf_counter() - t

        from simpleetlpipeline_spark import cache, generator
        from simpleetlpipeline_spark.plans import catalog

        if self.etl:
            generator.SEED = self.args.seed
        self.cache = cache
        self.fns = {n: catalog.QUERIES[n] for n in entries}
        self.module = {n: selection["entries"][n]["module"] for n in entries}
        self.oracle = harness.Oracle(None if self.etl else self.sf_dir)
        if self.args.trace:
            self.tracer = tracing.Tracer(self.spark, harness.PACKAGE)
            self.tracer.listen_streaming()
            self.ledger = self.tracer.ledger
        else:
            self.tracer = None
            self.ledger = tracing.JobLedger(self.spark)
        self.rng = random.Random(self.args.seed)

    def one_pass(self, timed: bool, traced: bool) -> None:
        tracer = self.tracer
        if tracer:
            tracer.enabled = traced
            tracer.begin_pass()
        order = list(self.fns)
        self.rng.shuffle(order)
        first_job = self.ledger.next_job_id()
        etl_result = None
        cpu_start = harness.tree_cpu_s()
        start = time.perf_counter()
        for name in order:
            self.attempted += 1
            layer = self.module[name]
            try:
                c0 = harness.tree_cpu_s()
                t0 = time.perf_counter()
                with _jobs(tracer, f"{layer}.construct"):
                    df = self.fns[name](self.spark, self.sf_dir)
                t1 = time.perf_counter()
                with _jobs(tracer, f"{layer}.action"):
                    rows = df.collect()
                t2 = time.perf_counter()
                c2 = harness.tree_cpu_s()
            except Exception as exc:  # noqa: BLE001 — counted, run goes on
                self.failures.append((name, f"{type(exc).__name__}: {exc}"))
                traceback.print_exc(file=sys.stderr)
                continue
            if tracer:
                tracer.sample_storage()
            self.samples.append((timed, name, t1 - t0, t2 - t1, c2 - c0))
            if name == ETL_ENTRY:
                etl_result = (df.columns, rows)
                n = sum(r["records_processed"] for r in rows)
                self.records += n if timed else 0
                self.traced_records += n if traced else 0
            else:
                self.results.append((name, df.columns, rows))
        self.cache.release_caches()
        end = time.perf_counter()
        cpu = harness.tree_cpu_s() - cpu_start
        if self.etl and etl_result:
            # The next cycle overwrites the CSVs the oracle replays.
            self.check(ETL_ENTRY, *etl_result, replay=True)
        if tracer:
            tracer.enabled = False
            tracer.end_pass()
        elif timed and not self.etl:
            self.records += self.ledger.totals(
                first_job, self.ledger.next_job_id())["input_records"]
        self.passes.append(
            {"timed": timed, "traced": traced, "start": start, "end": end,
             "cpu_s": cpu})

    def check(self, name, cols, rows, replay=False) -> None:
        try:
            problem = self.oracle.check(name, cols, rows, replay=replay)
        except Exception as exc:  # noqa: BLE001 — an oracle error fails the entry
            problem = f"oracle error {type(exc).__name__}: {exc}"
        if problem:
            self.failures.append((name, problem))

    def execute(self) -> tuple[dict, dict]:
        self.setup()
        t = time.perf_counter()
        for _ in range(WARMUP_PASSES):
            self.one_pass(timed=False, traced=False)
        self.warmup_s = time.perf_counter() - t
        self.setup_s = time.perf_counter() - T_START
        self.setup_cpu_s = harness.tree_cpu_s()
        if self.tracer:
            self.tracer.streaming_on = True
        n_passes = max(self.timed_passes,
                       MIN_TRACED_RUN_PASSES if self.args.trace else 1)
        for n in range(n_passes):
            self.one_pass(timed=True, traced=self.args.trace and n % 2 == 1)
        if self.tracer:
            time.sleep(0.5)  # let the last streaming progress events land
            self.tracer.streaming_on = False
        for name, cols, rows in self.results:
            self.check(name, cols, rows)
        metrics = (self.layer_metrics() if self.args.trace
                   else self.end_to_end_metrics())
        timed = [p for p in self.passes if p["timed"]]
        failed = len(self.failures)
        info = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "host": harness.host_info(self.cpu0),
            "error_rate": failed / self.attempted,
            "warmup_s": round(self.warmup_s, 3),
            "ungated": self.ungated_metrics(),
            "pass_s": [round(p["end"] - p["start"], 3) for p in timed],
            "pass_cpu_s": [round(p["cpu_s"], 3) for p in timed],
            "latency_s": {n: [round(c + a, 3) for t, m, c, a, _ in self.samples
                              if t and m == n] for n in self.fns},
            "failures": [f"{n}: {m[:300]}" for n, m in self.failures],
        }
        return info, {
            "correct": failed == 0,
            "attempted": self.attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }

    def end_to_end_metrics(self) -> dict:
        timed = [p for p in self.passes if p["timed"]]
        samples = [s for s in self.samples if s[0]]
        return {
            "setup_s": (self.setup_cpu_s, "s"),
            "pass_cpu_s": (statistics.median(p["cpu_s"] for p in timed), "s"),
            "records_per_cpu_s": (
                self.records / sum(s[4] for s in samples), "1/s"),
        }

    def ungated_metrics(self) -> dict:
        """Printed on the info line but not gated: wall-clock twins of
        the CPU metrics, and the entry latency median, which flips
        between neighbouring entries of a five-entry pass."""
        timed = [p for p in self.passes if p["timed"]]
        samples = [s for s in self.samples if s[0]]
        return {
            "setup_wall_s": self.setup_s,
            "pass_s": statistics.median(p["end"] - p["start"] for p in timed),
            "query_s_p50": statistics.median(s[2] + s[3] for s in samples),
            "query_cpu_s_p50": statistics.median(s[4] for s in samples),
            "records_per_sec": self.records / sum(s[2] + s[3]
                                                  for s in samples),
        }

    def layer_metrics(self) -> dict:
        tr = self.tracer
        traced = [p for p in self.passes if p["traced"]]
        untraced = [p["end"] - p["start"] for p in self.passes
                    if p["timed"] and not p["traced"]]
        n = len(traced)
        walls = [p["end"] - p["start"] for p in traced]
        self_s = tracing.self_times(tr.spans)
        # Share of each traced pass's wall time covered by spans; the
        # lowest pass is reported.
        coverage = min(
            sum(tracing.self_times([s for s in tr.spans
                                  if p["start"] <= s[1] < p["end"]]).values())
            / (p["end"] - p["start"]) for p in traced)

        def layer_s(name):
            return self_s.get(name, 0.0) / n

        totals, construct = Counter(), Counter()
        for layer, c in tr.jobs.items():
            totals.update(c)
            if layer.endswith(".construct"):
                construct.update(c)
        out = {
            "session.start_s": (self.session_start_s, "s"),
            "warmup_s": (self.warmup_s, "s"),
            # Per-layer, not end-to-end: JVM heap growth makes it vary
            # by +-20% between identical runs.
            "peak_rss_mb": (harness.peak_rss_mb(self.spark), "MB"),
            "trace.overhead_frac": (statistics.median(walls)
                                    / statistics.median(untraced) - 1,
                                    "ratio"),
            "trace.coverage_frac": (coverage, "ratio"),
            "construct_s": (sum(layer_s(f"{m}.construct")
                                for m in self.layer_modules), "s"),
            "action_s": (sum(layer_s(f"{m}.action")
                             for m in self.layer_modules), "s"),
            "eager_jobs": (construct["jobs"] / n, "count"),
        }
        for name, unit in (("jobs", "count"), ("stages", "count"),
                           ("skipped_stages", "count"), ("tasks", "count"),
                           ("input_bytes", "B"), ("shuffle_read_bytes", "B"),
                           ("shuffle_write_bytes", "B"), ("spill_bytes", "B"),
                           ("executor_run_s", "s"), ("executor_cpu_s", "s"),
                           ("gc_s", "s")):
            out[name] = (totals[name] / n, unit)
        out["executor_busy_frac"] = (
            totals["executor_run_s"] / (sum(walls) * harness.cpu_count()),
            "ratio")
        for m in self.layer_modules:
            out[f"{m}.construct_s"] = (layer_s(f"{m}.construct"), "s")
            out[f"{m}.action_s"] = (layer_s(f"{m}.action"), "s")
        out["cache.persists"] = (tr.counts["cache.persists"] / n, "count")
        out["cache.released"] = (tr.counts["cache.released"] / n, "count")
        out["cache.peak_storage_bytes"] = (tr.peak_storage, "B")
        n_timed = sum(1 for p in self.passes if p["timed"])
        for key in ("batches", "trigger_s", "add_batch_s", "wal_commit_s"):
            out[f"streaming.{key}"] = (
                tr.streaming[f"streaming.{key}"] / n_timed,
                "count" if key == "batches" else "s")
        for key in ("read_table", "driver_rows_df"):
            out[f"io.{key}.calls"] = (tr.counts[f"io.{key}.calls"] / n,
                                      "count")
            out[f"io.{key}_s"] = (layer_s(f"io.{key}"), "s")
        for key in ("generate", "load_table", "append", "dup_count",
                    "rollup"):
            out[f"etl.{key}_s"] = (layer_s(f"etl.{key}"), "s")
        etl = Counter()
        if self.etl:
            layer = self.module[ETL_ENTRY]
            etl = tr.jobs[f"{layer}.construct"] + tr.jobs[f"{layer}.action"]
        out["etl.jobs"] = (etl["jobs"] / n, "count")
        out["etl.output_bytes_per_record"] = (
            etl["output_bytes"] / self.traced_records
            if self.traced_records else 0.0, "B")
        return out


def _jobs(tracer, layer):
    return tracer.jobs_of(layer) if tracer else nullcontext()


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        work = harness.prepare(f"run-{args.workload}")
    except harness.SetupError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 2
    run = Run(args, work)
    try:
        info, result = run.execute()
    finally:
        if run.spark is not None:
            harness.stop_session(run.spark)
        harness.cleanup(work)
    print(json.dumps({"info": info}))
    print(json.dumps(result))
    return 0


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


if __name__ == "__main__":
    raise SystemExit(main())
