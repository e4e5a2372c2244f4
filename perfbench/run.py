#!/usr/bin/env python3
"""Benchmark of the batch analytics engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see ``workloads.py``): ``pipeline_backfill`` (the Case A / Case B
/ ``llm_corpus`` scheduled jobs) and ``stream_drain`` (availableNow
streaming drains) are the ones ``BENCHMARK.json`` gates; ``query_mix``
(registered batch queries forced with a noop write) runs the same way but
is not gated, because a third workload does not fit the run-time budget.

One run is one driver process on ``local[<cores>]`` with one closed-loop
client that issues the next item only when the previous one returned.
It generates its inputs from ``--seed``, sets the engine up three times
(``setup_s`` is the median; each set-up ends with a small warm-up job of
the workload's kind), runs every item once with its output checked (this
also warms the engine's per-item code paths, and is not timed), then
runs timed passes over the item list until ``--seconds`` have passed (at
least one).  Each pass runs every item once and
``spark.catalog.clearCache()`` follows every item.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs, after
the checked pass, a pass with the per-layer probes (Spark's status stores
and a streaming listener) between two passes without them; the traced
pass's wall minus the mean of the other two is the tracing overhead.  It
prints the probes' counters for every item of the traced pass and their
sums as the metrics.  The last stdout line is always one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

Everything the run writes stays under ``.perfbench_work/`` in the
checkout and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "etl_cloud_batch_processing_spark"
WORKLOADS = ("pipeline_backfill", "query_mix", "stream_drain")
SETUPS = 3
TAIL_PERCENTILES = (99, 90)
# Modules that define the pinned registered queries (``workloads.py``).
PLAN_MODULES = ("analytics", "core", "corpus", "drift", "evolution", "filtering", "layout",
                "llm", "multimodal", "profiling", "similarity", "sketches", "streams",
                "temporal")
PIPELINES = ("case_a", "case_b", "llm_corpus")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def tail(values: list[float]) -> tuple[float, str]:
    """The highest of p99 and p90 with at least ten samples beyond it;
    the maximum when there are fewer than a hundred samples."""
    n = len(values)
    for p in TAIL_PERCENTILES:
        if n * (100 - p) / 100 >= 10:
            return statistics.quantiles(values, n=100, method="inclusive")[p - 1], f"p{p}"
    return max(values), "max"


class Bench:
    def __init__(self, work: str):
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.local_dir = f"{work}/spark-local"
        self.failures: list[tuple[str, str]] = []
        self.attempted = 0

    # -- set-up ---------------------------------------------------------
    def _conf(self) -> dict[str, str]:
        tmp = tempfile.gettempdir()
        return {
            "spark.driver.memory": "3g",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.local_dir,
            "spark.sql.warehouse.dir": f"{self.work}/spark-warehouse",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }

    def setup(self, wl) -> dict[str, float]:
        """Start the engine ``SETUPS`` times (stopping all but the last):
        session start, engine conf and package shipping, then the
        workload's warm-up job.  Returns the medians.  No Python worker is
        pre-forked: no gated item runs a Python UDF."""
        from etl_cloud_batch_processing_spark.session import apply_engine_conf, get_spark

        starts, warms = [], []
        for i in range(SETUPS):
            t0 = time.perf_counter()
            spark = get_spark("perfbench", master=f"local[{self.cores}]",
                              extra_conf=self._conf())
            spark.sparkContext.setLogLevel("ERROR")
            apply_engine_conf(spark)
            t1 = time.perf_counter()
            wl.warm(spark)
            t2 = time.perf_counter()
            starts.append(t1 - t0)
            warms.append(t2 - t1)
            if i < SETUPS - 1:
                spark.stop()
        self.spark = spark
        print(f"# setups: start_s={[round(x, 2) for x in starts]} warmup_s={[round(x, 2) for x in warms]}")
        return {"session.start_s": statistics.median(starts),
                "session.warmup_s": statistics.median(warms),
                "setup_s": statistics.median(s + w for s, w in zip(starts, warms))}

    def calibration(self) -> float:
        """The fixed 16M-row shuffle + aggregate box-speed probe of the
        repository's ``bench.py`` (one shot)."""
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        (self.spark.range(1 << 24)
         .select((F.col("id") % 4096).alias("k"), "id")
         .groupBy("k").agg(F.sum("id").alias("s"), F.count(F.lit(1)).alias("n"))
         .write.format("noop").mode("overwrite").save())
        return time.perf_counter() - t0

    # -- passes -------------------------------------------------------
    def passes(self, wl, seconds: float, tracer=None, check: bool = False) -> list[dict]:
        """Whole passes until ``seconds`` have passed (at least one); with
        ``check`` the first pass also checks every output.  A pass's
        ``wall_s`` is the sum of its item walls."""
        out: list[dict] = []
        t_start = time.perf_counter()
        while not out or time.perf_counter() - t_start < seconds:
            items: list[dict] = []

            def timed(name: str, fn) -> dict:
                if tracer:
                    tracer.begin()
                t0 = time.perf_counter()
                try:
                    result = fn()
                    err = None
                except Exception as exc:  # one failing item must not end the run
                    result, err = {}, f"{type(exc).__name__}: {exc}"[:300]
                wall = time.perf_counter() - t0
                self.spark.catalog.clearCache()
                rec = {"item": name, "layer": wl.layer(name), "wall_s": wall}
                rec.update((k, v) for k, v in result.items() if not k.startswith("_"))
                if tracer:
                    rec.update(tracer.end())
                if err:
                    self.failures.append((name, err))
                items.append(rec)
                return result

            self.failures += wl.run_pass(self.spark, timed, check and not out)
            out.append({"wall_s": sum(it["wall_s"] for it in items), "items": items})
            self.attempted += len(items)
        return out


class Tracer:
    """Per-item per-layer counters from outside the package."""

    def __init__(self, bench: Bench, counters, probe):
        self.bench, self.counters, self.probe = bench, counters, probe

    def begin(self) -> None:
        self.counters.begin()
        self.probe.take()
        self.t_files = time.time()

    def end(self) -> dict[str, float]:
        import probes

        rec = self.counters.end()
        rec.update(self.probe.take())
        files, size = probes.files_since(self.bench.work, self.t_files, self.bench.local_dir)
        rec["sources.files_written"] = files
        rec["sources.bytes_written"] = size
        return rec


def pass_layers(p: dict, cores: int) -> dict[str, float]:
    """Per-layer sums over one traced pass."""
    import probes

    items = p["items"]
    keys = probes.SPARK_KEYS + probes.STREAM_KEYS + (
        "sources.files_written", "sources.bytes_written", "plans.builder_s", "plans.action_s",
        "pipelines.rows_in")
    out = {k: sum(it.get(k, 0.0) for it in items) for k in keys}
    wall = sum(it["wall_s"] for it in items)
    out["spark.busy_frac"] = out["spark.executor_run_s"] / (wall * cores) if wall else 0.0
    for m in PLAN_MODULES:
        out[f"plans.{m}.wall_s"] = sum(it["wall_s"] for it in items if it["layer"] == f"plans.{m}")
    for pl in PIPELINES:
        out[f"pipelines.{pl}_s"] = sum(it["wall_s"] for it in items
                                       if it["layer"] == f"pipelines.{pl}")
    out["pipelines.rows_out"] = sum(it["spark.output_records"] for it in items
                                    if it["layer"].startswith("pipelines."))
    out["sources.write_amp"] = (out["sources.bytes_written"] / out["spark.input_bytes"]
                                if out["spark.input_bytes"] else 0.0)
    out["streaming.empty_batch_frac"] = (out["streaming.empty_batches"] / out["streaming.batches"]
                                         if out["streaming.batches"] else 0.0)
    return out


def unit(name: str) -> str:
    if "bytes" in name:
        return "B"
    if name.startswith("box.calib_s"):
        return "s"
    for suffix, u in (("rows_per_s", "1/s"), ("_s", "s"), ("_frac", "frac"), ("_mb", "MiB"),
                      ("_amp", "ratio"), ("_ratio", "ratio")):
        if name.endswith(suffix):
            return u
    return "count"


def run(args: argparse.Namespace, work: str) -> dict:
    sys.path.insert(0, ROOT)
    import probes
    import workloads

    bench = Bench(work)
    wl = workloads.make(args.workload)
    phases = {"start": time.perf_counter()}
    wl.prepare(f"{work}/inputs", args.seed)
    phases["inputs"] = time.perf_counter()
    setup = bench.setup(wl)
    phases["setup"] = time.perf_counter()
    spark = bench.spark
    stream_probe = probes.StreamProbe()
    if wl.streams or args.trace:
        spark.streams.addListener(stream_probe)
    metrics: dict[str, float] = {}
    try:
        bench.passes(wl, 0, check=True)  # warms every item; not timed
        probes.drain_listeners(spark)
        stream_probe.take()
        if not args.trace:
            passes = bench.passes(wl, args.seconds)
            run_wall = statistics.median(p["wall_s"] for p in passes)
            walls = [it["wall_s"] for p in passes for it in p["items"]]
            item_tail, label = tail(walls)
            metrics = {"setup_s": setup["setup_s"], "run_wall_s": run_wall,
                       "item_p50_s": statistics.median(walls), "item_tail_s": item_tail}
            rows = wl.input_rows
            if wl.streams:
                probes.drain_listeners(spark)
                rows = stream_probe.take()["streaming.input_rows"] / len(passes)
            if rows is not None:
                metrics["rows_per_s"] = rows / run_wall
            for p in passes:
                print("# item walls: " + " ".join(f"{it['item']}={it['wall_s']:.2f}"
                                                  for it in p["items"]))
            print(f"# passes={len(passes)} items={len(walls)} item_tail_s={label} "
                  f"input_rows={rows} input_bytes={wl.input_bytes} per pass")
        else:
            bench.calibration()  # its first, cold run is not the box's speed
            calib_start = bench.calibration()
            before = bench.passes(wl, 0)
            traced = bench.passes(wl, 0, Tracer(bench, probes.StatusCounters(spark), stream_probe))
            after = bench.passes(wl, 0)
            calib_end = bench.calibration()
            for it in traced[0]["items"]:
                print("# item " + json.dumps(it, sort_keys=True))
            metrics = pass_layers(traced[0], bench.cores)
            for k in ("spark.input_records", "spark.output_records", "streaming.queries"):
                metrics.pop(k)
            metrics.update({
                "session.start_s": setup["session.start_s"],
                "session.warmup_s": setup["session.warmup_s"],
                "session.jvm_peak_rss_mb": probes.jvm_peak_rss_mb(spark),
                "box.calib_s_start": calib_start, "box.calib_s_end": calib_end,
                "box.calib_ratio": calib_end / calib_start,
                "probes.overhead_s": traced[0]["wall_s"] - (before[0]["wall_s"]
                                                             + after[0]["wall_s"]) / 2,
            })
    finally:
        spark.stop()
        gateway = spark.sparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
    phases["end"] = time.perf_counter()
    names = list(phases)
    print("# phase seconds: " + " ".join(
        f"{b}={phases[b] - phases[a]:.1f}" for a, b in zip(names, names[1:])))
    failed = len(bench.failures)
    for name, reason in bench.failures:
        print(f"# FAILED {name}: {reason}")
    attempted = max(bench.attempted, 1)
    print(f"# failed_frac={failed / attempted} ({failed}/{attempted})")
    if args.trace:
        metrics["failed_frac"] = failed / attempted
    for k, v in sorted(metrics.items()):
        print(f"# {k} = {v:.6g} {unit(k)}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": unit(k)} for k, v in sorted(metrics.items())}}


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found next to perfbench/: run from a full checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(f"{work}/tmp")
    os.environ["TMPDIR"] = f"{work}/tmp"
    tempfile.tempdir = None
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
