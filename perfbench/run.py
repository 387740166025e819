"""Benchmark of the ohsome_planet_spark engine: one workload at one seed.

    python3 perfbench/run.py --workload web_enrich --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout that holds the `ohsome_planet_spark`
package. One driver process runs the workload on `local[<cores>]` in a
closed loop: each pass starts when the previous one has finished. Inputs
are generated from the seed (and cached per workload and seed under
`.perfbench_cache/`); every pass's output is checked.

--trace 0 prints the end-to-end metrics. --trace 1 prints the per-layer
metrics instead: it runs traced passes (spans around the calls into each
layer) in a session with Spark's event log on, then untraced ones, and
reports the unattributed residual and the tracing overhead too.
perfbench/NOTES.md defines every metric and workload.

The last line of stdout is one JSON object:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
Everything the run writes stays under the checkout's `.perfbench_cache/`.
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
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUPS = 2            # set-ups per run; setup_s is their median
WARM_S = 8.0          # untimed units after the last set-up, for this long
WARM_MEMORY_MB = 64   # guest memory each warm-up task touches
# a fixed driver heap (-Xms = -Xmx), touched whole when the JVM starts
# (-XX:+AlwaysPreTouch): left to grow, or touched page by page as it fills,
# the heap's resident size wanders with GC timing and the run's length, and
# peak_rss_mb with it; and the timed passes pay the first-touch faults
DRIVER_MEMORY = "3g"

END_TO_END = {
    "setup_s": "s",
    "items_per_s": "items/s",
    "pass_s.p50": "s",
    "pass_s.tail": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "spark.task_s": "s",
    "spark.tasks": "count",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.wall_gap_s": "s",
    "spark.jobs": "count",
    "spark.python_s": "s",
    "spark.python_bytes": "bytes",
    "spark.cached_mb": "MB",
    "sources.pages.scan_s": "s",
    "operators.geocode.extract_s": "s",
    "operators.geocode.join_s": "s",
    "operators.geocode.mentions_per_page": "ratio",
    "operators.geocode.match_ratio": "ratio",
    "operators.spatial_join.pip_s": "s",
    "operators.tiling.cells_s": "s",
    "operators.skew.agg_s": "s",
    "operators.skew.out_rows": "count",
    "sources.pbf.decode_s": "s",
    "sources.pbf.entity_versions": "count",
    "plans.contributions.scratch_s": "s",
    "operators.history.node_s": "s",
    "operators.history.way_s": "s",
    "operators.history.relation_s": "s",
    "operators.history.rows": "count",
    "io.geoparquet.write_s": "s",
    "io.geoparquet.bytes_per_row": "bytes",
    "operators.dedup.exact_s": "s",
    "operators.dedup.lsh_s": "s",
    "operators.dedup.pairs": "count",
    "operators.dedup.cc_s": "s",
    "operators.dedup.cc_jobs": "count",
    "operators.dedup.decontam_s": "s",
    "functions.text.quality_s": "s",
    "plans.corpus.stage_rows": "count",
    "streaming.add_batch_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "operators.hotspot.gi_s": "s",
    "streaming.hotspot_stream.merge_s": "s",
    "streaming.hotspot_stream.state_dir_bytes": "bytes",
    "trace.residual_s": "s",
    "trace.overhead_s": "s",
}


def tail(times: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it. Below 20 samples that percentile would sit under the
    median; the maximum (p100) stands in."""
    s = sorted(times)
    n = len(s)
    if n < 20:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def forget_udf_handles() -> None:
    """Drop the JVM function handles PySpark caches on UDF objects. A
    handle holds the accumulator of the SparkContext it was made in; after
    a restart in the same process, a module-level UDF of the engine would
    still report to the stopped context's accumulator server, and every
    task of the new context would fail its accumulator update."""
    import gc

    from pyspark.sql.udf import UserDefinedFunction

    for o in gc.get_objects():
        if isinstance(o, UserDefinedFunction):
            o._judf_placeholder = None


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float,
                 cache: Path, run_dir: Path):
        from workloads import WORKLOADS

        self.wl_cls = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.cache = cache
        self.run_dir = run_dir
        self.tmp = cache / "tmp"
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.wl = None
        self.attempted = self.failed = 0

    def start_session(self, extra: dict | None = None) -> float:
        from ohsome_planet_spark.session import get_spark

        restart = self.spark is not None
        if restart:
            self.spark.stop()
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": str(self.tmp),
            "spark.sql.warehouse.dir": str(self.tmp / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={self.tmp}",
        }
        conf.update(extra or {})
        t = time.perf_counter()
        self.spark = get_spark(app_name="perfbench",
                               master=f"local[{self.cores}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        if restart:
            forget_udf_handles()
        return time.perf_counter() - t

    def warm_memory(self) -> None:
        """Fault in guest memory across the Python workers before timing,
        so no timed pass pays for first-touch page faults."""
        mb = WARM_MEMORY_MB

        def touch(batches):
            import numpy as np
            import pandas as pd

            np.ones(mb * 131072)  # writes every page of mb MiB
            for _ in batches:
                pass
            yield pd.DataFrame({"id": [0]})

        n = self.cores
        self.spark.range(n, numPartitions=n).mapInPandas(touch, "id long").count()

    def setup(self, times: int, extra: dict | None = None) -> tuple[list[float], float]:
        """`times` set-ups (session, inputs opened, warm pass); the first
        counts from process start, minus input generation, the others
        restart the session. `extra` configures the first session only.
        → (set-up seconds, first session start seconds)."""
        from inputs import make_inputs
        from procs import process_age_s

        age0 = process_age_s()
        t0 = time.perf_counter()
        start_s = self.start_session(extra)
        self.warm_memory()
        self.log(f"session started in {start_s:.2f} s, memory warmed in "
                 f"{time.perf_counter() - t0 - start_s:.2f} s")
        input_dir, facts, t_gen = make_inputs(
            self.cache, self.wl_cls.name, self.seed, self.spark)
        self.wl = self.wl_cls(self.spark, input_dir, facts, self.run_dir)
        self.wl.warm()
        setups = [age0 + time.perf_counter() - t0 - t_gen]
        self.log(f"set up in {setups[-1]:.2f} s (inputs {t_gen:.2f} s)")
        for _ in range(times - 1):
            t = time.perf_counter()
            self.start_session()
            self.wl.rebind(self.spark)
            self.wl.warm()
            setups.append(time.perf_counter() - t)
            self.log(f"set up again in {setups[-1]:.2f} s")
        return setups, start_s

    @staticmethod
    def log(msg: str) -> None:
        print(f"perfbench: {msg}", file=sys.stderr, flush=True)

    def measure(self, seconds: float, unit) -> list:
        """Closed loop: units back to back, until the next one would end
        past `seconds` (at least one)."""
        done = []
        start = time.perf_counter()
        while True:
            self.isolate()
            t = time.perf_counter()
            n = self.wl.passes_per_unit
            self.attempted += n
            try:
                u = unit()
            except Exception:
                traceback.print_exc(file=sys.stderr)
                self.failed += n
                u = None
            if u is not None:
                if not u.ok:
                    self.failed += n
                done.append(u)
            last = time.perf_counter() - t
            if time.perf_counter() - start + last > seconds:
                self.log(f"measured {len(done)} units in "
                         f"{time.perf_counter() - start:.2f} s, passes "
                         + " ".join(f"{p:.3f}" for u in done for p in u.passes))
                return done

    def end_to_end(self, setups: list[float], units: list, rss_mb: float) -> dict:
        passes = [p for u in units for p in u.passes]
        if not passes:  # every unit raised: nothing was measured
            return dict.fromkeys(END_TO_END, 0.0)
        tail_s, pct = tail(passes)
        print(f"pass_s.tail is p{pct:.1f} of {len(passes)} passes", flush=True)
        return {
            "setup_s": statistics.median(setups),
            "items_per_s": statistics.median(u.items / u.wall for u in units),
            "pass_s.p50": statistics.median(passes),
            "pass_s.tail": tail_s,
            "peak_rss_mb": rss_mb,
        }

    def restart(self) -> None:
        self.start_session()
        self.wl.rebind(self.spark)
        self.wl.warm()
        self.warm_more()

    def warm_more(self) -> None:
        """Untimed units until WARM_S has passed: right after a session
        start the JIT and the Python workers still speed up pass by pass."""
        t = time.perf_counter()
        while time.perf_counter() - t < WARM_S:
            self.isolate()
            self.wl.warm()

    def isolate(self) -> None:
        """Start the next unit from the same state as every other: nothing
        cached by an earlier unit, and a JVM heap just collected, so no
        pass pays for the garbage of the one before it."""
        self.spark.catalog.clearCache()
        self.spark.sparkContext._jvm.System.gc()

    def reference(self) -> None:
        t = time.perf_counter()
        self.wl.reference()
        self.log(f"reference built in {time.perf_counter() - t:.2f} s")

    def run(self, rss) -> dict:
        setups, _ = self.setup(SETUPS)
        self.reference()
        self.warm_more()
        units = self.measure(self.seconds, self.wl.unit)
        return self.end_to_end(setups, units, rss.peak_mb)

    def run_traced(self) -> dict:
        """Traced units in a session with Spark's event log on, then
        untraced units in a session without it, each session warmed the
        same way first. The untraced session runs second, so the JIT has
        had longer to warm up: the overhead errs high, not low."""
        from spans import Tracer, read_event_log

        log_dir = self.run_dir / "eventlog"
        log_dir.mkdir(parents=True)
        _, start_s = self.setup(1, {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir.as_uri(),
            "spark.eventLog.compress": "false",
        })
        self.reference()
        self.warm_more()
        tracer = Tracer()
        traced = self.measure(self.seconds / 2,
                              lambda: self.wl.traced(tracer))
        self.restart()  # stopping the traced session flushes its log
        plain = self.measure(self.seconds / 2, self.wl.unit)
        tracer.attribute(read_event_log(log_dir))
        if not (plain and traced):  # every unit raised: nothing was measured
            return dict.fromkeys(PER_LAYER, 0.0)

        jobs = tracer.named("job")
        layers = {"session.start_s": start_s}
        for k in ("jobs", "tasks", "task_s", "shuffle_bytes", "spill_bytes",
                  "python_s", "python_bytes"):
            layers[f"spark.{k}"] = statistics.median(j["spark"][k] for j in jobs)
        layers["spark.wall_gap_s"] = statistics.median(
            (j["end"] - j["start"]) - j["spark"]["task_s"] / self.cores
            for j in jobs)
        for k in traced[0].layers:
            vals = [u.layers[k] for u in traced]
            if all(isinstance(v, (int, float)) for v in vals):
                layers[k] = statistics.median(vals)
        layers.update(self.wl.span_layers(tracer))
        layers["trace.overhead_s"] = (
            statistics.median(p for u in traced for p in u.passes)
            - statistics.median(p for u in plain for p in u.passes))
        print("spans " + json.dumps(
            [{k: s[k] for k in ("id", "name", "parent", "start", "end",
                                "counts", "spark")} for s in tracer.spans]),
            flush=True)
        return {k: float(layers.get(k, 0.0)) for k in PER_LAYER}


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "ohsome_planet_spark" / "__init__.py").is_file():
        print(f"perfbench: no ohsome_planet_spark package in {ROOT}; run from "
              "the root of a checkout of the engine", file=sys.stderr)
        return 2
    try:
        import pyspark  # noqa: F401
    except ImportError:
        print("perfbench: pyspark is not installed", file=sys.stderr)
        return 2

    cache = ROOT / ".perfbench_cache"
    run_dir = cache / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    (cache / "tmp").mkdir(parents=True, exist_ok=True)
    run_dir.mkdir(parents=True, exist_ok=True)
    # keep every file Spark, the JVM and the workers write in the checkout,
    # and let the Python workers import the engine
    os.environ["TMPDIR"] = str(cache / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(cache / "tmp")
    # no /tmp/hsperfdata_<user> files from the launcher or the driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData"]).strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    sys.path.insert(0, str(ROOT))

    from procs import PeakRss, shutdown_spark

    bench = Bench(args.workload, args.seed, args.seconds, cache, run_dir)
    try:
        with PeakRss() as rss:
            try:
                if args.trace:
                    metrics, units = bench.run_traced(), PER_LAYER
                else:
                    metrics, units = bench.run(rss), END_TO_END
            finally:
                t = time.perf_counter()
                shutdown_spark()
                bench.log(f"shut down in {time.perf_counter() - t:.2f} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    frac = bench.failed / max(bench.attempted, 1)
    print(f"failed_frac {frac} ratio ({bench.failed} of {bench.attempted} passes)")
    for k, v in metrics.items():
        print(f"{k} {v} {units[k]}")
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
