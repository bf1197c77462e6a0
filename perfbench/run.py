"""Benchmark runner for the encode → store → decode core.

    python3 perfbench/run.py --workload pages_ingest --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Prints one JSON line of run facts
(code identity, session shape, input sizes, exact Spark counters),
then as its last line one JSON object with the keys correct,
attempted, failed and metrics. --trace 0 reports the end-to-end
metrics of BENCHMARK.json; --trace 1 reports the per-layer ones and
writes the run's spans to .perfbench_out/. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import session  # noqa: E402
from perfbench.stats import percentile  # noqa: E402
from perfbench.trace import Tracer, self_time_by_name  # noqa: E402

WORKLOADS = ("pages_ingest", "pbf_transcode")
#: Set-up ends with one whole cycle as warm-up: it pays the JIT and
#: Python-worker start-up (its ingest and scan take about twice a warm
#: one's time), is checked, and counts in setup_s, not in the metrics.
#: Then the run repeats the cycle at least MIN_CYCLES times, and more
#: while another cycle, at the mean cycle time so far, would end within
#: --seconds. Each metric is the median of its samples. Every operation
#: is checked.
CYCLE = ("ingest", "scan", "lookup", "range", "project")
MIN_CYCLES = 2
#: The traced run measures the cost of tracing by running one cycle
#: with tracing off between two traced ones, so a steady drift cancels.
TRACE_CYCLES = 3
UNTRACED_CYCLE = 1


def metric_units() -> tuple[dict, dict]:
    """Name -> unit of the end-to-end and the per-layer metrics, as
    BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def source_digest() -> str:
    """sha256 over the engine's source files: identifies the code even
    where the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "osm_pbf_parquet_spark")
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                p = os.path.join(dirpath, name)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    """HEAD of the checkout, or None where it is not a git work tree of
    its own (a parent directory's repository does not count)."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = out.stdout.split()
    if out.returncode or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return None
    return lines[1]


class Runner:
    """Runs a workload's operations, checks each, and keeps its samples."""

    def __init__(self, bench, workload: str, seed: int, tracer: Tracer):
        from perfbench.workloads import Pages, Pbf

        self.bench = bench
        self.tracer = tracer
        cls = Pbf if workload == "pbf_transcode" else Pages
        self.source = cls(bench, seed, tracer)
        self.timed = False
        self.samples: dict[str, list[float]] = {}
        self.counters: dict[str, set] = {}
        self.size_ratios: list[float] = []
        self.worker_peak = 0.0
        self.store = None
        self.ops = 0
        self.lookups = 0
        self.attempted = 0
        self.failed = 0

    def cycle(self, timed: bool = True) -> float:
        """Run every operation once; return the wall time. Operations
        of an untimed (warm-up) cycle are checked but give no samples."""
        self.timed = timed
        t0 = time.perf_counter()
        for kind in CYCLE:
            self.op(kind)
        return time.perf_counter() - t0

    def op(self, kind: str) -> None:
        s = self.source
        self.ops += 1
        if kind == "ingest":
            out = self.bench.path(f"store-{self.ops}")
            fn = lambda: s.ingest(out)  # noqa: E731
        elif kind == "lookup":
            i = self.lookups
            self.lookups += 1
            fn = lambda: s.lookup(self.store, i)  # noqa: E731
        else:
            fn = lambda: getattr(s, kind)(self.store)  # noqa: E731
        self.attempted += 1
        ok = False
        try:
            with self.tracer.span(kind, op=f"{kind}-{self.ops}"):
                ok, seconds, (jobs, tasks) = self.bench.run_op(fn)
        except Exception as e:  # noqa: BLE001 — counted as failed and reported
            print(f"{kind} raised {type(e).__name__}: {e}"[:4000], file=sys.stderr)
        else:
            if not ok:
                print(f"{kind} returned a wrong result", file=sys.stderr)
        if kind == "ingest":
            # later reads go to the newest store; keep one on disk
            if self.store is not None:
                shutil.rmtree(self.store, ignore_errors=True)
            self.store = out
        if not ok:
            self.failed += 1
            return
        self.counters.setdefault(f"jobs.{kind}", set()).add(jobs)
        self.counters.setdefault(f"tasks.{kind}", set()).add(sum(tasks))
        print(f"  {kind:8s} {seconds:7.3f} s  jobs={jobs}"
              + ("" if self.timed else "  (warm-up)"), file=sys.stderr)
        if not self.timed:
            return
        if kind == "ingest":
            from perfbench.workloads import dir_bytes

            self.size_ratios.append(dir_bytes(out) / s.zstd_bytes)
        self.samples.setdefault(kind, []).append(seconds)
        self.worker_peak = max(self.worker_peak, session.worker_peak_mb())

    def chunks(self):
        """The newest store's committed chunk metadata, its manifest
        resolved as `read_encoded` resolves it."""
        from pyspark.sql import functions as F

        from osm_pbf_parquet_spark.plans.manifest import (
            read_committed_chunks,
            read_manifest,
        )

        spark = self.bench.spark
        m = read_manifest(spark, self.store)
        return read_committed_chunks(spark, self.store, m.filter(F.col("status") == "done"))

    def count_codecs(self) -> None:
        """Add the newest store's chunks per codec to the exact counters."""
        for row in self.chunks().groupBy("codec").count().collect():
            self.counters[f"chunks.{row['codec']}"] = {row["count"]}

    def end_to_end(self, setup_s: float) -> dict:
        mb = self.source.nbytes / 1e6

        def med(kind):
            return percentile(self.samples[kind], 50)

        return {
            "setup_s": setup_s,
            "ingest_mb_per_s": mb / med("ingest"),
            "scan_mb_per_s": mb / med("scan"),
            "size_ratio": percentile(self.size_ratios, 50),
            "lookup_s_p50": med("lookup"),
            "range_s_p50": med("range"),
            "project_s_p50": med("project"),
            "worker_peak_rss_mb": self.worker_peak,
        }

    def per_layer(self, cycle_s: list[float]) -> dict:
        """The per-layer metrics; `cycle_s` holds the wall time of each
        cycle of the run."""
        from osm_pbf_parquet_spark.config import derive_num_partitions

        from perfbench import layers

        s, bench = self.source, self.bench
        path = getattr(s, "path", None)
        if path is None:
            from osm_pbf_parquet_spark.sources.pbf import synthetic_osm_pbf

            path = synthetic_osm_pbf(
                bench.path("control.osm.pbf"),
                n_nodes=layers.CONTROL_PBF_NODES, seed=bench.seed,
            )
        out, pbf_table = layers.pbf_layers(bench, path)
        # one chunk group per engine partition, as encode_job derives them
        kernels, checked, failed = layers.kernel_layers(
            [s.table, pbf_table], derive_num_partitions(bench.spark))
        out.update(kernels)
        self.attempted += checked
        self.failed += failed
        out.update(layers.spark_layers(self))
        for c in layers.MIX_CODECS:
            out[f"codecs.chunks.{c}"] = max(self.counters[f"chunks.{c}"])
        out["manifest.jobs_per_write"] = max(self.counters["jobs.ingest"])
        out["spark.jobs_per_lookup"] = max(self.counters["jobs.lookup"])
        # traced ÷ untraced warm cycle time, minus one
        around = cycle_s[UNTRACED_CYCLE - 1] + cycle_s[UNTRACED_CYCLE + 1]
        out["trace.overhead_frac"] = around / 2 / cycle_s[UNTRACED_CYCLE] - 1
        return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import osm_pbf_parquet_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"cannot run: {e} (run from the root of a checkout)", file=sys.stderr)
        return 2
    e2e_units, layer_units = metric_units()
    tracer = Tracer(False)  # spans only in the timed cycles of a traced run
    with session.Bench(ROOT, args.seed) as bench:
        r = Runner(bench, args.workload, args.seed, tracer)
        r.cycle(timed=False)
        setup_s = time.perf_counter() - T_START - r.source.gen_extra_s
        print(f"setup {setup_s:.2f} s", file=sys.stderr)
        min_cycles = TRACE_CYCLES if args.trace else MIN_CYCLES
        cycle_s = []
        t0 = time.perf_counter()
        while len(cycle_s) < min_cycles or (
                time.perf_counter() - t0 + sum(cycle_s) / len(cycle_s) <= args.seconds):
            tracer.enabled = args.trace == 1 and len(cycle_s) != UNTRACED_CYCLE
            cycle_s.append(r.cycle())
        tracer.enabled = args.trace == 1
        window_s = time.perf_counter() - t0
        if not r.failed:
            r.count_codecs()
        facts = dict(
            bench.info(), workload=args.workload, git_sha=git_sha(),
            source_sha256=source_digest(), input_rows=r.source.rows,
            input_bytes=r.source.nbytes, zstd_parquet_bytes=r.source.zstd_bytes,
            window_s=window_s, cycles=len(cycle_s),
            samples={k: len(v) for k, v in r.samples.items()},
            counters={k: sorted(v) for k, v in sorted(r.counters.items())},
        )
        metrics = {}
        if not r.failed and args.trace:
            values = r.per_layer(cycle_s)
            if not r.failed:
                metrics = {k: (values[k], u) for k, u in layer_units.items()}
            facts["self_time_s"] = self_time_by_name(tracer.spans)
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            tracer.write(os.path.join(out, f"trace-{args.workload}-{args.seed}.json"))
        elif not r.failed:
            values = r.end_to_end(setup_s)
            metrics = {k: (values[k], u) for k, u in e2e_units.items()}
    print(json.dumps({"run": facts}))
    print(json.dumps({
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if metrics else 1


if __name__ == "__main__":
    sys.exit(main())
