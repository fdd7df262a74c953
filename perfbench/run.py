#!/usr/bin/env python3
"""Benchmark of the link, ingest and curate production lines.

    python3 perfbench/run.py --workload link --seed 1 --seconds 40 --trace 0

Run from the repository root. Workload ``link`` is the flagship entity
resolution line; ``corpus`` is the ingest loop followed by curation of the
same docs. Each invocation runs one workload in this process on a
``local[$SPARK_GRAFT_CPUS]`` session (default: the CPUs this process may
use) with 2 x CPUs shuffle partitions. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (every end-to-end metric of BENCHMARK.json with ``--trace 0``,
every per-layer metric with ``--trace 1``). A pass that raises or fails
its output checks makes ``correct`` false, leaves its time out of the
metrics and makes the run exit 1.

``--trace 0`` measures one pass in a fresh process: the wall a
``spark-submit`` user pays once the session is up. ``--seconds`` is
accepted for the benchmark interface and does not change the run: one
pass takes about BENCHMARK.json's ``run_seconds`` on a 4-core host, and a
second pass in the same JVM would measure warm code instead.

``--trace 1`` runs a traced cold pass on a warm-up seed, then a traced
and an untraced pass on the measured seed, and reports the traced warm
pass's spans (self time, jobs, executor run time, shuffle), the tracing
overhead against the untraced pass and the peak memory of the process
tree over those two passes. Spans are also written to
``.perfbench_out/``.

Everything the run writes (Spark local dirs unless ``SPARK_LOCAL_DIRS``
is set, temp files, stage state) goes under ``.perfbench_work/`` in the
repository and is removed at exit.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
BENCH_DIR = Path(__file__).resolve().parent
N_SETUPS = 3
WARMUP_SEED_OFFSET = 1_000_003


def _parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["link", "corpus"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--smoke", action="store_true",
                    help="small inputs: 200 entities, 200 docs")
    return ap.parse_args(argv)


def _host_cpus() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def _start_session(work: Path, cpus: int):
    from soweego_spark.session import get_spark

    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    conf = {
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if not os.environ.get("SPARK_LOCAL_DIRS"):
        conf["spark.local.dir"] = str(work / "local")
    spark = get_spark(
        cpus=cpus, app_name="perfbench", shuffle_partitions=2 * cpus,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)


class Bench:
    """One run: set-up, the passes, their checks and the metric dict."""

    def __init__(self, args, spark, work: Path):
        from perfbench.workloads import FULL, SMOKE, WORKLOADS

        self.args, self.spark, self.work = args, spark, work
        self.wl = WORKLOADS[args.workload](SMOKE if args.smoke else FULL)
        self.attempted = 0
        self.failed = 0
        self.fingerprints: dict[int, dict] = {}
        self.problems: list[str] = []

    def setup(self, seed: int, repeats: int = 1):
        """Inputs for ``seed``; returns them and the median set-up time."""
        times = []
        for _ in range(repeats):
            t0 = time.time()
            inp = self.wl.setup(self.spark, seed)
            times.append(time.time() - t0)
        return inp, statistics.median(times)

    def one_pass(self, inp, seed: int, rec=None) -> float | None:
        """Run, time and check one pass. Returns its wall, or None if it
        raised or failed its checks."""
        self.attempted += 1
        state = self.work / "state" / f"pass{self.attempted}"
        self.spark.catalog.clearCache()
        try:
            t0 = time.time()
            out = self.wl.run(self.spark, inp, state, rec)
            wall = time.time() - t0
            problems, fp = self.wl.check(self.spark, inp, out, state)
            first = self.fingerprints.setdefault(seed, fp)
            if fp != first:
                problems.append(f"outputs differ across passes: {fp} != {first}")
            if rec is not None:
                self.extras = self.wl.layer_extras(self.spark, inp, out, state)
        except Exception:  # a failed pass is counted, the run goes on
            traceback.print_exc()
            problems, wall = ["pass raised"], None
        finally:
            shutil.rmtree(state, ignore_errors=True)
        if problems:
            self.failed += 1
            self.problems += problems
            print(f"pass {self.attempted} failed: {problems}", file=sys.stderr)
            return None
        return wall

    def end_to_end(self, session_s: float) -> dict:
        seed = self.args.seed
        inp, setup_s = self.setup(seed, N_SETUPS)
        values = {"setup_s": session_s + setup_s}
        wall = self.one_pass(inp, seed)
        if wall is not None:  # a failed pass has no time to report
            values["pass_s"] = wall
        return values

    def per_layer(self) -> tuple[dict, list[dict]]:
        from perfbench.spans import Recorder, RssSampler, StatusStore

        store = StatusStore(self.spark)
        seed = self.args.seed
        warm_inp, _ = self.setup(seed + WARMUP_SEED_OFFSET)
        cold = Recorder(store)
        self.one_pass(warm_inp, seed + WARMUP_SEED_OFFSET, cold)
        inp, _ = self.setup(seed)
        traced = Recorder(store)
        rss = RssSampler()
        rss.start()
        try:
            traced_wall = self.one_pass(inp, seed, traced)
            untraced_wall = self.one_pass(inp, seed)
        finally:
            rss.stop()
        vals = {"peak_rss_mb": rss.peak_mb}

        name = self.wl.name
        for span, t in traced.totals().items():
            vals[f"{span}.s"] = t["s"]
            vals[f"{span}.jobs"] = t["jobs"]
            vals[f"{span}.task_s"] = t["task_s"]
            vals[f"{span}.shuffle_mb"] = t["shuffle_mb"]
            vals[f"{span}.gc_s"] = t["gc_s"]
        if name == "link":
            for span, t in cold.totals().items():
                vals[f"{span}.cold_s"] = t["s"]
        probes = [s.self_s for s in traced.spans if s.name == "ingest.probe"]
        if len(probes) >= 2:
            vals["ingest.probe_growth"] = probes[-1] / probes[0]
        vals.update(getattr(self, "extras", {}))
        if traced_wall:
            vals[f"{name}.span_coverage"] = traced.top_level_wall() / traced_wall
            if untraced_wall:
                vals[f"{name}.trace_overhead_s"] = traced_wall - untraced_wall
        spans = [
            {"pass": tag, **s.as_dict()}
            for tag, rec in (("cold", cold), ("traced", traced))
            for s in rec.spans
        ]
        return vals, spans


def _metric_block(spec: list[dict], values: dict, default=None) -> dict:
    """The listed metrics that have a value (or ``default``)."""
    return {
        m["name"]: {"value": float(values.get(m["name"], default)),
                    "unit": m["unit"]}
        for m in spec
        if m["name"] in values or default is not None
    }


def main(argv=None) -> int:
    args = _parse_args(argv)
    if not (ROOT / "soweego_spark").is_dir():
        print(f"no soweego_spark package next to {BENCH_DIR.name}/; run "
              "from a checkout of the repository", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    spark = None
    try:
        spark = _start_session(work, _host_cpus())
        session_s = time.time() - T_START
        bench = Bench(args, spark, work)
        if args.trace:
            values, spans = bench.per_layer()
            # a layer this workload does not run reads 0
            metrics = _metric_block(spec["per_layer"], values, default=0.0)
            out_dir = ROOT / ".perfbench_out"
            out_dir.mkdir(exist_ok=True)
            (out_dir / f"spans-{args.workload}-seed{args.seed}.json").write_text(
                json.dumps(spans, indent=1)
            )
        else:
            metrics = _metric_block(spec["end_to_end"],
                                    bench.end_to_end(session_s))
    finally:
        if spark is not None:
            _stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    for name, m in metrics.items():
        if args.trace and m["value"] == 0.0:
            continue  # a layer this workload does not run
        print(f"{args.workload:7s} {name:34s} {m['value']:14.4f} {m['unit']}",
              file=sys.stderr)
    for p in bench.problems:
        print(f"check failed: {p}", file=sys.stderr)
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }))
    return 1 if bench.failed else 0


if __name__ == "__main__":
    sys.exit(main())
