#!/usr/bin/env python3
"""Benchmark of the query engine: one workload, one process, one client.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  One run:

1. stages the workload's input tables under a per-run directory
   (``.perfbench/run-*``, removed at exit), three times, keeping the last;
2. starts the engine's SparkSession on ``local[nproc]``;
3. warms up with full-size rounds of the workload's query mix;
4. runs timed rounds for ``--seconds`` (at least ``MIN_ROUNDS``), a closed
   loop with one client.  A round runs every query of the mix once, in an
   order the seed permutes; each query is built with
   ``QUERIES[name].fn(spark, dir)``, executed with a ``count()``, checked
   against the committed expected count, and its cached blocks dropped.
   The round-based metrics are medians over the timed rounds during which
   the hypervisor stole little CPU (see ``_counted``).

A failing or wrong query is recorded with its phase (build, execute or
check) and the run goes on.  The last line of standard output is the
result: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
timed rounds alternate untraced and traced, and the metrics are the
per-layer ones (see ``tracing.py``) plus the tracing overhead.  Every
round and every query execution goes to the detail file
(``.perfbench/results/`` unless ``--detail`` says otherwise).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "dissertation_data_pipeline_spark"
sys.path.insert(1, ROOT)

import datagen  # noqa: E402
import procstat  # noqa: E402
from workloads import SMOKE_SF, WORKLOADS  # noqa: E402

DEFAULT_SEED = 1
STAGE_REPEATS = 3
#: Driver heap of the benchmark's session (the engine defaults to 8g).
DRIVER_MEMORY = "3g"
#: JVM options of the session, chosen for steady measurements on a few
#: shared cores.  With the default tiered C2 compiler the JIT does not
#: settle within a run's minute: round CPU time keeps falling for more than
#: 25 rounds (by half on ``interactive_sql``), and C2's compile threads take
#: about two cores for the first minute, so a timed window measures how far
#: the JIT got, which moves with the host's load.  C1 alone compiles a
#: fraction of that and levels off within a few rounds.  G1 sizes the heap
#: from its pause times, so the JVM's peak resident memory varied by a
#: third between runs of the same code; the serial collector sizes it from
#: occupancy, and adds no GC threads.
JVM_OPTS = ("-XX:TieredStopAtLevel=1", "-XX:+UseSerialGC")
#: Fewest timed rounds of a run, so that at least two count (``_counted``).
MIN_ROUNDS = 3
#: A timed round counts if the hypervisor stole at most this share of the
#: machine's CPU while it ran (see ``_counted``).
STEAL_MAX = 0.03
END_TO_END = {
    "wall_s": "s",
    "cpu_s": "s",
    "query_p50_s": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--smoke", action="store_true",
        help=f"no warm-up, one round (two with --trace 1) at sf{SMOKE_SF}",
    )
    p.add_argument(
        "--break-query", metavar="NAME:PHASE",
        help="self-test: make query NAME fail in PHASE (build, execute or count)",
    )
    p.add_argument("--detail", help="path of the detail JSON")
    return p.parse_args(argv)


def _isolate(run_dir: str, cores: int) -> None:
    """Keep every file the run writes under ``run_dir`` and pin the
    engine's environment knobs."""
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # the launcher JVM of spark-submit would write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    for knob in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_EXTRA_CONF", "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(knob, None)
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def _counted(rounds: list[dict]) -> list[dict]:
    """The rounds the metrics count, each marked ``counted``: those during
    which the hypervisor stole at most ``STEAL_MAX`` of the machine's CPU,
    or, if they are fewer than half, the half (rounded up) during which it
    stole the least.

    On a shared host the other guests come and go over tens of seconds; a
    round during which they took 5-15% of the machine's CPU ran 20-90%
    slower, because every py4j call and every task waits for its vCPU to be
    scheduled again.  That is the host's time, not the program's."""
    half = (len(rounds) + 1) // 2
    quiet = [r for r in rounds if r["steal_share"] <= STEAL_MAX]
    if len(quiet) < half:
        quiet = sorted(rounds, key=lambda r: r["steal_share"])[:half]
    for r in quiet:
        r["counted"] = True
    return quiet


def _broken(fn, phase: str):
    def build(spark, sf_dir):
        if phase == "build":
            raise RuntimeError("deliberately broken query (build)")
        df = fn(spark, sf_dir)
        if phase == "execute":
            from pyspark.sql import functions as F

            return df.where(F.raise_error(F.lit("deliberately broken query")).isNull())
        return df.unionByName(df.limit(1))  # one row too many

    return build


class Bench:
    def __init__(self, args, run_dir: str, cores: int) -> None:
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.sf = SMOKE_SF if args.smoke else self.wl.sf
        self.run_dir = run_dir
        with open(os.path.join(HERE, "expected_counts.json")) as fh:
            self.expected = json.load(fh)[str(self.sf)]
        self.spark = None
        self.tracer = None
        self.detail: dict = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "smoke": args.smoke,
            "sf": self.sf,
            "cores": cores,
            "master": f"local[{cores}]",
            "driver_memory": DRIVER_MEMORY,
            "load1_start": os.getloadavg()[0],
        }

    # -- set-up -----------------------------------------------------------

    def _stage(self) -> float:
        """Generate the tables once, then write the seeded per-run copy
        ``STAGE_REPEATS`` times; returns generation plus the median write."""
        t0 = time.perf_counter()
        tables = datagen.build_tables(self.sf)
        gen_s = time.perf_counter() - t0
        times = []
        for i in range(1 if self.args.smoke else STAGE_REPEATS):
            t0 = time.perf_counter()
            out = os.path.join(self.run_dir, f"data{i}")
            datagen.stage(tables, out, order_seed=self.args.seed)
            times.append(time.perf_counter() - t0)
            if i:
                shutil.rmtree(os.path.join(self.run_dir, f"data{i - 1}"))
        self.data_dir = out
        self.detail.update(generate_s=gen_s, write_s=times)
        return gen_s + statistics.median(times)

    def _start(self) -> float:
        t0 = time.perf_counter()
        from dissertation_data_pipeline_spark.plans.registry import QUERIES
        from dissertation_data_pipeline_spark.session import drop_blocks, get_spark

        self.drop_blocks = drop_blocks
        self.queries = {n: QUERIES[n].fn for n in self.wl.queries}
        if self.args.break_query:
            name, _, phase = self.args.break_query.partition(":")
            self.queries[name] = _broken(self.queries[name], phase or "build")
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
                    + " ".join(JVM_OPTS)
                ),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    # -- rounds -----------------------------------------------------------

    def _execute(self, name: str, traced: bool) -> dict:
        rec: dict = {"name": name}
        tr = self.tracer if traced else None
        if tr:
            rec["j0"], rec["t0"] = tr.next_job(), time.time()
        phase = "build"
        t0 = time.perf_counter()
        try:
            df = self.queries[name](self.spark, self.data_dir)
            t1 = time.perf_counter()
            if tr:
                rec["j1"], rec["t1"] = tr.next_job(), time.time()
            phase = "execute"
            cdf = df.groupBy().count()
            n = cdf.collect()[0][0]
            t2 = time.perf_counter()
            if tr:
                rec["j2"], rec["t2"] = tr.next_job(), time.time()
                rec["catalyst"], rec["catalyst_spans"] = tr.catalyst(cdf)
            rec.update(build_s=t1 - t0, wall_s=t2 - t0, count=n)
            want = self.expected.get(name)
            if n != want:
                rec.update(phase="check", error=f"count {n}, expected {want}")
        except Exception as e:  # recorded, and the run goes on
            rec.update(
                phase=phase,
                error=f"{type(e).__name__}: {str(e).strip()[:400]}",
                traceback=traceback.format_exc()[-2000:],
                wall_s=time.perf_counter() - t0,
            )
        finally:
            self.drop_blocks(self.spark)
        return rec

    def _round(self, index: int, traced: bool) -> dict:
        order = list(self.wl.queries)
        random.Random(self.args.seed * 1_000_003 + index).shuffle(order)
        if traced:
            self.tracer.begin()
        load1 = os.getloadavg()[0]
        steal0, ticks0 = procstat.host_ticks()
        cpu0 = procstat.cpu_s()
        t0 = time.perf_counter()
        recs = [self._execute(name, traced) for name in order]
        wall = time.perf_counter() - t0
        cpu = procstat.cpu_s() - cpu0
        steal1, ticks1 = procstat.host_ticks()
        if traced:
            self.tracer.attribute([r for r in recs if "t2" in r])
        return {
            "round": index,
            "traced": traced,
            "wall_s": wall,
            "cpu_s": cpu,
            "load1": load1,
            "steal_share": (steal1 - steal0) / max(1, ticks1 - ticks0),
            "queries": recs,
        }

    # -- the run ----------------------------------------------------------

    def run(self) -> dict:
        t_setup = time.perf_counter()
        stage_s = self._stage()
        session_s = self._start()
        if self.args.trace:
            from tracing import Tracer

            self.tracer = Tracer(self.spark)
        t_warm = time.perf_counter()
        n_warm = 0 if self.args.smoke else self.wl.warmup_rounds
        warmup = [self._round(-1 - i, False) for i in range(n_warm)]
        warmup_s = time.perf_counter() - t_warm
        setup_s = session_s + stage_s + warmup_s
        self.detail.update(
            session_s=session_s,
            warmup_s=warmup_s,
            setup_s=setup_s,
            setup_elapsed_s=time.perf_counter() - t_setup,
            warmup=warmup,
        )

        # rounds until the next would end past --seconds; a fixed window
        # rather than a fixed count keeps a run's length bounded when the
        # host is slow
        if self.args.smoke:
            min_rounds, seconds = (2 if self.args.trace else 1), 0.0
        else:
            min_rounds, seconds = MIN_ROUNDS, self.args.seconds
        rounds: list[dict] = []
        t0 = time.perf_counter()
        while len(rounds) < min_rounds or (
            time.perf_counter() - t0 + rounds[-1]["wall_s"] <= seconds
        ):
            rounds.append(self._round(len(rounds), bool(self.args.trace) and len(rounds) % 2 == 1))
        self.detail["timed_s"] = time.perf_counter() - t0
        self.detail["rounds"] = rounds
        self.detail["load1_end"] = os.getloadavg()[0]

        execs = [q for r in warmup + rounds for q in r["queries"]]
        failures = [q for q in execs if "error" in q]
        self.detail["failures"] = [
            {k: q[k] for k in ("name", "phase", "error")} for q in failures
        ]
        self.detail["error_rate"] = len(failures) / len(execs)
        plain = [r for r in rounds if not r["traced"]]
        if self.args.trace:
            from tracing import LAYER_METRICS, summarize

            values = summarize([r for r in rounds if r["traced"]], [r["wall_s"] for r in plain])
            units = LAYER_METRICS
        else:
            counted = _counted(plain)
            lat = sorted(q["wall_s"] for r in counted for q in r["queries"])
            rss = procstat.peak_rss_by_process()
            self.detail["peak_rss_by_process"] = rss
            values = {
                "wall_s": statistics.median(r["wall_s"] for r in counted),
                "cpu_s": statistics.median(r["cpu_s"] for r in counted),
                "query_p50_s": statistics.median(lat),
                "peak_rss_mb": sum(rss.values()),
                "setup_s": setup_s,
            }
            # too few samples per run for a tail percentile to be steady:
            # kept in the detail only, with its sample count
            self.detail["query_samples"] = len(lat)
            self.detail["query_p90_s"] = statistics.quantiles(lat, n=10)[-1] if len(lat) > 1 else lat[0]
            units = END_TO_END
        metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
        self.detail["metrics"] = metrics
        return {
            "correct": not failures,
            "attempted": len(execs),
            "failed": len(failures),
            "metrics": metrics,
        }

    def close(self) -> None:
        """Stop Spark and wait until the JVM and its workers have ended."""
        if self.spark is not None:
            sc = self.spark.sparkContext
            gateway, proc = sc._gateway, getattr(sc._gateway, "proc", None)
            try:
                if self.tracer is not None:
                    self.tracer.close()
                self.spark.stop()
                gateway.shutdown()
            finally:
                if proc is not None:
                    # the gateway JVM exits when its stdin closes
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=30)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
        procstat.reap_descendants()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: the engine package {PACKAGE}/ is not in {ROOT}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    procstat.adopt_orphans()
    cores = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(base, f"run-{args.workload}-{os.getpid()}")
    _isolate(run_dir, cores)
    bench = Bench(args, run_dir, cores)
    try:
        result = bench.run()
    finally:
        try:
            bench.close()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    detail = args.detail or os.path.join(
        base, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    os.makedirs(os.path.dirname(os.path.abspath(detail)), exist_ok=True)
    with open(detail, "w") as fh:
        json.dump(dict(bench.detail, result=result), fh, indent=1)
        fh.write("\n")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
