"""Benchmark command: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload batch_planted --seed 1 --seconds 10 --trace 0

Run from the repository root. The untraced run (``--trace 0``) starts one
Spark session on ``local[<cores>]``, writes the seeded corpus (several
times, for a steady set-up reading), runs one warm-up pipeline job, then
repeats the job until ``--seconds`` have passed. It checks every job's
output and prints the end-to-end metrics. The traced run (``--trace 1``)
turns the event log on, runs the job once stage by stage inside spans and
once untraced, then sweeps the other layers (operators, kernels, streaming,
entry queries) and prints the per-layer metrics. Spans are written to
``.perfbench_out/``. The exit code is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
CORPUS_REPEATS = 3
DRIVER_HEAP = "2g"


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pages", type=int, default=None,
                    help="corpus size before filtering (tests use a tiny one)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, "infoscience_imports_spark")):
        print(f"perfbench: no infoscience_imports_spark package under {REPO}", file=sys.stderr)
        return 2
    # import the benchmark as the ``perfbench`` package from the repository
    # root, not its modules as top-level names from this script's directory
    sys.path[:] = [REPO] + [p for p in sys.path if os.path.abspath(p or os.curdir) != HERE]
    from perfbench import procs
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    scratch = os.path.join(REPO, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(scratch)
    # Spark, the JVM and the Python workers keep every temporary file inside
    # the checkout
    os.environ["TMPDIR"] = scratch
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    # a fixed driver heap: the session default grows to 8 GB, and a heap that
    # keeps growing makes both memory and job times drift from job to job
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    sampler = procs.TreeSampler().start()
    try:
        result = Run(args, scratch, sampler).execute()
    finally:
        _stop_spark()
        sampler.stop()
        procs.reap(sampler.descendants_seen())
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def _stop_spark() -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Run:
    def __init__(self, args, scratch, sampler):
        self.args = args
        self.scratch = scratch
        self.sampler = sampler
        self.attempted = 0
        self.failures: list[str] = []
        self.hashes: set[str] = set()
        self.event_dir = os.path.join(scratch, "events")

    # -- set-up ----------------------------------------------------------------
    def _session(self):
        from infoscience_imports_spark.session import get_spark

        cores = len(os.sched_getaffinity(0))
        conf = {
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.scratch}",
            "spark.sql.warehouse.dir": os.path.join(self.scratch, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            from perfbench.eventlog import EVENT_LOG_CONF

            os.makedirs(self.event_dir)
            conf.update(EVENT_LOG_CONF)
            conf["spark.eventLog.dir"] = "file://" + self.event_dir
        return get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=conf)

    def _setup(self):
        from perfbench.workloads import DEFAULT_PAGES, session_cfg, write_corpus

        t0 = time.monotonic()
        self.spark = self._session()
        self.cfg = session_cfg(self.spark)
        self.session_s = time.monotonic() - t0
        corpus_walls = []
        # the traced run writes the corpus once: its set-up parts are
        # per-layer numbers without a bound, and it needs the time
        for _ in range(1 if self.args.trace else CORPUS_REPEATS):
            t0 = time.monotonic()
            self.corpus = write_corpus(
                self.spark, os.path.join(self.scratch, "corpus"), self.args.workload,
                self.args.seed, self.args.pages or DEFAULT_PAGES,
            )
            corpus_walls.append(time.monotonic() - t0)
        self.corpus_s = statistics.median(corpus_walls)
        # the first job pays class loading, code generation and worker
        # start-up (it runs ~1.5x as long as the next); it is set-up, not
        # measurement
        self.warmup_s = self._job()

    # -- jobs -------------------------------------------------------------------
    def _job(self, tracer=None) -> float:
        """Run and check one pipeline job; returns its wall seconds.

        With a tracer the job runs inside a ``job`` span; the output check
        runs after it.
        """
        from contextlib import nullcontext

        from perfbench import workloads

        self.attempted += 1
        wh = os.path.join(self.scratch, f"warehouse-{self.attempted}")
        with tracer.span("job") if tracer else nullcontext():
            wall, self.pipe = workloads.run_pipeline(self.spark, self.corpus, wh, self.cfg, tracer)
        digest, failures, self.quality = workloads.check_pipeline(self.pipe, self.corpus)
        print(f"perfbench: job {self.attempted}: {wall:.3f} s", file=sys.stderr)
        self.hashes.add(digest)
        if len(self.hashes) > 1:
            failures.append(f"output differs between repeats: {sorted(self.hashes)}")
        self.failures.extend(f"job {self.attempted}: {f}" for f in failures)
        return wall

    def execute(self) -> dict:
        failed_jobs = 0
        metrics: dict = {}
        try:
            self._setup()
            metrics = self._traced() if self.args.trace else self._timed()
        except Exception as exc:  # a raised job is a failed attempt, reported below
            import traceback

            traceback.print_exc()
            self.attempted = max(self.attempted, 1)
            self.failures.append(f"raised: {exc!r}"[:500])
            failed_jobs += 1
        failed_jobs += len({f.split(":")[0] for f in self.failures if f.startswith("job ")})
        for f in self.failures:
            print(f"perfbench: check failed: {f}", file=sys.stderr)
        return {
            "correct": not self.failures and bool(metrics),
            "attempted": self.attempted,
            "failed": min(failed_jobs, self.attempted),
            "metrics": metrics,
        }

    # -- untraced run -------------------------------------------------------------
    def _timed(self) -> dict:
        from perfbench.metrics import END_TO_END
        from perfbench.workloads import store_bytes

        walls = []
        t_start = time.monotonic()
        while not walls or time.monotonic() - t_start < self.args.seconds:
            walls.append(self._job())
        values = {
            "setup_s": self.session_s + self.corpus_s + self.warmup_s,
            "pages_per_s": self.corpus.n_pages / statistics.median(walls),
            "stored_bytes_per_input_byte": (
                sum(store_bytes(self.pipe).values()) / self.corpus.html_bytes
            ),
        }
        return {k: {"value": values[k], "unit": END_TO_END[k][0]} for k in END_TO_END}

    # -- traced run ---------------------------------------------------------------
    def _traced(self) -> dict:
        from perfbench import eventlog, layers
        from perfbench.metrics import per_layer_names, per_layer_unit
        from perfbench.tracing import Tracer, self_times
        from perfbench.workloads import store_bytes

        # traced first: the untraced job then runs warmer, so the difference
        # over-states what tracing costs rather than hiding it
        tracer = Tracer(f"{self.args.workload}-{self.args.seed}", self.spark.sparkContext)
        traced_s = self._job(tracer)
        untraced_s = self._job()
        values = {
            "quality.recall": self.quality["recall"],
            "quality.false_merges": self.quality["false_merges"],
            "setup.session_s": self.session_s,
            "setup.corpus_s": self.corpus_s,
            "setup.warmup_s": self.warmup_s,
            "trace.overhead_s": traced_s - untraced_s,
            "trace.overhead_frac": (traced_s - untraced_s) / untraced_s,
        }
        values.update({f"store.{s}.mb": b / 1e6 for s, b in store_bytes(self.pipe).items()})
        with tracer.span("sweep"):
            op_values, held = layers.operators(self.spark, tracer, self.pipe, self.cfg)
            values.update(op_values)
            with tracer.span("kernels"):
                values.update(layers.kernels(self.spark, self.corpus, self.cfg))
            # streaming and the entry queries run once, cold: compare them
            # across commits, not with the warm pipeline numbers
            with tracer.span("stream"):
                stream_values, stream_failures = layers.stream(
                    self.spark, tracer, self.corpus, os.path.join(self.scratch, "stream"), self.cfg
                )
            with tracer.span("entry"):
                entry_values, entry_failures = layers.entry(self.spark, tracer, self.corpus)
            values.update(stream_values)
            values.update(entry_values)
            self.failures.extend(stream_failures + entry_failures)
        for df in held:
            df.unpersist()
        selfs = self_times(tracer.spans)
        values["trace.spans"] = len(tracer.spans)
        values["trace.job_self_s"] = selfs[tracer.by_name("job").id]

        _stop_spark()  # flushes and closes the event log
        values["mem.peak_rss_mb"] = self.sampler.peak_mb
        groups = eventlog.read_groups(self.event_dir)
        values["tasks.failed"] = sum(g["failed_tasks"] for g in groups.values())
        for s in tracer.spans:
            layer, _, rest = s.name.partition(".")
            if layer not in ("stage", "op", "entry") or not rest:
                continue
            totals = eventlog.sum_groups(groups, [d.id for d in tracer.descendants(s.id)])
            values[f"{s.name}.wall_s"] = s.duration
            values.update({f"{s.name}.{k}": v for k, v in totals.items()})
            if "rows_out" in s.counts:
                values[f"{s.name}.rows_out"] = s.counts["rows_out"]
        self._write_spans(tracer, selfs, groups)

        names = per_layer_names()
        missing = [n for n in names if n not in values]
        if missing:
            raise RuntimeError(f"traced run did not measure {missing}")
        return {n: {"value": values[n], "unit": per_layer_unit(n)[0]} for n in names}

    def _write_spans(self, tracer, selfs, groups) -> None:
        out_dir = os.path.join(REPO, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        t0 = min(s.start for s in tracer.spans)
        spans = [
            {
                "id": s.id, "name": s.name, "parent": s.parent, "trace_id": s.trace_id,
                "start_s": s.start - t0, "end_s": s.end - t0, "self_s": selfs[s.id],
                "counts": s.counts, "spark": groups.get(s.id, {}),
            }
            for s in tracer.spans
        ]
        path = os.path.join(out_dir, f"trace-{self.args.workload}-{self.args.seed}.json")
        with open(path, "w") as f:
            json.dump(spans, f, indent=1)


if __name__ == "__main__":
    sys.exit(main())
