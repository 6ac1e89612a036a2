"""Scaling-efficiency evidence: same pipeline, same input, N vs 4N cores.

The north rule requires >= 0.8 throughput scaling efficiency between two
cluster sizes. In this sandbox the two "cluster sizes" are two local-mode
parallelism levels (fresh JVM each, so nothing is shared):

    eff = (T_N / T_4N) / 4        (1.0 = perfectly linear)

Usage:
    python bench_scaling.py [--pages 100000] [--cores 8,32]
    python bench_scaling.py --worker --cores N --corpus DIR   (internal)

Results are printed as JSON and appended to BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def worker(cores: int, corpus: str) -> None:
    from infoscience_imports_spark.config import DedupConfig
    from infoscience_imports_spark.plans.pipeline import DedupPipeline
    from infoscience_imports_spark.session import get_spark
    from infoscience_imports_spark.sources.catalog import CheckpointStore
    from infoscience_imports_spark.sources.synthetic import generate_web_pages, pipeline_input
    from bench import _host_steal_ticks

    # The extract/signature kernels are CPU-dense (~2 MB/s/core), so scan
    # splits must be sized to a few seconds of kernel work or the run is
    # task-starved/raggedly balanced at the higher core count (round-1: 32 MB
    # splits gave ~12 uneven tasks at 8 cores). But every mapInPandas task
    # also pays an Arrow worker handshake (~100 ms), so splits must not be
    # too SMALL either: 12/core put 181 extract tasks through 8 workers and
    # doubled the stage (8.1 s vs 4.8 s at 4/core). Target ~4 splits/core.
    split = min(32 << 20, max(1 << 20, _dir_bytes(corpus) // (4 * cores)))
    spark = get_spark(
        app_name=f"scale-{cores}",
        master=f"local[{cores}]",
        shuffle_partitions=max(2 * cores, 8),
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(split),
            "spark.sql.files.openCostInBytes": str(min(split // 4, 1 << 20)),
        },
    )
    cfg = DedupConfig(shuffle_partitions=max(2 * cores, 8))
    # warm the JIT/codegen paths with a small run (untimed)
    wwh = tempfile.mkdtemp(prefix="scale-warm-")
    DedupPipeline(spark, CheckpointStore(spark, wwh), cfg, "warm").run(
        pipeline_input(generate_web_pages(spark, 2000, seed=1)), resume=False
    )

    pages = spark.read.parquet(corpus)
    n = pages.count()
    wh = tempfile.mkdtemp(prefix=f"scale-{cores}-")
    pipe = DedupPipeline(spark, CheckpointStore(spark, wh), cfg, input_fingerprint="scale")
    eff_before = _cpu8_efficiency()
    steal0 = _host_steal_ticks()
    t0 = time.monotonic()
    res = pipe.run(pages, resume=False)
    wall = time.monotonic() - t0
    steal = (_host_steal_ticks() - steal0) / 100.0  # ticks are 10 ms
    eff_after = _cpu8_efficiency()
    print(
        "WORKER_RESULT "
        + json.dumps(
            {
                "cores": cores,
                "pages": n,
                "wall_sec": round(wall, 2),
                "pages_per_sec": round(n / wall, 1),
                # hypervisor CPU steal (whole host, core-seconds) during the
                # timed window: the shared-host noise forensic for this
                # attempt — >~5% of cores*wall marks a polluted window
                "host_steal_coresec": round(steal, 1),
                # busy-loop parallel efficiency sampled before/after the
                # timed window: catches the contention regimes where vCPUs
                # are throttled without the hypervisor reporting steal
                # (observed: probe 0.35 with steal ~1% on the same host)
                "cpu8_eff": [eff_before, eff_after],
                "stages": {k: round(v, 2) for k, v in res.timings.items()},
            }
        ),
        flush=True,
    )


def _cpu8_efficiency() -> float:
    """Fixed 8-worker busy-loop parallel-efficiency probe (same metric at
    every leg regardless of the leg's Spark core count, so legs compare)."""
    import bench

    return bench._cpu_parallel_efficiency(8)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=100_000)
    ap.add_argument("--cores", default="8,32")
    ap.add_argument("--repeats", type=int, default=1,
                    help="interleaved repeats per core count; fastest run wins "
                         "(filters out shared-host noise windows)")
    ap.add_argument("--worker", action="store_true")
    ap.add_argument("--corpus", default=None,
                    help="reuse a pre-generated corpus dir (skips generation)")
    args = ap.parse_args()

    if args.worker:
        worker(int(args.cores), args.corpus)
        return

    if args.corpus:
        corpus = args.corpus
    else:
        from infoscience_imports_spark.session import get_spark
        from infoscience_imports_spark.sources.synthetic import generate_web_pages, pipeline_input

        corpus = tempfile.mkdtemp(prefix="scale-corpus-")
        spark = get_spark(app_name="scale-gen", master="local[32]")
        # interleave planted classes across partitions and write ~2 MB files
        # so byte-based scan splits carry even kernel CPU
        gen_parts = max(32, args.pages // 512)
        pipeline_input(
            generate_web_pages(spark, args.pages, seed=42, partitions=gen_parts, interleave=True)
        ).write.mode("overwrite").parquet(corpus)
        spark.stop()

    core_list = [int(c) for c in args.cores.split(",")]
    attempts: dict[int, list[dict]] = {c: [] for c in core_list}
    for _ in range(args.repeats):
        for cores in core_list:  # interleave so a slow host window hits both
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--worker", "--cores", str(cores), "--corpus", corpus],
                capture_output=True,
                text=True,
                cwd=os.path.dirname(os.path.abspath(__file__)),
                timeout=3600,
            )
            line = [ln for ln in out.stdout.splitlines() if ln.startswith("WORKER_RESULT ")]
            if not line:
                sys.stderr.write(out.stdout[-2000:] + "\n" + out.stderr[-2000:] + "\n")
                raise SystemExit(f"worker cores={cores} produced no result")
            r = json.loads(line[-1][len("WORKER_RESULT "):])
            attempts[cores].append(r)
            print("attempt:", json.dumps(r), flush=True)

    results = [min(attempts[c], key=lambda r: r["wall_sec"]) for c in core_list]
    lo, hi = results[0], results[-1]
    ratio = hi["cores"] / lo["cores"]
    eff = (lo["wall_sec"] / hi["wall_sec"]) / ratio
    summary = {
        "pages": lo.get("pages", args.pages),
        "runs": results,
        "speedup": round(lo["wall_sec"] / hi["wall_sec"], 2),
        "core_ratio": ratio,
        "scaling_efficiency": round(eff, 3),
    }
    print(json.dumps(summary))

    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/BASELINE.md", "a") as f:
        f.write(
            f"\n## Scaling run: {summary['pages']} pages, cores {args.cores}\n\n"
            "| cores | wall (s) | pages/sec | host steal (core-s) | cpu8 eff pre/post | stages |\n|---|---|---|---|---|---|\n"
        )
        for r in results:
            f.write(
                f"| {r['cores']} | {r['wall_sec']} | {r['pages_per_sec']} | "
                f"{r.get('host_steal_coresec', 'n/a')} | "
                f"{'/'.join(str(e) for e in r.get('cpu8_eff', [])) or 'n/a'} | "
                f"`{json.dumps(r['stages'])}` |\n"
            )
        f.write(
            f"\n**speedup {summary['speedup']}x over {ratio:.0f}x cores -> "
            f"scaling efficiency {summary['scaling_efficiency']}** "
            f"(target >= 0.8)\n"
        )


if __name__ == "__main__":
    main()
