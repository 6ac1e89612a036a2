"""Names, units and directions of every metric the benchmark prints.

``BENCHMARK.json`` lists the same names; the tests hold the two together.
"""

from __future__ import annotations

END_TO_END = {
    # name: (unit, better)
    "setup_s": ("s", "lower"),
    "pages_per_s": ("1/s", "higher"),
    "stored_bytes_per_input_byte": ("ratio", "lower"),
}

STAGES = ("extract", "signatures", "buckets", "edges", "components")
OPS = ("cand_minhash", "cand_simhash", "cand_contain", "verify_fuzzy", "verify_simhash", "components")
KERNELS = ("extract_normalize", "token_hashes", "shingle_hashes", "minhash", "simhash")
STATE_DIRS = ("buckets", "docsigs", "clusters", "edges")
QUERIES = ("dedup_minhash_lsh", "dedup_clusters", "dedup_simhash_title", "containment_substring")


def per_layer_names() -> list[str]:
    names = [
        f"stage.{s}.{m}"
        for s in STAGES
        for m in ("wall_s", "run_s", "cpu_s", "shuffle_mb", "spill_mb", "tasks", "rows_out")
    ]
    names += [f"op.{o}.{m}" for o in OPS for m in ("wall_s", "run_s", "cpu_s", "shuffle_mb", "rows_out")]
    names += ["op.verify.yield", "op.verify.candidates", "op.verify.edges"]
    names += [f"kernel.{k}.us_per_doc" for k in KERNELS]
    names += [f"store.{s}.mb" for s in STAGES]
    names += [f"stream.state.{d}.mb" for d in STATE_DIRS] + ["stream.state.bytes_per_input_byte"]
    names += [
        "stream.process_batch.s",
        "stream.compact.s",
        "stream.deep.s",
        "stream.deep.gen_s",
        "stream.deep.cc_rewrite_s",
    ]
    names += [f"entry.{q}.{m}" for q in QUERIES for m in ("wall_s", "cpu_s", "shuffle_mb")]
    names += ["setup.session_s", "setup.corpus_s", "setup.warmup_s", "mem.peak_rss_mb"]
    names += ["trace.overhead_s", "trace.overhead_frac", "trace.spans", "trace.job_self_s"]
    names += ["quality.recall", "quality.false_merges", "quality.stream_recall",
              "quality.stream_false_merges", "quality.entry_recall", "tasks.failed"]
    return names


# last name component -> (unit, better); the first matching rule wins
_RULES = (
    ("us_per_doc", "us", "lower"),
    ("bytes_per_input_byte", "ratio", "lower"),
    ("overhead_frac", "ratio", "lower"),
    ("yield", "ratio", "higher"),
    ("recall", "ratio", "higher"),
    ("edges", "count", "higher"),
    ("mb", "MB", "lower"),
    ("s", "s", "lower"),
)


def per_layer_unit(name: str) -> tuple[str, str]:
    last = name.rsplit(".", 1)[-1]
    for suffix, unit, better in _RULES:
        if last == suffix or last.endswith("_" + suffix):
            return unit, better
    return "count", "lower"
