"""Reference-parity operator tests: family aggregation, upsert, scalar kernels."""

from datetime import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from infoscience_imports_spark.functions.scalars import (
    normalize_doi,
    reconstruct_abstract,
    safe_bool,
    safe_int,
    safe_str,
)
from infoscience_imports_spark.operators.family import (
    aggregate_families,
    link_authors_addresses,
)
from infoscience_imports_spark.operators.upsert import stable_entity_key, upsert


def test_family_aggregation(spark):
    df = spark.createDataFrame(
        [
            Row(family_id="F1", internal_id="EP1", first_creation="2020-01-01",
                title="old title", publications=["EP1A", "WO9"]),
            Row(family_id="F1", internal_id="EP2", first_creation="2023-05-05",
                title="new title", publications=["EP2B", "WO9"]),
            Row(family_id="F2", internal_id="EP3", first_creation="2021-01-01",
                title="solo", publications=["EP3C"]),
        ]
    )
    out = {r["family_id"]: r for r in aggregate_families(
        df, scalar_cols=("title",), multi_cols=("publications",)
    ).collect()}
    assert out["F1"]["title"] == "new title"          # latest member wins
    assert out["F1"]["publications"] == ["EP1A", "EP2B", "WO9"]  # union-dedup-sort
    assert out["F1"]["members_internal_ids"] == ["EP1", "EP2"]
    assert out["F1"]["family_size"] == 2
    assert out["F2"]["title"] == "solo"


def test_author_address_join(spark):
    authors = spark.createDataFrame(
        [Row(doc_id=1, seq_no=1, author="A", addr_nos=[1, 2]),
         Row(doc_id=1, seq_no=2, author="B", addr_nos=[2])]
    )
    addresses = spark.createDataFrame(
        [Row(doc_id=1, addr_no=1, organization="EPFL"),
         Row(doc_id=1, addr_no=2, organization="ETHZ")]
    )
    out = {r["author"]: r for r in link_authors_addresses(authors, addresses).collect()}
    assert out["A"]["organizations"] == "EPFL|ETHZ"
    assert out["B"]["organizations"] == "ETHZ"


def test_upsert_counter_and_coalesce(spark):
    now = F.lit("2026-01-01 00:00:00").cast("timestamp")
    batch1 = spark.createDataFrame(
        [Row(pub_id="10.1/a", title="T", oa_status=None),
         Row(pub_id="x:1", title="U", oa_status="gold")]
    )
    merged1 = upsert(None, batch1, "pub_id", ("title", "oa_status"), now_col=now)
    batch2 = spark.createDataFrame(
        [Row(pub_id="10.1/a", title=None, oa_status="green"),   # fills gap, keeps title
         Row(pub_id="y:2", title="V", oa_status=None)]
    )
    now2 = F.lit("2026-02-01 00:00:00").cast("timestamp")
    merged2 = {r["pub_id"]: r for r in upsert(
        merged1, batch2, "pub_id", ("title", "oa_status"), now_col=now2
    ).collect()}
    a = merged2["10.1/a"]
    assert a["seen_count"] == 2
    assert a["title"] == "T"              # old kept: new was null
    assert a["oa_status"] == "green"      # new non-null wins
    assert str(a["first_seen"]).startswith("2026-01-01")
    assert str(a["last_seen"]).startswith("2026-02-01")
    assert merged2["y:2"]["seen_count"] == 1
    assert len(merged2) == 3


def test_stable_entity_key(spark):
    df = spark.createDataFrame(
        [Row(doi=" 10.5/X ", source="wos", internal_id="W1"),
         Row(doi="None", source="scopus", internal_id="S2"),
         Row(doi=None, source="zenodo", internal_id="Z3")]
    )
    got = [r[0] for r in df.select(stable_entity_key()).collect()]
    assert got == ["10.5/x", "scopus:S2", "zenodo:Z3"]


def test_reconstruct_abstract(spark):
    df = spark.createDataFrame(
        [Row(inv={"world": [1], "hello": [0], "again": [2, 4], "and": [3]})]
    )
    out = df.select(reconstruct_abstract(F.col("inv")).alias("a")).collect()[0]["a"]
    assert out == "hello world again and again"


def test_safe_coercions(spark):
    df = spark.createDataFrame(
        [Row(x="2021.0"), Row(x=" None "), Row(x="nan"), Row(x="abc"), Row(x="7")]
    )
    ints = [r[0] for r in df.select(safe_int(F.col("x"))).collect()]
    assert ints == [2021, None, None, None, 7]
    strs = [r[0] for r in df.select(safe_str(F.col("x"))).collect()]
    assert strs == ["2021.0", None, None, "abc", "7"]
    bools = [
        r[0]
        for r in spark.createDataFrame([Row(b="True"), Row(b="0"), Row(b="?")])
        .select(safe_bool(F.col("b")))
        .collect()
    ]
    assert bools == [True, False, None]


def test_normalize_doi(spark):
    df = spark.createDataFrame(
        [Row(d="https://doi.org/10.5/ABC"), Row(d="HTTP://DX.DOI.ORG/10.1/x")]
    )
    got = [r[0] for r in df.select(normalize_doi(F.col("d"))).collect()]
    assert got == ["10.5/abc", "10.1/x"]


def test_contamination_report_planted_and_gate_fallback(spark):
    """Planted contamination: a corpus doc embedding a probe verbatim is
    flagged, an unrelated doc is not, and the integer threshold (hits*den >=
    probe_n*num) is boundary-exact. The shuffle_hash fallback (gate forced
    to 0) must return the identical row set as the broadcast path."""
    import numpy as np

    from infoscience_imports_spark.config import DedupConfig
    from infoscience_imports_spark.functions.shingles import shingle_hashes, token_hashes
    from infoscience_imports_spark.operators.decontaminate import (
        contaminated_doc_ids,
        contamination_report,
    )

    def sh_row(idx, text):
        toks = text.split()
        memo = {}
        sh = shingle_hashes(token_hashes(toks, memo), 5)
        return (idx, [int(x) for x in sh], int(sh.size))

    probe_text = "alpha beta gamma delta epsilon zeta eta theta"  # 4 5-grams
    dirty = "intro words here then " + probe_text + " trailing tail words"
    clean = "one two three four five six seven eight nine ten eleven twelve"
    half = "alpha beta gamma delta epsilon zeta filler filler2"  # 2 of 4 grams
    corpus = spark.createDataFrame(
        [sh_row(1, dirty), sh_row(2, clean), sh_row(3, half)],
        "doc_id long, shs array<long>, n int",
    )
    probes = spark.createDataFrame(
        [sh_row(100, probe_text)], "probe_id long, shs array<long>, n int"
    )
    rep = {
        (r["doc_id"], r["probe_id"]): (r["hits"], r["probe_n"])
        for r in contamination_report(corpus, probes).collect()
    }
    assert rep[(1, 100)] == (4, 4), rep  # verbatim embed: every probe gram
    assert (2, 100) not in rep  # unrelated doc
    assert rep[(3, 100)] == (2, 4), rep  # exactly half: 2*2 >= 4 boundary kept
    ids = {r["doc_id"] for r in contaminated_doc_ids(corpus, probes).collect()}
    assert ids == {1, 3}

    # gate forced shut -> shuffle_hash path, identical rows
    tiny = DedupConfig(shuffle_partitions=4, broadcast_pair_limit=0)
    rep2 = {
        (r["doc_id"], r["probe_id"]): (r["hits"], r["probe_n"])
        for r in contamination_report(corpus, probes, tiny).collect()
    }
    assert rep2 == rep


def test_top_ngrams_df_semantics_and_boundary_tiebreak(spark):
    """df counts DOCUMENTS (per-doc distinct), not occurrences, and ties at
    the k boundary break on the gram string so the result set is
    deterministic."""
    from infoscience_imports_spark.operators.textops import top_ngrams

    docs = spark.createDataFrame(
        [
            # doc repeats the same 2-gram three times: df must still be 1
            ("x y x y x y",),
            ("b b b b",),  # grams: "b b" x3 distinct-> 1
            ("a a a a",),
        ],
        "text string",
    )
    out = top_ngrams(docs, n=2, k=2).collect()
    rows = [(r["gram"], r["df"]) for r in out]
    # candidate grams: "x y" (df 1), "y x" (df 1), "b b" (df 1), "a a" (df 1)
    # all tied -> k=2 keeps the two lexicographically smallest
    assert rows == [("a a", 1), ("b b", 1)], rows


def _winnowing_fingerprints_windowed(df, k: int = 5, window: int = 4):
    """JVM window-function form of ``winnowing_fingerprints``: posexplode
    every token, hash it with the portable polynomial fold, sum k-gram
    windows and take the min over ``window`` consecutive grams. The
    reference the Arrow kernel must equal row for row."""
    from pyspark.sql import Window

    from infoscience_imports_spark.operators.textops import tokens_col

    codes = F.transform(F.split(F.col("tok"), ""), lambda c: F.ascii(c).cast("long"))
    h = F.aggregate(
        codes,
        F.lit(7).cast("long"),
        lambda acc, c: (acc * F.lit(31) + c) % F.lit(1_000_003),
    )
    toks = df.select("doc_id", F.posexplode(tokens_col(F.col("text"))).alias("pos", "tok"))
    w_gram = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, k - 1)
    grams = (
        toks.withColumn("h", h)
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
        .withColumn(
            "gram_h",
            F.pmod(F.sum(F.pmod(F.col("h"), F.lit(1 << 31))).over(w_gram), F.lit(1 << 31)),
        )
        .filter(F.col("pos") <= F.col("n") - k)
    )
    w_win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, window - 1)
    selected = grams.withColumn("fp", F.min("gram_h").over(w_win))
    return selected.groupBy("doc_id").agg(
        F.array_sort(F.array_distinct(F.collect_list("fp"))).alias("fingerprints"),
        F.size(F.array_distinct(F.collect_list("fp"))).alias("n_fingerprints"),
    )


def test_winnowing_kernel_equals_windowed_form(spark):
    """The Arrow winnowing kernel (round-6: per-row NumPy sliding windows,
    zero shuffle) must be row-identical to the JVM window-function form it
    replaced — including <k-token docs (absent), exactly-k docs (one gram),
    repeated tokens, empty and NULL text."""
    from infoscience_imports_spark.operators.textops import winnowing_fingerprints

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "one two three four"),          # < k tokens: no output row
        (3, "a b c d e"),                   # exactly k: one gram
        (4, "x x x x x x x x"),             # repeated tokens
        (5, ""),                            # empty
        (6, None),                          # null
        (7, "The quick, BROWN fox; jumps over 42 lazy dogs again and again"),
        (8, " ".join(f"w{i % 7}" for i in range(64))),  # long, cyclic
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (list(r["fingerprints"]), r["n_fingerprints"])
        for r in winnowing_fingerprints(docs).collect()
    }
    want = {
        r["doc_id"]: (list(r["fingerprints"]), r["n_fingerprints"])
        for r in _winnowing_fingerprints_windowed(docs).collect()
    }
    assert got == want


def test_winnowing_rejects_non_integer_id(spark):
    """A string id column fails up front with a TypeError, not inside the
    Arrow kernel's int() coercion at action time."""
    from infoscience_imports_spark.operators.textops import winnowing_fingerprints

    docs = spark.createDataFrame([("a", "one two three four five six")], "doc_id string, text string")
    with pytest.raises(TypeError, match="integer id column"):
        winnowing_fingerprints(docs)
    # narrower integer types are accepted and emitted as long
    ints = spark.createDataFrame([(3, "one two three four five six")], "doc_id int, text string")
    assert winnowing_fingerprints(ints).collect()[0]["doc_id"] == 3
