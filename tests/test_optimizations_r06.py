"""Round-6 optimization pins: every operator whose internals changed
for performance keeps its exact pre-change semantics.

- transitive_closure: both arms of its size rule — the broadcast pass
  and exact-prefix doubling with integer node encoding (cast fast path
  AND dictionary fallback) — against the semi-naive reference and
  hand-built expectations (nulls, cycles, cast-collision labels, dtype
  preservation);
- minhash_band_keys / lsh_candidate_pairs: row-identical to the r5
  banding formulation (explicitly re-built here);
- repeated_spans array run-split: equal to the r5 window formulation;
- simhash batch kernel: bit-identical to the scalar reference on edge
  cases the corpus test cannot hit;
- spread_scan: fires only when the scan is narrower than half the
  session parallelism, and never changes rows.
"""

from __future__ import annotations

import logging

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kgforge import graph
from kgforge.datapipe import dedup as dd
from kgforge.session import spread_scan
from tests.util import CLOSURE_ARMS, closure_on_arm, pairs


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# ------------------------------------------------------------ closure
# Each closure pin runs on both arms of graph.transitive_closure's size
# rule: the broadcast pass and the doubling loop.


def test_closure_null_endpoints_match_legacy_equijoin_semantics(spark):
    """NULL endpoints stay as pairs, propagate as children, and never
    act as join-through nodes — the string equi-join behavior the
    integer encoding must reproduce exactly, with each pair once."""
    rows = [("a", "b"), ("b", None), (None, "z"), ("x", "a"), (None, None), ("z", "w")]
    df = spark.createDataFrame(rows, "parent string, child string")
    want = set(rows) | {("a", None), ("x", "b"), ("x", None), (None, "w")}
    for arm in CLOSURE_ARMS:
        got = pairs(closure_on_arm(df, arm))
        assert sorted(got, key=str) == sorted(want, key=str), arm


def test_closure_dictionary_fallback_on_cast_colliding_labels(spark):
    """'07' and '7' cast to the same bigint; the round-trip probe must
    route such graphs to the dictionary encoding and keep them distinct."""
    rows = [("07", "7"), ("7", "x"), ("a", "07"), ("s", "s")]
    df = spark.createDataFrame(rows, "parent string, child string")
    sem = {(r.parent, r.child) for r in graph.transitive_closure_seminaive(df).collect()}
    for arm in CLOSURE_ARMS:
        got = set(pairs(closure_on_arm(df, arm)))
        assert got == sem, arm
        assert ("a", "7") in got and ("a", "x") in got  # through 07 -> 7 -> x


def test_closure_preserves_input_dtypes(spark):
    dfi = spark.createDataFrame([(1, 2), (2, 3)], "parent bigint, child bigint")
    # a bigint NULL endpoint: kept as a pair, propagated as a child, and
    # still a bigint column on the way out
    dfn = spark.createDataFrame([(1, 2), (2, None), (None, 1)], "parent bigint, child bigint")
    for arm in CLOSURE_ARMS:
        out = closure_on_arm(dfi, arm)
        assert dict(out.dtypes) == {"parent": "bigint", "child": "bigint"}, arm
        assert sorted(pairs(out)) == [(1, 2), (1, 3), (2, 3)], arm
        out = closure_on_arm(dfn, arm)
        assert dict(out.dtypes) == {"parent": "bigint", "child": "bigint"}, arm
        assert sorted(pairs(out), key=str) == sorted(
            [(1, 2), (1, None), (2, None), (None, 1), (None, 2), (None, None)], key=str
        ), arm


def test_closure_exact_prefix_matches_seminaive_on_cycles_and_chains(spark):
    rows = (
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("s", "s")]
        + [(f"n{i}", f"n{i+1}") for i in range(20)]  # 20-chain: multi-round doubling
        + [("hub", f"n{i}") for i in range(0, 20, 3)]
    )
    df = spark.createDataFrame(rows, "parent string, child string")
    sem = {(r.parent, r.child) for r in graph.transitive_closure_seminaive(df).collect()}
    arm_stats: dict = {}
    for arm in CLOSURE_ARMS:
        stats = arm_stats[arm] = {}
        got = set(pairs(closure_on_arm(df, arm, stats)))
        assert got == sem, arm
        assert ("a", "a") in got and ("s", "s") in got
        assert len(stats["delta_sizes"]) == stats["rounds"], arm
    # the broadcast pass yields every pair in its one round; the doubling
    # loop's deltas are the pairs beyond the input edges
    assert arm_stats["broadcast"]["delta_sizes"] == [len(sem)]
    assert sum(arm_stats["doubling"]["delta_sizes"]) == len(sem) - len(rows)
    # doubling: ceil(log2(diameter)) rounds, far fewer than the 21-round chain
    assert 1 <= arm_stats["doubling"]["rounds"] <= 7


def test_closure_arm_follows_edge_count_against_bound(spark, monkeypatch):
    """The broadcast pass runs strictly below CLOSURE_BROADCAST_MAX_ROWS
    distinct edges, the doubling loop at or above it; duplicate input
    rows do not count."""
    rows = [("a", "b"), ("b", "c"), ("a", "b")]
    df = spark.createDataFrame(rows, "parent string, child string")
    for bound, arm in ((3, "broadcast"), (2, "doubling"), (1, "doubling")):
        monkeypatch.setattr(graph, "CLOSURE_BROADCAST_MAX_ROWS", bound)
        stats: dict = {}
        got = set(pairs(graph.transitive_closure(df, stats=stats)))
        assert stats["variant"] == arm, bound
        assert got == {("a", "b"), ("b", "c"), ("a", "c")}


# ------------------------------------------------------------ minhash
def _r5_lsh_pairs(documents, k=3, n_hashes=16, band_size=4):
    """The round-5 formulation, kept verbatim as the semantics pin."""
    sigs = dd.minhash_signatures(documents, k, n_hashes)
    bands = (
        sigs.withColumn("band", (F.col("seed") / band_size).cast("int"))
        .groupBy("doc_id", "band")
        .agg(
            F.md5(
                F.concat_ws(
                    "|",
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("seed", "sig"))),
                        lambda s: s["sig"],
                    ),
                )
            ).alias("band_key")
        )
    )
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "band_key")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates()
    )


def test_minhash_band_keys_and_pairs_match_r5_formulation(spark, sf_dir):
    docs = dd.docs_with_dups(_docs(spark, sf_dir))
    new_pairs = set(map(tuple, dd.lsh_candidate_pairs(docs).collect()))
    old_pairs = set(map(tuple, _r5_lsh_pairs(docs).collect()))
    assert new_pairs == old_pairs
    sigs = dd.minhash_signatures(docs)
    old_bands = (
        sigs.withColumn("band", (F.col("seed") / 4).cast("int"))
        .groupBy("doc_id", "band")
        .agg(
            F.md5(
                F.concat_ws(
                    "|",
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("seed", "sig"))),
                        lambda s: s["sig"],
                    ),
                )
            ).alias("band_key")
        )
    )
    assert set(map(tuple, dd.minhash_band_keys(docs).collect())) == set(
        map(tuple, old_bands.collect())
    )


def test_simhash_bucket_enumeration_matches_selfjoin_formulation(spark, sf_dir):
    """The r6 third-pass bucket enumeration must emit exactly the pairs
    the chunk-equality self-join emitted (kept verbatim here as the
    semantics pin), hamming values included."""
    docs = dd.docs_with_dups(_docs(spark, sf_dir))
    hashed = docs.select("doc_id", dd.simhash_udf(F.col("text")).alias("sh"))
    n_bands, chunk_bits = 4, 16
    chunks = hashed.select(
        "doc_id",
        "sh",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftrightunsigned(F.col("sh"), i * chunk_bits)
                    .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                    .alias("chunk"),
                )
                for i in range(n_bands)
            ])
        ).alias("bc"),
    ).select("doc_id", "sh", "bc.band", "bc.chunk")
    a = chunks.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"), "band", "chunk")
    b = chunks.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"), "band", "chunk")
    joined = (
        a.join(b, ["band", "chunk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sh_a", "sh_b")
        .dropDuplicates(["doc_a", "doc_b"])
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )
    assert set(map(tuple, dd.simhash_near_dups(docs).collect())) == set(
        map(tuple, joined.collect())
    )


# ------------------------------------------------------------ lang_id
def test_lang_id_array_argmax_matches_when_chain(spark, sf_dir):
    """The r6 array_min argmax must equal the original when-chain
    formulation (kept verbatim here) on the corpus AND on synthetic
    tie/zero/empty cases — including the earliest-language tie-break."""
    from kgforge.datapipe import text as dtext

    def chain_lang_id(col):
        scores = dtext.lang_scores(col)
        best_lang = F.lit(dtext.LANG_ORDER[0])
        best_score = scores[dtext.LANG_ORDER[0]]
        for lang in dtext.LANG_ORDER[1:]:
            is_better = scores[lang] > best_score
            best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
            best_score = F.when(is_better, scores[lang]).otherwise(best_score)
        return best_lang

    corpus = _docs(spark, sf_dir).select(F.col("text"))
    ties = spark.createDataFrame(
        [
            (None,),  # NULL text: null scores, en by tie order (both forms)
            ("",),  # all-zero: en by tie order
            ("the a",),  # en outright
            ("fast value the a",),  # en/de tie at 2: en by order
            ("join query window merge",),  # fr/zh tie: fr by order
            ("data row data row",),  # es outright
            ("window merge window",),  # zh outright
            ("value fast fast",),  # de outright
        ],
        "text string",
    )
    for df in (corpus, ties):
        rows = df.select(
            dtext.lang_id(F.col("text")).alias("new"),
            chain_lang_id(F.col("text")).alias("old"),
        ).collect()
        assert all(r.new == r.old for r in rows)


# ------------------------------------------------------------ spans
def test_repeated_spans_array_runsplit_matches_r5_window_form(spark, sf_dir):
    docs = dd.docs_with_dups(_docs(spark, sf_dir))

    def r5_spans(documents, k=3, min_docs=2):
        ps = dd.positional_shingles(documents, k)
        rep = (
            ps.groupBy("shingle")
            .agg(F.count_distinct("doc_id").alias("nd"))
            .filter(F.col("nd") >= min_docs)
            .select("shingle")
        )
        marked = ps.join(rep, "shingle").select("doc_id", "pos")
        w = Window.partitionBy("doc_id").orderBy("pos")
        islands = marked.withColumn("island", F.col("pos") - F.row_number().over(w))
        return (
            islands.groupBy("doc_id", "island")
            .agg(
                F.min("pos").cast("bigint").alias("span_start"),
                (F.max("pos") + F.lit(k - 1)).cast("bigint").alias("span_end"),
                F.count("*").alias("n_grams"),
            )
            .drop("island")
        )

    for kw in ({}, {"min_docs": 3}):
        got = sorted(map(tuple, dd.repeated_spans(docs, **kw).collect()))
        want = sorted(map(tuple, r5_spans(docs, **kw).collect()))
        assert got == want, kw


# ------------------------------------------------------------ simhash
def test_simhash_batch_kernel_edge_cases():
    texts = ["", None, "a", "the the the", "Hello WORLD hello", "x " * 1000, "\t\n "]
    got = dd._simhash_batch(pd.Series(texts)).tolist()
    want = [dd.simhash64(t) for t in texts]
    assert got == want


# ------------------------------------------------------------ spread
def test_spread_scan_noop_on_wide_input_and_rows_stable(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    wide = docs.repartition(target)  # already at session parallelism
    assert spread_scan(wide, "doc_id") is wide
    narrow = docs.coalesce(1)
    spread = spread_scan(narrow, "doc_id")
    assert spread is not narrow
    assert sorted(r.doc_id for r in spread.collect()) == sorted(
        r.doc_id for r in docs.collect()
    )


# ------------------------------------------------------- session warm-up


def test_string_warm_batch_fn_and_warmed_session_run_string_udfs(spark):
    """The string-path warm-up (session._touch_str_batch + the second
    warm job in _warm_python_workers) must leave the session fully
    functional for real string pandas UDFs, and the batch fn itself
    must be a plain length map (module-level, pickled by reference)."""
    from kgforge.session import _WARMED, _touch_str_batch

    s = pd.Series(["", "a", "warm-123", None])
    got = _touch_str_batch(s)
    assert list(got.fillna(-1)) == [0, 1, 8, -1]

    # the test session was built by get_spark -> warm-up already ran
    assert spark.sparkContext.applicationId in _WARMED

    @F.pandas_udf("long")
    def _len(v: pd.Series) -> pd.Series:
        return v.str.len()

    rows = (
        spark.createDataFrame([("x",), ("hello",)], ["s"])
        .select(_len("s").alias("n"))
        .collect()
    )
    assert sorted(r.n for r in rows) == [1, 5]


def test_warm_up_failure_is_logged_not_raised(spark, monkeypatch, caplog):
    """A failed worker warm-up must not break session start, and must
    not pass silently either: it logs a warning with the cause."""
    from kgforge import session

    def no_workers(*args, **kwargs):
        raise RuntimeError("no python workers")

    monkeypatch.setattr(session, "_WARMED", set())
    monkeypatch.setattr(spark, "range", no_workers)
    with caplog.at_level(logging.WARNING, logger="kgforge.session"):
        session._warm_python_workers(spark, 2)
    assert "warm-up failed" in caplog.text and "no python workers" in caplog.text


# ------------------------------------------------------- cosine fast path


def test_cosine_fast_path_bit_identical_and_fallback_arms(spark):
    """_dot_fast/_norm_fast emit the fold's exact float64 op sequence as
    a flat codegen chain when arrays are DEFAULT_DIM long, and fall back
    to the interpreted HOF fold on any other shape. Compared bitwise
    (cast to string via %.17g would round — compare the doubles raw and
    the oracle-facing floor(x*1e4) form) across: 64-dim vectors with
    negative/zero/denormal-ish components, shorter arrays, mismatched
    lengths, and NULL arrays."""
    import math
    import random

    from kgforge.datapipe.similarity import (
        DEFAULT_DIM,
        _dot,
        _dot_fast,
        _norm,
        _norm_fast,
    )

    rng = random.Random(7)

    def vec(n):
        return [rng.uniform(-1, 1) * (10 ** rng.randint(-6, 2)) for _ in range(n)]

    rows = [
        (vec(DEFAULT_DIM), vec(DEFAULT_DIM)),
        ([0.0] * DEFAULT_DIM, [-0.0] * DEFAULT_DIM),
        (vec(8), vec(8)),                 # short: fallback arm
        (vec(DEFAULT_DIM), vec(8)),       # mismatched: zip_with null-pad
        (None, vec(DEFAULT_DIM)),         # null array
        (vec(DEFAULT_DIM), None),
    ]
    df = spark.createDataFrame(rows, "a array<double>, b array<double>")
    got = df.select(
        _dot_fast(F.col("a"), F.col("b")).alias("df"),
        _dot(F.col("a"), F.col("b")).alias("ds"),
        _norm_fast(F.col("a")).alias("nf"),
        _norm(F.col("a")).alias("ns"),
    ).collect()
    for r in got:
        for fast, slow in ((r.df, r.ds), (r.nf, r.ns)):
            if slow is None or (isinstance(slow, float) and math.isnan(slow)):
                assert fast is None or math.isnan(fast)
            else:
                # bitwise equality, not approx: identical op order
                assert math.copysign(1, fast) == math.copysign(1, slow)
                assert fast == slow and str(fast) == str(slow)
