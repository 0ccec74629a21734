"""Unigram-LM quality scoring (operators/lm_score): the -ln log table
is pinned against math.log, OOV/empty-doc paths are exercised, and the
integer score arithmetic is replayed exactly in Python."""

import math

from pyspark.sql import functions as F

from metal_history_knowledge_graph_spark.operators.lm_score import (
    MICRO,
    build_unigram_lm,
    log_table,
    score_documents,
)

CORPUS = [
    (0, "the cat sat on the mat"),
    (2, "the dog sat"),
    (4, "cat and dog"),
]


def _train_df(spark):
    return spark.createDataFrame(CORPUS, "doc_id long, text string")


def test_lm_params_and_log_table(spark):
    lm, params = build_unigram_lm(_train_df(spark))
    rows = {r["term"]: (r["freq"], r["nll_micro"]) for r in lm.collect()}
    # counts: the=3 sat=2 cat=2 dog=2 on=1 mat=1 and=1  → total 12, V 7
    assert params["total_tokens"] == 12 and params["vocab_size"] == 7
    denom = 12 + 7 + 1
    for term, (freq, nll) in rows.items():
        expect = math.floor(-math.log((freq + 1) / denom) * MICRO + 0.5)
        assert nll == expect, term
    assert rows["the"][0] == 3 and rows["mat"][0] == 1
    oov_expect = math.floor(-math.log(1 / denom) * MICRO + 0.5)
    assert params["oov_nll_micro"] == oov_expect
    # log table: one row per distinct freq value (3 here: 1, 2, 3)
    lt = log_table(lm).collect()
    assert len(lt) == 3
    assert {r["freq"] for r in lt} == {1, 2, 3}


def test_scoring_exact_integer_replay(spark):
    train = _train_df(spark)
    lm, params = build_unigram_lm(train)
    docs = spark.createDataFrame(
        CORPUS + [(1, "the zebra"), (3, ""), (5, None)],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in score_documents(
            # threshold between doc 0's avg (~1.94 nats) and the OOV
            # cost ln(20) ≈ 3.00 nats so the gate splits the fixtures
            docs, lm, params["oov_nll_micro"], keep_below_micro=2_500_000
        ).collect()
    }
    denom = 12 + 7 + 1
    nll = {
        t: math.floor(-math.log((c + 1) / denom) * MICRO + 0.5)
        for t, c in [("the", 3), ("cat", 2), ("sat", 2), ("dog", 2),
                     ("on", 1), ("mat", 1), ("and", 1)]
    }
    oov = params["oov_nll_micro"]
    # doc 0: the cat sat on the mat
    s0 = nll["the"] * 2 + nll["cat"] + nll["sat"] + nll["on"] + nll["mat"]
    assert out[0]["lm_tokens"] == 6
    assert out[0]["nll_sum_micro"] == s0
    assert out[0]["avg_nll_micro"] == s0 // 6
    # doc 1 has an OOV term
    s1 = nll["the"] + oov
    assert out[1]["nll_sum_micro"] == s1
    assert out[1]["avg_nll_micro"] == s1 // 2
    # empty + NULL docs: zero tokens, OOV-cost average, dropped by gate
    for d in (3, 5):
        assert out[d]["lm_tokens"] == 0
        assert out[d]["nll_sum_micro"] == 0
        assert out[d]["avg_nll_micro"] == oov
    # gate: in-vocab docs keep, empty docs drop at the 9-nat threshold
    assert out[0]["lm_keep"] is True
    assert out[3]["lm_keep"] is False


def test_gate_orders_by_fluency(spark):
    """Common-word docs must score strictly lower (more likely) than
    rare-word docs under the same LM."""
    train = _train_df(spark)
    lm, params = build_unigram_lm(train)
    docs = spark.createDataFrame(
        [(10, "the the the"), (11, "qqq www zzz")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["avg_nll_micro"]
        for r in score_documents(docs, lm, params["oov_nll_micro"]).collect()
    }
    assert out[10] < out[11]


def test_no_python_in_hot_path(spark):
    """Scoring plan is explode + broadcast join + hash agg — no
    BatchEvalPython / row-at-a-time UDF nodes."""
    train = _train_df(spark)
    lm, params = build_unigram_lm(train)
    plan = score_documents(
        train, lm, params["oov_nll_micro"]
    )._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "BroadcastHashJoin" in plan


# ---- CCNet head/middle/tail bucketing (lm_score.ppl_buckets)


def test_ppl_buckets_balanced_and_ordered(spark):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from metal_history_knowledge_graph_spark.operators.lm_score import (
        ppl_buckets,
    )

    rows = [(i, (i * 137) % 991) for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, avg_nll_micro long")
    out = ppl_buckets(df, n_buckets=3).collect()
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r.ppl_bucket, []).append(r)
    # equal population, labels match buckets
    assert {b: len(v) for b, v in by_bucket.items()} == {1: 30, 2: 30, 3: 30}
    assert {r.ppl_class for r in by_bucket[1]} == {"head"}
    assert {r.ppl_class for r in by_bucket[3]} == {"tail"}
    # ordering: every head score <= every middle score <= every tail
    assert max(r.avg_nll_micro for r in by_bucket[1]) <= min(
        r.avg_nll_micro for r in by_bucket[2])
    assert max(r.avg_nll_micro for r in by_bucket[2]) <= min(
        r.avg_nll_micro for r in by_bucket[3])
    # deterministic under repartition
    out2 = ppl_buckets(df.repartition(7), n_buckets=3).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, out2))
    with _pytest.raises(ValueError):
        ppl_buckets(df, n_buckets=1)


def test_ppl_buckets_partitioned(spark):
    """partition_cols=("lang",) must equal running ppl_buckets on each
    language slice independently (the CCNet per-language contract,
    VERDICT r4 next-step #5) — and the window must actually be
    partitioned (no single global-sort window in the plan)."""
    from metal_history_knowledge_graph_spark.operators.lm_score import (
        ppl_buckets,
    )

    rows = [
        (i, (i * 137) % 991, ["en", "de", "fr"][i % 3]) for i in range(90)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, avg_nll_micro long, lang string"
    )
    got = {
        (r.doc_id): (r.ppl_bucket, r.ppl_class)
        for r in ppl_buckets(df, n_buckets=3,
                             partition_cols=("lang",)).collect()
    }
    expect = {}
    for lang in ("en", "de", "fr"):
        for r in ppl_buckets(
            df.filter(F.col("lang") == lang), n_buckets=3
        ).collect():
            expect[r.doc_id] = (r.ppl_bucket, r.ppl_class)
    assert got == expect
    plan = (
        ppl_buckets(df, n_buckets=3, partition_cols=("lang",))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "hashpartitioning(lang" in plan.lower().replace(" ", "")
