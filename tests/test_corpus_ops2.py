"""Functional tests for the round-5 corpus operators: the URL-string
quality gate and the deterministic epoch shuffle with distributed
global positions."""

import pytest
from pyspark.sql import functions as F


def test_url_quality_filter(spark):
    from weakscraper_spark.operators.urlnorm import url_quality_filter
    rows = [
        (1, "https://www.news.example.com/politics/story"),
        (2, "https://sub.casino.example/free-spins"),
        (3, "http://ok.example.org/download/file"),          # one soft hit
        (4, "http://bad.example.net/xxx/casino-page"),        # two strict
        (5, "https://torrent.winner.example.io/free-money"),  # 3 soft
    ]
    df = spark.createDataFrame(rows, "id long, url string")
    out = {r.url: r for r in url_quality_filter(df).collect()}
    u = {i: rows[i - 1][1] for i in range(1, 6)}
    assert out[u[1]].keep and out[u[1]].url_score == 0.0
    assert out[u[2]].blocked_domain and not out[u[2]].keep
    assert out[u[2]].reg_domain == "casino.example"
    assert out[u[3]].keep and out[u[3]].url_score == 0.5
    assert not out[u[4]].keep and out[u[4]].url_score == 2.0
    assert not out[u[5]].keep and out[u[5]].url_score == 1.5
    assert out[u[1]].host == "news.example.com"


def test_epoch_shuffle_is_permutation(spark):
    from weakscraper_spark.operators.corpus import epoch_shuffle
    df = spark.range(0, 500).select(F.col("id").alias("doc_id"))
    out = epoch_shuffle(df, seed=7, num_partitions=8).collect()
    ids = sorted(r.doc_id for r in out)
    poss = sorted(r.pos for r in out)
    assert ids == list(range(500))
    assert poss == list(range(500))          # exact 0..n-1, no gaps


def test_epoch_shuffle_matches_global_order(spark):
    """Distributed positions equal the single-node row_number over
    the same md5 key — the range-partitioned offset trick is exact."""
    import hashlib
    from weakscraper_spark.operators.corpus import epoch_shuffle
    n, seed = 300, 3
    df = spark.range(0, n).select(F.col("id").alias("doc_id"))
    got = {r.doc_id: r.pos
           for r in epoch_shuffle(df, seed=seed,
                                  num_partitions=7).collect()}
    keys = sorted(range(n), key=lambda i: (
        hashlib.md5(f"{seed}:shuf:{i}".encode()).hexdigest(), i))
    want = {doc: pos for pos, doc in enumerate(keys)}
    assert got == want


def test_epoch_shuffle_seeds_differ(spark):
    from weakscraper_spark.operators.corpus import epoch_shuffle
    df = spark.range(0, 200).select(F.col("id").alias("doc_id"))
    a = {r.doc_id: r.pos for r in epoch_shuffle(df, seed=1).collect()}
    b = {r.doc_id: r.pos for r in epoch_shuffle(df, seed=2).collect()}
    assert a != b


def test_chunk_tokens_disjoint(spark):
    from weakscraper_spark.operators.corpus import chunk_tokens
    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10))), (2, "a b c")],
        "doc_id long, text string")
    out = sorted(((r.doc_id, r.chunk_id, r.chunk_start,
                   r.n_chunk_tokens, r.chunk_text)
                  for r in chunk_tokens(df, size=4).collect()))
    assert out == [
        (1, 0, 0, 4, "w0 w1 w2 w3"),
        (1, 1, 4, 4, "w4 w5 w6 w7"),
        (1, 2, 8, 2, "w8 w9"),          # final window truncated
        (2, 0, 0, 3, "a b c"),           # short doc → one chunk
    ]


def test_chunk_tokens_sliding(spark):
    from weakscraper_spark.operators.corpus import chunk_tokens
    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10)))],
        "doc_id long, text string")
    out = sorted((r.chunk_start, r.n_chunk_tokens) for r in
                 chunk_tokens(df, size=4, stride=2).collect())
    # starts 0,2,4,6 — window [6,10) reaches the doc end
    assert out == [(0, 4), (2, 4), (4, 4), (6, 4)]


def test_chunk_tokens_min_tokens(spark):
    from weakscraper_spark.operators.corpus import chunk_tokens
    df = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(9)))],
        "doc_id long, text string")
    out = chunk_tokens(df, size=4, min_tokens=2).collect()
    # windows [0,4) [4,8) [8,9): the 1-token tail is dropped
    assert sorted(r.chunk_start for r in out) == [0, 4]


# ---------------------------------------------------------------- split


def test_split_by_group_consistency(spark):
    from weakscraper_spark.operators.corpus import split_by_group
    rows = [(i, f"h{i % 7}.example") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, host string")
    out = split_by_group(df, "host",
                         {"train": 0.5, "val": 0.25, "test": 0.25})
    # every group maps to exactly one split — the leakage-free law
    per_group = (out.groupBy("host")
                 .agg(F.countDistinct("split").alias("n")).collect())
    assert all(r.n == 1 for r in per_group)
    assert set(r.split for r in out.collect()) <= {"train", "val",
                                                   "test"}


def test_split_by_group_fractions_approx(spark):
    from weakscraper_spark.operators.corpus import split_by_group
    # 1000 singleton groups: split sizes concentrate near fractions
    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("g"), F.col("id")).alias("g"))
    out = split_by_group(df, "g", {"train": 0.8, "val": 0.2},
                         seed=7)
    counts = {r.split: r.n for r in
              out.groupBy("split").agg(F.count("*").alias("n"))
              .collect()}
    assert 730 <= counts["train"] <= 870
    assert counts["train"] + counts["val"] == 1000


def test_split_by_group_null_and_determinism(spark):
    from weakscraper_spark.operators.corpus import split_by_group
    df = spark.createDataFrame([(1, None), (2, "a")],
                               "doc_id long, host string")
    fr = {"train": 0.5, "val": 0.25, "test": 0.25}
    one = {(r.doc_id, r.split)
           for r in split_by_group(df, "host", fr).collect()}
    two = {(r.doc_id, r.split)
           for r in split_by_group(df, "host", fr).collect()}
    assert one == two                      # resume-stable
    null_split = dict(one)[1]
    assert null_split == "test"            # NULL falls to LAST split


def test_split_by_group_plan_is_narrow(spark):
    from weakscraper_spark.operators.corpus import split_by_group
    df = spark.createDataFrame([(1, "a")], "doc_id long, host string")
    plan = split_by_group(df, "host")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def test_split_by_group_validates(spark):
    from weakscraper_spark.operators.corpus import split_by_group
    df = spark.createDataFrame([(1, "a")], "doc_id long, host string")
    with pytest.raises(ValueError):
        split_by_group(df, "host", {})
    with pytest.raises(ValueError):
        split_by_group(df, "host", {"train": 0.0})


def test_prune_by_quantile(spark):
    from weakscraper_spark.operators.corpus import prune_by_quantile
    rows = [("a", i, float(i)) for i in range(10)] + \
           [("b", 100 + i, float(100 + i)) for i in range(10)] + \
           [("a", 999, None)]
    df = spark.createDataFrame(rows, "src string, doc_id long, s double")
    # global: keep top 50% -> threshold = interpolated median of the
    # 20 non-null scores; group b dominates
    top = prune_by_quantile(df, "s", keep_frac=0.5)
    ids = {r.doc_id for r in top.collect()}
    assert all(i >= 100 for i in ids) and len(ids) == 10
    # per-source: each source keeps its own top half
    per = prune_by_quantile(df, "s", keep_frac=0.5, by="src")
    got = sorted(r.doc_id for r in per.collect())
    assert got == [5, 6, 7, 8, 9, 105, 106, 107, 108, 109]
    # NULL scores never survive
    assert 999 not in set(got)
    # threshold column is auditable
    thr = {r.src: r.threshold for r in per.collect()}
    assert abs(thr["a"] - 4.5) < 1e-12
    import pytest as _pytest
    with _pytest.raises(ValueError):
        prune_by_quantile(df, "s", keep_frac=0.0)
