"""Adversarial probe ring for the r05 regex-tier parsers (the house
probe-then-pin style): NULL/empty/binary/truncated/oversized inputs
must yield contract-conformant rows — never a raise, never a
corrupted row."""

import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def nasty(spark):
    rows = [
        (1, None),
        (2, ""),
        (3, "<"),
        (4, "<table><tr><td>unclosed"),
        (5, "<table>" + "<tr><td>x</td></tr>" * 3),   # no </table>
        (6, "<item><title>no link no guid</title></item>"),
        (7, "\x00\x01\xff binary-ish"),
        (8, '<a href=>e</a><link rel="alternate" '
            'type="application/rss+xml" href="">'),
        (9, "<table><tr><td>" + "y" * 100000 + "</td></tr></table>"),
        (10, "<TABLE><TR><TD>caps</TD></TR></TABLE>"),
    ]
    return spark.createDataFrame(rows, "doc_id long, html string") \
        .select(F.concat(F.lit("u"), F.col("doc_id").cast("string"))
                .alias("url"), "html")


def test_feeds_survive_nasty(nasty):
    from weakscraper_spark.operators.feeds import feed_meta, parse_feeds
    fx = nasty.withColumnRenamed("html", "xml")
    # the one <item> has neither link nor guid -> dropped by contract
    assert parse_feeds(fx).count() == 0
    meta = {r.feed_url: r.kind for r in feed_meta(fx).collect()}
    assert len(meta) == 10 and set(meta.values()) == {None}


def test_discovery_skips_empty_href(nasty):
    from weakscraper_spark.operators.feeds import discover_feeds
    assert discover_feeds(nasty).count() == 0


def test_sentences_survive_nasty(nasty):
    from weakscraper_spark.operators.textstats import segment_sentences
    sdf = nasty.select(F.col("url").alias("doc_id"),
                       F.col("html").alias("text"))
    out = segment_sentences(sdf)
    # NULL and '' emit nothing; every other doc yields >=1 sentence
    assert out.filter("doc_id in ('u1','u2')").count() == 0
    assert out.count() == 8
