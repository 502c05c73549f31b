"""Structured Streaming surfaces: seed-stream crawl + windowed stats."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from walk_spark.config import CrawlConfig
from walk_spark.plans.crawl import Crawler, crawl
from walk_spark.sources.pages import self_linking_pages, tree_site_pages
from walk_spark.streaming.stream_crawl import (
    stream_seed_crawler, windowed_fetch_stats,
)


def test_stream_seed_crawler(spark):
    """Seeds arriving via a file stream drive the crawl to the same final
    state as a batch run with the same seeds."""
    tmp = tempfile.mkdtemp()
    seeds_dir = os.path.join(tmp, "seeds")
    os.makedirs(seeds_dir)
    with open(os.path.join(seeds_dir, "s1.txt"), "w") as f:
        f.write("http://self.test\n")
    stream = (
        spark.readStream.format("text")
        .schema("value string")
        .load(seeds_dir)
        .select(F.col("value").alias("url"))
    )
    crawler = Crawler(
        spark, self_linking_pages(spark),
        CrawlConfig(seeds=[], domains=["http://self.test"]),
    )
    q = stream_seed_crawler(
        crawler, stream, os.path.join(tmp, "ckpt"), query_name="t_stream"
    )
    q.awaitTermination(120)
    batch = crawl(
        spark, self_linking_pages(spark),
        CrawlConfig(seeds=["http://self.test"], domains=["http://self.test"]),
    )
    got = {(x["url"], x["status"]) for x in crawler.frontier.collect()}
    want = {(x["url"], x["status"]) for x in batch.frontier.collect()}
    assert got == want


def test_stream_seed_redelivery_idempotent(spark):
    """Re-delivered seeds dedup away (add_seeds anti-joins the frontier)."""
    crawler = Crawler(
        spark, self_linking_pages(spark),
        CrawlConfig(seeds=[], domains=["http://self.test"]),
    )
    crawler.add_seeds(["http://self.test"])
    crawler.run()
    n1 = crawler.frontier.count()
    crawler.add_seeds(["http://self.test"])  # redelivery
    crawler.run()
    assert crawler.frontier.count() == n1


def test_windowed_fetch_stats_batch_parity(spark):
    """The windowed-agg plan runs identically on a batch DataFrame."""
    cfg = CrawlConfig(seeds=["http://qri.test/"], domains=["http://qri.test"])
    r = crawl(spark, tree_site_pages(spark), cfg)
    ev = r.ok_resources().withColumn(
        "host", F.lit("qri.test")
    )
    stats = windowed_fetch_stats(ev, window="1 minute").collect()
    assert sum(x["n_fetches"] for x in stats) == ev.count()
    assert all(x["n_ok"] == x["n_fetches"] for x in stats)


def test_windowed_fetch_stats_streaming(spark):
    """Same plan as a real stream (availableNow file source + memory sink),
    with a watermark."""
    tmp = tempfile.mkdtemp()
    cfg = CrawlConfig(seeds=["http://self.test"], domains=["http://self.test"])
    r = crawl(spark, self_linking_pages(spark), cfg)
    src = os.path.join(tmp, "events")
    r.ok_resources().select("url", "warc_ts", "status", "content_length")\
        .withColumn("host", F.lit("self.test"))\
        .write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        "url string, warc_ts timestamp, status int, content_length long, host string"
    ).parquet(src)
    agg = windowed_fetch_stats(stream, window="1 minute", watermark="2 minutes")
    # complete mode: append would hold windows open until a LATER batch
    # advances the watermark, and availableNow never delivers one
    q = (
        agg.writeStream.format("memory").queryName("t_win")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.sql("select sum(n_fetches) s from t_win").first()["s"]
    assert got == 4


def test_add_seeds_df_large_batch_no_driver_collect(spark):
    """add_seeds_df (the stream-ingest path): a 100k-url micro-batch
    enqueues with no driver materialization of the urls — dense
    deterministic seqs in url sort order, in-batch dupes and already-seen
    urls anti-joined away, redelivery idempotent."""
    c = Crawler(
        spark, self_linking_pages(spark),
        CrawlConfig(seeds=["http://self.test"], domains=["http://self.test"]),
    )
    c.run()
    seq0 = c.next_seq
    bulk = spark.range(100_000).select(
        F.concat(F.lit("http://bulk.test/p/"), F.col("id")).alias("url")
    )
    seeds = bulk.unionAll(bulk.limit(7)).unionAll(  # in-batch dupes
        spark.createDataFrame([("http://self.test",), (None,), ("",)],
                              "url string")  # already seen + junk
    )
    n = c.add_seeds_df(seeds)
    assert n == 100_000
    assert c.next_seq == seq0 + 100_000
    q = c.frontier.filter(F.col("status") == "queued")
    mm = q.agg(
        F.count("*").alias("cnt"),
        F.min("discovery_seq").alias("lo"),
        F.max("discovery_seq").alias("hi"),
        F.countDistinct("discovery_seq").alias("uniq"),
    ).first()
    assert (mm["cnt"], mm["uniq"]) == (100_000, 100_000)
    assert (mm["lo"], mm["hi"]) == (seq0, seq0 + 100_000 - 1)
    # deterministic assignment: seq rank == url sort rank
    head = [x["url"] for x in
            q.orderBy("discovery_seq").limit(3).collect()]
    assert head == sorted(x["url"] for x in
                          q.orderBy("url").limit(3).collect())
    assert c.add_seeds_df(seeds) == 0  # full redelivery: all dedup away
    c.close()


@pytest.mark.parametrize("broadcast_rows", [100_000, 10])
def test_add_seeds_df_seed_norms_drain(spark, monkeypatch, broadcast_rows):
    """Streamed seeds that are not their own normal form (https, www.,
    trailing slash) are fetched under their normal form, and the
    (url, url_norm) side table holds only seeds still queued: it never
    grows across micro-batches and is empty once each batch drains —
    with the broadcast join and, above the row bound, without it."""
    monkeypatch.setattr(Crawler, "_SEED_NORM_BROADCAST_ROWS", broadcast_rows)
    n = 30
    pages = spark.range(3 * n).select(
        F.concat(F.lit("http://s.test/p"), F.col("id")).alias("url"),
        F.lit(b"<html><body>ok</body></html>").alias("html"),
        F.lit(200).alias("status"),
        F.to_timestamp(F.lit("2000-01-01 00:00:00")).alias("warc_ts"),
    )
    c = Crawler(spark, pages, CrawlConfig(seeds=[], domains=["http://s.test"]))
    for b in range(3):
        batch = spark.range(b * n, (b + 1) * n).select(
            F.concat(F.lit("HTTPS://WWW.s.test/p"), F.col("id"), F.lit("/"))
            .alias("url")
        )
        assert c.add_seeds_df(batch) == n
        assert c._seed_norm_rows == n  # earlier batches' seeds are gone
        c.run()
        assert c._seed_norm_df is None
    rows = c.resources.filter(F.col("url").startswith("HTTPS://")).collect()
    assert len(rows) == 3 * n
    assert all(r["status"] == 200 and r["error"] is None for r in rows)
