"""Dissect the BFS ramp-up fixed cost: what does a tiny-batch fetch join
actually pay against a warmed 2M-row corpus?

The per-superstep profile (BENCH/PROFILE_r4.md) shows supersteps 1-3
(batches 1000 / 7k / 56k) cost ~18 s per level regardless of batch size —
a fixed term that no cluster size shrinks and that drags the raw N->4N
efficiency (removing fixed cost c moves eff = (N-c)/(4*(wall4N-c)) UP
because the fixed term is a larger fraction of the 4N wall). This probe
times each candidate component of that term in isolation on a warmed
corpus, at one parallelism level:

  scan_url      count over p_url_norm only (columnar cache, url column)
  scan_html     count forcing html access (full-width row materialization)
  join_now      the exact ss1 join shape (repartition + inner + miss-anti)
  join_inpush   same, corpus prefiltered by an IN-list of the batch urls
  join_semi     miss recovery replaced by a second url-column scan
  anti_only     the miss anti-join alone (url-column corpus scan)

Usage: python tools/probe_rampup.py [n_urls] [cpus] [batch_size] [reps]
Prints one JSON line; runs AFTER any protocol measurement (it shares the
box and would pollute interleaved pairs).
"""
from __future__ import annotations

import json
import sys
import time

from pyspark.sql import SparkSession, functions as F


def main() -> None:
    n_urls = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    batch_size = int(sys.argv[3]) if len(sys.argv) > 3 else 1000
    reps = int(sys.argv[4]) if len(sys.argv) > 4 else 3

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", "32g")
        .config("spark.ui.enabled", "false")
        .appName("probe-rampup")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from walk_spark.config import CrawlConfig
    from walk_spark.plans.crawl import Crawler
    from walk_spark.sources.pages import skewed_corpus, skewed_url

    pages = skewed_corpus(spark, n_urls=n_urls, n_hosts=64)
    seeds = [skewed_url(i) for i in range(batch_size)]
    cfg = CrawlConfig(
        seeds=seeds, domains=["http://h0.test"], max_supersteps=1,
        seen_partitions=cpus,
    )
    c = Crawler(spark, pages, cfg)
    c.warm()
    corpus = c.pages  # prepped, hash-partitioned on p_url_norm, persisted
    P = c._pin_parts

    # the ss1 batch: seed urls, normalized (no redirect chains in this corpus)
    from walk_spark.functions.urlnorm import normalize_url
    batch_urls = [normalize_url(u) for u in seeds]
    b = spark.createDataFrame([(u,) for u in batch_urls], "url_norm string")
    b = b.withColumn("final_url_norm", F.col("url_norm"))
    b = b.localCheckpoint(eager=True)

    def timed(name, fn, out):
        walls = []
        for _ in range(reps):
            t = time.monotonic()
            fn()
            walls.append(round(time.monotonic() - t, 3))
        out[name] = {"walls": walls, "min": min(walls)}

    res: dict = {"n_urls": n_urls, "cpus": cpus, "batch": batch_size}
    pg = corpus.drop("p_redir_norm")

    timed("scan_url", lambda: pg.select("p_url_norm").filter(
        F.col("p_url_norm").startswith("zzz")).count(), res)
    timed("scan_html", lambda: pg.filter(
        F.length("p_html") < 0).count(), res)

    def join_now():
        bb = b.repartition(P, "final_url_norm")
        hits = bb.join(pg, bb.final_url_norm == pg.p_url_norm, "inner")
        misses = bb.join(pg.select("p_url_norm"),
                         bb.final_url_norm == pg.p_url_norm, "left_anti")
        n = hits.select("final_url_norm", "p_status").unionByName(
            misses.select("final_url_norm",
                          F.lit(None).cast("int").alias("p_status"))
        ).count()
        assert n == batch_size, n

    timed("join_now", join_now, res)

    def join_inpush():
        bb = b.repartition(P, "final_url_norm")
        pgf = pg.filter(F.col("p_url_norm").isin(batch_urls))
        hits = bb.join(pgf, bb.final_url_norm == pgf.p_url_norm, "inner")
        misses = bb.join(pgf.select("p_url_norm"),
                         bb.final_url_norm == pgf.p_url_norm, "left_anti")
        n = hits.select("final_url_norm", "p_status").unionByName(
            misses.select("final_url_norm",
                          F.lit(None).cast("int").alias("p_status"))
        ).count()
        assert n == batch_size, n

    timed("join_inpush", join_inpush, res)

    def anti_only():
        bb = b.repartition(P, "final_url_norm")
        bb.join(pg.select("p_url_norm"),
                bb.final_url_norm == pg.p_url_norm, "left_anti").count()

    timed("anti_only", anti_only, res)

    print(json.dumps(res))
    spark.stop()


if __name__ == "__main__":
    main()
