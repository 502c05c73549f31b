"""The traced run: per-layer numbers measured from outside the program.

The crawl runs once untraced and once traced (spans around each public
call, ``WALK_SPARK_TRACE=1`` for the crawl's own phase offsets). Then each
layer's public functions are called on the traced crawl's real
intermediate inputs:

- the corpus (``sources.pages``);
- the pages fetched in the crawl's largest superstep (``functions.extract``);
- that superstep's posexploded link candidates (``functions.urlnorm``,
  ``operators.politeness.apply_robots``) against the frontier as it stood
  before the superstep expanded (``operators.dedup``,
  ``operators.frontier.with_global_seq``);
- the queue at the start of the superstep with the most queued urls
  (``operators.politeness.pick_budget_window``);
- the stored walk (``operators.sitemap``, ``operators.queries``, ``api``,
  ``server``).

Counts are cross-checked against the crawl's own per-superstep metrics; a
disagreement is reported as a problem.
"""

from __future__ import annotations

import os
import statistics
import time
from urllib.parse import urlsplit

from perfbench import run as B
from perfbench import serve as S
from perfbench.tracer import Tracer, phase_durations
from perfbench.workloads import OUT_DEGREE

#: name -> unit of every per-layer metric, in BENCHMARK.json order
METRICS = {
    "sources.pages.corpus_gen_s": "s",
    "sources.pages.corpus_rows": "count",
    "plans.crawl.init_s": "s",
    "plans.crawl.warm_s": "s",
    "plans.crawl.run_s": "s",
    "plans.crawl.output_write_s": "s",
    "plans.crawl.supersteps": "count",
    "plans.crawl.batch_urls_mean": "count",
    "plans.crawl.superstep_s_p50": "s",
    "plans.crawl.superstep_s_first": "s",
    "plans.crawl.superstep_s_last": "s",
    "plans.crawl.spark_jobs_per_superstep": "count",
    "plans.crawl.spark_tasks_per_superstep": "count",
    "plans.crawl.failed_tasks": "count",
    "plans.crawl.fetch_extract_s": "s",
    "plans.crawl.bloom_wait_s": "s",
    "plans.crawl.expand_build_s": "s",
    "plans.crawl.seq_assign_s": "s",
    "plans.crawl.metrics_wait_s": "s",
    "plans.crawl.checkpoint_s": "s",
    "functions.extract.rows": "count",
    "functions.extract.extract_s": "s",
    "functions.extract.links_per_page": "count",
    "functions.urlnorm.urls": "count",
    "functions.urlnorm.normalize_s": "s",
    "operators.dedup.candidates": "count",
    "operators.dedup.new_urls": "count",
    "operators.dedup.new_ratio": "ratio",
    "operators.dedup.bloom_build_s": "s",
    "operators.dedup.bloom_skip_ratio": "ratio",
    "operators.dedup.anti_join_s": "s",
    "operators.dedup.anti_join_exact_s": "s",
    "operators.frontier.seq_rows": "count",
    "operators.frontier.with_global_seq_s": "s",
    "operators.politeness.queued_in": "count",
    "operators.politeness.picked_out": "count",
    "operators.politeness.pick_s": "s",
    "operators.politeness.robots_dropped": "count",
    "operators.politeness.robots_s": "s",
    "operators.sitemap.entries": "count",
    "operators.sitemap.sitemap_entries_s": "s",
    "operators.sitemap.render_s": "s",
    "operators.sitemap.bytes": "bytes",
    "operators.queries.cdxj_index_s": "s",
    "operators.queries.build_capture_index_s": "s",
    "operators.queries.get_capture_s": "s",
    "operators.queries.inbound_links_s": "s",
    "api.list_resources_s": "s",
    "api.get_resource_s": "s",
    "server.request_p50_s": "s",
    "server.route_s": "s",
    "server.http_overhead_s": "s",
    "trace.crawl_s_untraced": "s",
    "trace.crawl_s_traced": "s",
    "trace.overhead_s": "s",
    "trace.per_url_share": "ratio",
}
LAYERS = (
    "sources.pages", "plans.crawl", "functions.extract", "functions.urlnorm",
    "operators.dedup", "operators.frontier", "operators.politeness",
    "operators.sitemap", "operators.queries", "api", "server",
)
for _layer in LAYERS:
    METRICS[f"{_layer}.self_s"] = "s"


def _crawl_metrics(tr: Tracer, r) -> dict:
    run = tr.by_name("plans.crawl.run")[-1]
    steps = r.metrics
    walls = [m.get("wall_s_with_checkpoint", m["wall_s"]) for m in steps]
    n = len(steps)
    out = {
        "plans.crawl.init_s": tr.by_name("plans.crawl.init")[-1],
        "plans.crawl.warm_s": tr.by_name("plans.crawl.warm")[-1],
        "plans.crawl.run_s": run,
        "plans.crawl.output_write_s": tr.by_name("plans.crawl.output_write")[-1],
    }
    out = {k: s["end"] - s["start"] for k, s in out.items()}
    out.update({
        "plans.crawl.supersteps": n,
        "plans.crawl.batch_urls_mean": sum(m["batch"] for m in steps) / n,
        "plans.crawl.superstep_s_p50": statistics.median(walls),
        "plans.crawl.superstep_s_first": walls[0],
        "plans.crawl.superstep_s_last": walls[-1],
        "plans.crawl.spark_jobs_per_superstep": run["jobs"] / n,
        "plans.crawl.spark_tasks_per_superstep": run["tasks"] / n,
        "plans.crawl.failed_tasks": run["failed_tasks"],
    })
    for k, v in phase_durations(steps).items():
        out[f"plans.crawl.{k}"] = v
    return out


def operator_spans(spark, wl, tr: Tracer, pages, r, out: str,
                   port: int, srv, paths: list[str]) -> tuple[dict, list]:
    """Call each layer's public functions on the crawl's intermediates."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    from walk_spark import api
    from walk_spark.functions.extract import with_extraction
    from walk_spark.functions.urlnorm import normalize_url_series
    from walk_spark.operators import dedup as D
    from walk_spark.operators import politeness as P
    from walk_spark.operators import queries as Q
    from walk_spark.operators import sitemap as SM
    from walk_spark.operators.frontier import (
        canonical_host_col, part_id_col, with_global_seq,
    )

    m, problems = {}, []
    cfg = wl.crawl_config()
    steps = r.metrics
    res = spark.read.parquet(f"{out}/resources")
    fr = spark.read.parquet(f"{out}/frontier")
    order = spark.read.parquet(f"{out}/order")
    ok = res.filter(B.OK_FILTER)

    def span(name, layer, fn):
        """Run ``fn`` in a span; return its value and the seconds taken."""
        with tr.span(name, layer=layer):
            t = time.monotonic()
            v = fn()
        return v, time.monotonic() - t

    # sources.pages: generate and count the corpus
    m["sources.pages.corpus_rows"], m["sources.pages.corpus_gen_s"] = span(
        "sources.pages.count", "sources.pages", pages.count)

    # extraction and normalisation on the pages of the largest superstep
    kx = max(range(len(steps)), key=lambda i: steps[i]["batch"]) + 1
    with tr.span("perfbench.inputs", layer="perfbench"):
        batch = (order.filter(F.col("superstep") == kx).select("url")
                 .join(pages.select("url", "html"), "url")
                 .localCheckpoint(eager=True))
    ex, m["functions.extract.extract_s"] = span(
        "functions.extract.with_extraction", "functions.extract",
        lambda: with_extraction(batch).select("url", "links")
        .localCheckpoint(eager=True))
    row = ex.agg(F.count("*").alias("n"),
                 F.avg(F.size("links")).alias("lpp")).first()
    m["functions.extract.rows"] = row["n"]
    m["functions.extract.links_per_page"] = row["lpp"]
    if row["n"] != steps[kx - 1]["batch"]:
        problems.append(f"extract rows {row['n']} != batch of superstep {kx}")
    links = ex.select(F.explode("links").alias("url")).localCheckpoint(
        eager=True)
    norm = F.pandas_udf(normalize_url_series, returnType=StringType())
    m["functions.urlnorm.urls"], m["functions.urlnorm.normalize_s"] = span(
        "functions.urlnorm.normalize_url_series", "functions.urlnorm",
        lambda: links.select(norm("url").alias("u"))
        .filter(F.col("u") != "").count())

    # expansion inputs: the link candidates of the superstep that found the
    # most new urls, from its stored resources, and the frontier before it
    k = max(range(len(steps)), key=lambda i: steps[i]["new_urls"]) + 1
    with tr.span("perfbench.inputs", layer="perfbench"):
        cands = (
            res.filter(F.col("superstep") == k).select("url", "links")
            .join(order.filter(F.col("superstep") == k), "url")
            .select(F.col("depth").alias("parent_depth"),
                    F.col("discovery_seq").alias("parent_seq"),
                    F.posexplode("links").alias("ordinal", "url"))
        )
        cands = cands.withColumn("host", canonical_host_col(F.col("url")))
        cands = cands.withColumn("part_id", part_id_col(
            F.col("host"), F.col("url"), cfg.seen_partitions)
        ).localCheckpoint(eager=True)
        n_cands = cands.count()
        seen = fr.filter(F.col("superstep") < k).select("part_id", "url") \
            .localCheckpoint(eager=True)

    # operators.politeness: robots on the candidates, the pick on a queue
    m.update({"operators.politeness.queued_in": 0,
              "operators.politeness.picked_out": 0,
              "operators.politeness.pick_s": 0.0,
              "operators.politeness.robots_dropped": 0,
              "operators.politeness.robots_s": 0.0})
    if wl.robots:
        robots = wl.robots_df(spark)
        kept, m["operators.politeness.robots_s"] = span(
            "operators.politeness.apply_robots", "operators.politeness",
            lambda: P.apply_robots(cands, robots).localCheckpoint(eager=True))
        m["operators.politeness.robots_dropped"] = n_cands - kept.count()
        cands = kept
    if wl.host_budget:
        fetched_at = order.select("url", F.col("superstep").alias("_fs"))
        sizes = [(q, fr.join(fetched_at, "url")
                  .filter((F.col("superstep") < q) & (F.col("_fs") >= q))
                  .count()) for q in range(1, len(steps) + 1)]
        q, n_q = max(sizes, key=lambda x: x[1])
        queue = (fr.join(fetched_at, "url")
                 .filter((F.col("superstep") < q) & (F.col("_fs") >= q))
                 .drop("_fs").localCheckpoint(eager=True))
        picked, m["operators.politeness.pick_s"] = span(
            "operators.politeness.pick_budget_window", "operators.politeness",
            lambda: P.pick_budget_window(queue, wl.host_budget,
                                         approx_queued=n_q).count())
        m["operators.politeness.queued_in"] = n_q
        m["operators.politeness.picked_out"] = picked
        if picked != steps[q - 1]["batch"]:
            problems.append(f"pick {picked} != batch of superstep {q}")

    # operators.dedup: within-batch dedup, bloom build, the anti-joins
    uniq = D.dedup_within_batch(
        cands, ("part_id", "url")).localCheckpoint(eager=True)
    n_uniq = uniq.count()
    blooms, m["operators.dedup.bloom_build_s"] = span(
        "operators.dedup.build_bloom_partitions", "operators.dedup",
        lambda: D.build_bloom_partitions(
            seen, cfg.bloom_expected_items, cfg.bloom_num_bits)
        .localCheckpoint(eager=True))
    filters_bytes = cfg.seen_partitions * cfg.bloom_num_bits // 8
    fresh, m["operators.dedup.anti_join_s"] = span(
        "operators.dedup.anti_join_seen", "operators.dedup",
        lambda: D.anti_join_seen(uniq, seen, blooms, filters_bytes)
        .localCheckpoint(eager=True))
    D.release_bloom_broadcasts()
    n_exact, m["operators.dedup.anti_join_exact_s"] = span(
        "operators.dedup.anti_join_seen_exact", "operators.dedup",
        lambda: D.anti_join_seen(uniq, seen).count())
    n_new = fresh.count()
    bf = {row["part_id"]: row["bf"] for row in blooms.collect()}
    by_part: dict[int, list[str]] = {}
    for row in uniq.select("part_id", "url").collect():
        by_part.setdefault(row["part_id"], []).append(row["url"])
    definitely_new = sum(
        len(urls) if p not in bf else
        int((~D._probe_filter_bytes(bf[p], urls, "bloom")).sum())
        for p, urls in by_part.items())
    m["operators.dedup.candidates"] = n_cands
    m["operators.dedup.new_urls"] = n_new
    m["operators.dedup.new_ratio"] = n_new / max(n_cands, 1)
    m["operators.dedup.bloom_skip_ratio"] = definitely_new / max(n_uniq, 1)
    if not n_new == n_exact == steps[k - 1]["new_urls"]:
        problems.append(f"anti-join {n_new}/{n_exact} new urls, superstep "
                        f"{k} found {steps[k - 1]['new_urls']}")

    # operators.frontier: the dense global sequence over the new urls
    start = sum(wl.n_seeds if i == 0 else steps[i - 1]["new_urls"]
                for i in range(k))
    (_ranked, n_seq), m["operators.frontier.with_global_seq_s"] = span(
        "operators.frontier.with_global_seq", "operators.frontier",
        lambda: with_global_seq(
            fresh, ["parent_depth", "parent_seq", "ordinal", "url"],
            start=start, num_partitions=cfg.pin_partitions,
            return_count=True))
    m["operators.frontier.seq_rows"] = n_seq

    # operators.sitemap over the stored walk
    entries, m["operators.sitemap.sitemap_entries_s"] = span(
        "operators.sitemap.sitemap_entries", "operators.sitemap",
        lambda: SM.sitemap_entries(ok).localCheckpoint(eager=True))
    text, m["operators.sitemap.render_s"] = span(
        "operators.sitemap.render_sitemap_json", "operators.sitemap",
        lambda: SM.render_sitemap_json(entries))
    m["operators.sitemap.entries"] = entries.count()
    m["operators.sitemap.bytes"] = len(text.encode("utf-8"))

    # operators.queries and api on a few of the crawl's urls
    urls = [row["url"] for row in order.orderBy("discovery_seq")
            .select("url").limit(2).collect()]
    _, m["operators.queries.cdxj_index_s"] = span(
        "operators.queries.cdxj_index", "operators.queries",
        lambda: SM.cdxj_index(ok).count())
    ix, m["operators.queries.build_capture_index_s"] = span(
        "operators.queries.build_capture_index", "operators.queries",
        lambda: Q.build_capture_index(res))
    caps, t = span("operators.queries.get_capture", "operators.queries",
                   lambda: [Q.get_capture(res, u, capture_index=ix)
                            for u in urls])
    m["operators.queries.get_capture_s"] = t / len(urls)
    if any(c is None or c["url"] != u for c, u in zip(caps, urls)):
        problems.append("get_capture missed a crawled url")
    _, t = span("operators.queries.inbound_links", "operators.queries",
                lambda: [Q.inbound_links(res, u).collect() for u in urls])
    m["operators.queries.inbound_links_s"] = t / len(urls)
    _, t = span("api.list_resources", "api",
                lambda: [api.list_resources(ok, p, 25).collect()
                         for p in range(2)])
    m["api.list_resources_s"] = t / 2
    _, t = span("api.get_resource", "api",
                lambda: [api.get_resource(ok, u) for u in urls])
    m["api.get_resource_s"] = t / len(urls)

    # server: in-process route vs the same requests over HTTP
    route_t, http_t = [], []
    for path in paths:
        u = urlsplit(path)
        route_t.append(span("server.route", "server",
                            lambda: srv.route(u.path, u.query))[1])
        http_t.append(span("server.get", "server",
                           lambda: S.get(port, path))[1])
    m["server.route_s"] = statistics.median(route_t)
    m["server.http_overhead_s"] = (statistics.median(http_t)
                                   - statistics.median(route_t))
    return m, problems


def read_phase(spark, out: str, wl, crawled: list[int], deadline: float,
               tr: Tracer):
    """Closed-loop GETs over the stored walk, each response validated."""
    mix = S.RequestMix(wl.seed, crawled, wl.n_urls, walk_id=B.WALK_ID)
    srv, port = B.open_server(spark, out)
    log = []
    try:
        with tr.span("server.http", layer="server"):
            lat, errors = S.closed_loop(
                port, mix, S.Validator(mix, OUT_DEGREE), deadline,
                on_request=lambda *a: log.append(a))
    finally:
        srv.shutdown()
    return lat, errors, log


def traced_run(spark, wl, work: str, expected,
               seconds: float) -> tuple[dict, list, int, int]:
    """Traced pass, read phase and operator spans. Returns the per-layer
    metrics, the problems found, the operations attempted and failed.

    The tracing overhead compares the traced crawl, the first in this JVM,
    with the latest untraced run's crawl (``run.untraced_crawl_s``)."""
    problems, attempted, failed = [], 0, 0
    untraced_s = B.untraced_crawl_s(wl.name)
    tr = Tracer(spark.sparkContext)
    out = os.path.join(work, "traced")
    os.environ["WALK_SPARK_TRACE"] = "1"
    try:
        with tr.span("perfbench.traced_pass", layer="perfbench"):
            pages, crawler = B.prepare(spark, wl, span=tr.span)
            t0 = time.monotonic()
            p = B.crawl_pass(spark, wl, out, expected, crawler,
                             span=tr.span)
    finally:
        os.environ.pop("WALK_SPARK_TRACE", None)
    problems += p["problems"]
    attempted += p["fetched"]
    failed += p["failed"]
    m = _crawl_metrics(tr, p["result"])

    crawled = [B.page_id(r[3]) for r in sorted(p["rows"])]
    lat, errors, log = read_phase(spark, out, wl, crawled, t0 + seconds, tr)
    problems += errors
    attempted += len(lat)
    failed += len(errors)
    m["server.request_p50_s"] = statistics.median(lat)

    srv, port = B.open_server(spark, out)
    try:
        paths = [next(path for kind, path, _t in log if kind == want)
                 for want in ("collection", "meta_raw")]
        with tr.span("perfbench.operators", layer="perfbench"):
            om, more = operator_spans(spark, wl, tr, pages, p["result"], out,
                                      port, srv, paths)
    finally:
        srv.shutdown()
    m.update(om)
    problems += more
    failed += len(more)
    m["trace.crawl_s_untraced"] = untraced_s
    m["trace.crawl_s_traced"] = p["crawl_s"]
    m["trace.overhead_s"] = p["crawl_s"] - untraced_s
    m["trace.per_url_share"] = (
        m["functions.extract.extract_s"] + m["operators.dedup.anti_join_s"]
        + m["operators.frontier.with_global_seq_s"]) / p["crawl_s"]
    selfs = tr.self_times()
    for layer in LAYERS:
        m[f"{layer}.self_s"] = selfs.get(layer, 0.0)
    metrics = {k: (float(m[k]), METRICS[k]) for k in METRICS}
    tr.dump(os.path.join(B.WORK, f"trace-{wl.name}-{wl.seed}.json"),
            {k: v for k, (v, _u) in metrics.items()})
    return metrics, problems, attempted, failed
