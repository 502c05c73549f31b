"""Workload definitions: sizes, seeded inputs and the crawl configuration.

Each workload is a crawl of ``sources.pages.skewed_corpus`` (64 hosts,
host 0 holds half the urls, out-degree 8); a traced run adds a read phase
over the stored walk. Only the seed list, the robots table and the request
mix depend on ``--seed``; the corpus formula is fixed.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

from perfbench import reference as R

N_HOSTS = 64
OUT_DEGREE = 8


@dataclass
class Workload:
    name: str
    n_urls: int
    n_seeds: int
    host_budget: int
    robots_hosts: int
    seed: int = 0
    seeds: list[int] = field(default_factory=list)
    robots: list[tuple[str, str]] = field(default_factory=list)

    def __post_init__(self) -> None:
        rng = random.Random(f"{self.name}:{self.seed}")
        # a contiguous block of n/k pages links to every page, so the
        # crawl is two BFS levels deep; the host budget adds supersteps
        first = rng.randrange(self.n_urls)
        self.seeds = [(first + t) % self.n_urls for t in range(self.n_seeds)]
        if self.robots_hosts:
            hosts = rng.sample(range(1, N_HOSTS), self.robots_hosts)
            prefix = f"/p/{rng.randrange(1, 10)}"
            self.robots = [(f"host{h}.test", prefix) for h in sorted(hosts)]

    def expected_order(self) -> list[tuple]:
        return R.simulate(self.n_urls, OUT_DEGREE, self.seeds,
                          self.host_budget, self.robots)

    def crawl_config(self):
        from walk_spark.config import CrawlConfig
        parts = 4
        return CrawlConfig(
            seeds=[R.url_of(i) for i in self.seeds],
            domains=[f"http://host{h}.test" for h in range(N_HOSTS)],
            record_redirects=False,
            dedup_pages=False,  # the generator's urls are unique and normal
            use_bloom=True,
            seen_partitions=parts,
            pin_partitions=parts,
            bloom_expected_items=self.n_urls,
            bloom_num_bits=max(10 * self.n_urls // parts, 65536),
            host_budget_per_superstep=self.host_budget,
        )

    def corpus(self, spark):
        from walk_spark.sources.pages import skewed_corpus
        return skewed_corpus(spark, n_urls=self.n_urls, n_hosts=N_HOSTS,
                             out_degree=OUT_DEGREE, partitions=4)

    def robots_df(self, spark):
        if not self.robots:
            return None
        return spark.createDataFrame(
            self.robots, "host string, disallow_prefix string")


#: name -> sizes; perfbench/README.md gives the reasons
SPECS = {
    # two supersteps, the second fetching 10.5k urls: per-url work
    # (extraction, link normalisation, dedup anti-join, sequence
    # assignment) shows
    "crawl_bfs": dict(n_urls=12000, n_seeds=1500, host_budget=0,
                      robots_hosts=0),
    # per-host budget on the hot host: more, smaller supersteps whose
    # fixed cost dominates; the only workload that runs the politeness
    # pick and the robots filter
    "crawl_polite": dict(n_urls=1000, n_seeds=125, host_budget=220,
                         robots_hosts=4),
}


def make(name: str, seed: int) -> Workload:
    if name not in SPECS:
        raise KeyError(name)
    return Workload(name, seed=seed, **SPECS[name])
