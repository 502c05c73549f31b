"""Request mix and response validator for the read phase over a stored walk.

The mix is drawn from a seeded generator in rounds: each round sends one
request of every kind in a shuffled order, so every run sees the same
share of each route. Capture requests pick their page Zipf-skewed over the
crawled pages (rank order = crawl order, so early pages are hot);
collection requests pick a page number skewed to the first pages; one
request in five asks for a url that was never crawled. Each response is
checked against what the generator knows about the corpus, not against the
engine's own tables.
"""

from __future__ import annotations

import bisect
import http.client
import json
import random
import time

from perfbench import reference as R

#: request kinds; one of each per round
KINDS = ("collection", "meta_raw", "resolved", "raw", "missing")
PAGE_SIZE = 25  # the server's default pageSize
ZIPF_S = 1.1
MAX_REQUESTS = 40


def surt_key(i: int) -> str:
    host = R.host_name(i)
    return ",".join(reversed(host.split("."))) + f")/p/{i}.html"


class RequestMix:
    """Seeded request generator over the pages a crawl fetched."""

    def __init__(self, seed: int, crawled: list[int], n: int,
                 walk_id: str) -> None:
        self.rng = random.Random(seed)
        self.crawled = crawled
        self.n = n
        self.walk_id = walk_id
        cum, acc = [], 0.0
        for r in range(len(crawled)):
            acc += 1.0 / (r + 1) ** ZIPF_S
            cum.append(acc)
        self._cum = cum
        self.surt_order = sorted(crawled, key=surt_key)
        self.n_pages = -(-len(crawled) // PAGE_SIZE)
        self._round: list[str] = []

    def _page_id(self) -> int:
        x = self.rng.random() * self._cum[-1]
        return self.crawled[bisect.bisect_left(self._cum, x)]

    def mid_round(self) -> bool:
        return bool(self._round)

    def next(self) -> tuple[str, str, int]:
        """(kind, path, page id or collection page number)."""
        if not self._round:
            self._round = list(KINDS)
            self.rng.shuffle(self._round)
        kind = self._round.pop()
        if kind == "collection":
            page = 1 + min(int(self.rng.paretovariate(1.2)) - 1,
                           self.n_pages - 1)
            return (kind, f"/collection/{self.walk_id}?page={page}"
                          f"&pageSize={PAGE_SIZE}", page)
        if kind == "missing":
            i = self.n + self.rng.randrange(self.n)
            return kind, f"/captures/raw/zero/host{1 + i % 63}.test/p/{i}.html", i
        i = self._page_id()
        route = {"meta_raw": "/captures/meta/raw/",
                 "resolved": "/captures/resolved/",
                 "raw": "/captures/raw/"}[kind]
        return kind, f"{route}zero/{R.host_name(i)}/p/{i}.html", i


class Validator:
    """Checks responses; remembers collection pages to test for overlap."""

    def __init__(self, mix: RequestMix, k: int) -> None:
        self.mix = mix
        self.k = k
        self.pages: dict[int, list[str]] = {}

    def check(self, kind: str, key: int, status: int,
              body: bytes) -> str | None:
        """None when the response is right, else what is wrong."""
        if kind == "missing":
            if status != 500:
                return f"missing url got {status}"
            err = json.loads(body).get("meta", {}).get("error")
            return None if err == "not found" else f"missing url: {err!r}"
        if status != 200:
            return f"{kind} got {status}"
        if kind in ("raw", "resolved"):
            want = R.page_text(key, self.k)
            got = body.decode("utf-8")
            return None if got == want else f"{kind} body of page {key}"
        data = json.loads(body)["data"]
        if kind == "meta_raw":
            if data.get("url") != R.url_of(key):
                return f"meta url {data.get('url')!r} for page {key}"
            if data.get("title") != R.page_title(key):
                return f"title {data.get('title')!r} for page {key}"
            return None
        urls = [row["url"] for row in data]
        lo = (key - 1) * PAGE_SIZE
        want = [R.url_of(i) for i in self.mix.surt_order[lo:lo + PAGE_SIZE]]
        if urls != want:
            return f"collection page {key}: {len(urls)} rows, not the index"
        for p, seen in self.pages.items():
            if p != key and set(seen) & set(urls):
                return f"collection pages {p} and {key} overlap"
        self.pages[key] = urls
        return None


def get(port: int, path: str) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("GET", path)
        r = conn.getresponse()
        return r.status, r.read()
    finally:
        conn.close()


def closed_loop(port: int, mix: RequestMix, validator: Validator,
                deadline: float,
                on_request=None) -> tuple[list[float], list[str]]:
    """One client: send the next request when the previous one returned,
    in whole rounds, until ``deadline`` has passed (at least one round,
    at most about ``MAX_REQUESTS``)."""
    lat, errors = [], []
    while not lat or mix.mid_round() or (
            len(lat) < MAX_REQUESTS and time.monotonic() < deadline):
        kind, path, key = mix.next()
        t = time.monotonic()
        status, body = get(port, path)
        lat.append(time.monotonic() - t)
        problem = validator.check(kind, key, status, body)
        if problem:
            errors.append(f"{path}: {problem}")
        if on_request is not None:
            on_request(kind, path, lat[-1])
    return lat, errors
