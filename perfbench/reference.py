"""Pure-Python reference model of a crawl over the skewed corpus.

The model knows only the corpus formula that ``sources.pages.skewed_corpus``
documents (page ``i`` of ``n`` links to ``(i*k + j + 1) % n`` for
``j < k``; half the pages sit on host 0) and the crawl semantics the
engine promises:

- seeds are depth 0 with ``discovery_seq`` 0..S-1 in list order;
- each superstep picks, per host, the first ``budget`` queued urls in
  ``(depth, discovery_seq, url)`` order (budget 0 = every queued url);
- each fetched page's links are candidates ``(parent_depth, parent_seq,
  ordinal, url)``; robots rules drop candidates only (never seeds);
- within a superstep the first discovery of a url wins, urls already in
  the frontier are dropped, and the new urls get consecutive sequence
  numbers in ``(parent_depth, parent_seq, ordinal, url)`` order.

From these it predicts the exact crawl order ``(superstep, depth,
discovery_seq, url)``. ``check_order`` compares the engine's order rows
with it and also checks the properties that hold without simulating the
schedule: every reachable url fetched exactly once, depth equal to the BFS
distance from the seeds (the benchmark's crawls are two levels deep, where
a host budget delays urls but cannot deepen them), and the per-host budget
in every superstep.
"""

from __future__ import annotations

import hashlib
from collections import Counter, deque


def host_of(i: int, n_hosts: int = 64, hot_share: int = 2) -> int:
    if i % hot_share == 0:
        return 0
    return 1 + (i * 2654435761 % (2**32)) % (n_hosts - 1)


def url_of(i: int) -> str:
    return f"http://host{host_of(i)}.test/p/{i}.html"


def host_name(i: int) -> str:
    return f"host{host_of(i)}.test"


def page_title(i: int) -> str:
    return f"page {i}"


def page_text(i: int, k: int) -> str:
    """Extracted text of page ``i``: anchor texts, then the paragraph."""
    anchors = " ".join(f"out {j}" for j in range(k))
    return f"{anchors} synthetic page {i} on host {host_of(i)}"


def links_of(i: int, n: int, k: int) -> list[int]:
    return [(i * k + j + 1) % n for j in range(k)]


def robots_blocks(i: int, robots: list[tuple[str, str]]) -> bool:
    host, path = host_name(i), f"/p/{i}.html"
    return any(host == h and path.startswith(p) for h, p in robots)


def simulate(n: int, k: int, seeds: list[int], budget: int,
             robots: list[tuple[str, str]]) -> list[tuple]:
    """Return the predicted order rows (superstep, depth, seq, url)."""
    info = {}  # page id -> (depth, seq)
    queued = []
    for s, i in enumerate(seeds):
        info[i] = (0, s)
        queued.append(i)
    next_seq = len(seeds)
    order = []
    superstep = 0
    while queued:
        superstep += 1
        queued.sort(key=lambda i: (info[i][0], info[i][1], url_of(i)))
        if budget > 0:
            used: Counter = Counter()
            batch, rest = [], []
            for i in queued:
                h = host_of(i)
                if used[h] < budget:
                    used[h] += 1
                    batch.append(i)
                else:
                    rest.append(i)
        else:
            batch, rest = queued, []
        best = {}  # url id -> (parent_depth, parent_seq, ordinal)
        for p in batch:
            d, s = info[p]
            order.append((superstep, d, s, url_of(p)))
            for o, c in enumerate(links_of(p, n, k)):
                if c in info or robots_blocks(c, robots):
                    continue
                key = (d, s, o)
                if c not in best or key < best[c]:
                    best[c] = key
        fresh = sorted(best, key=lambda c: (*best[c], url_of(c)))
        for c in fresh:
            info[c] = (best[c][0] + 1, next_seq)
            next_seq += 1
        queued = rest + fresh
    return order


def bfs_depths(n: int, k: int, seeds: list[int],
               robots: list[tuple[str, str]]) -> dict[int, int]:
    dist = {i: 0 for i in seeds}
    q = deque(seeds)
    while q:
        p = q.popleft()
        for c in links_of(p, n, k):
            if c not in dist and not robots_blocks(c, robots):
                dist[c] = dist[p] + 1
                q.append(c)
    return dist


def order_sha256(rows) -> str:
    h = hashlib.sha256()
    for r in sorted((int(a), int(b), int(c), str(d)) for a, b, c, d in rows):
        h.update(repr(r).encode())
    return h.hexdigest()


def check_order(rows: list[tuple], n: int, k: int, seeds: list[int],
                budget: int, robots: list[tuple[str, str]],
                expected: list[tuple]) -> tuple[list[str], int]:
    """Problems found in the engine's order rows (empty means correct) and
    the number of rows that differ from the model's."""
    problems = []
    urls = [r[3] for r in rows]
    dup = [u for u, c in Counter(urls).items() if c > 1]
    if dup:
        problems.append(f"{len(dup)} urls fetched more than once")
    reach = bfs_depths(n, k, seeds, robots)
    want = {url_of(i) for i in reach}
    if set(urls) != want:
        problems.append(
            f"fetched {len(set(urls))} urls, {len(want)} reachable; "
            f"{len(want - set(urls))} missing, {len(set(urls) - want)} extra"
        )
    depth = {url_of(i): d for i, d in reach.items()}
    bad = sum(1 for r in rows if depth.get(r[3]) != r[1])
    if bad:
        problems.append(f"{bad} urls at a depth other than BFS distance")
    if budget:
        per = Counter((r[0], r[3].split("/")[2]) for r in rows)
        over = [key for key, c in per.items() if c > budget]
        if over:
            problems.append(f"{len(over)} (superstep, host) over budget")
    got = {(int(a), int(b), int(c), str(d)) for a, b, c, d in rows}
    differ = len(got ^ set(expected))
    if order_sha256(rows) != order_sha256(expected):
        problems.append(f"crawl order differs from the reference model "
                        f"in {differ} rows")
    return problems, differ
