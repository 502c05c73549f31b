"""walk_spark benchmark: one workload per invocation, one JSON line out.

    python3 perfbench/run.py --workload crawl_bfs --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Every run starts a fresh local Spark
session (``local[4]``, 3g driver, serial GC), then:

1. set-up: the session, the workload's corpus, ``Crawler(...)`` and
   ``warm()``;
2. the crawl, as ``walk start`` runs it: ``run()``, the resources,
   frontier and order tables written to parquet, ``finalize_sitemap`` over
   the OK resources. The crawl order is checked against
   ``perfbench/reference.py`` and the sitemap against the corpus formula.
   While less than ``--seconds`` have passed since the first crawl began,
   the workload is prepared and crawled again; the median is reported.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` crawls once
with spans around every call, then sends a closed-loop stream of HTTP GETs
to ``WalkServer.serve()`` over the stored walk (every response validated by
``perfbench/serve.py``), then calls each layer's public functions on the
crawl's own intermediate inputs (``perfbench/layers.py``); it writes the
spans to ``.perfbench_work/trace-<workload>-<seed>.json`` and prints the
per-layer metrics. The last line of stdout is the result; the exit code is
0 only when every output was correct, 2 when the package cannot be
imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

CORES = 4
DRIVER_MEMORY = "3g"
WALK_ID = "walk"
#: scratch space inside the checkout (listed in .gitignore)
WORK = os.path.join(ROOT, ".perfbench_work")
OK_FILTER = ("status between 200 and 308 and error is null "
             "and redirect_to is null")


def parse_args(argv=None):
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# -- process bookkeeping -------------------------------------------------

def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of a live process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def descendants(pid: int) -> set[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = set(), [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    return out


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, end the JVM and wait for every child to exit."""
    from pyspark import SparkContext
    children = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits at the end of its stdin
        try:
            proc.wait(timeout)
        except Exception:
            proc.kill()
            proc.wait(timeout)
    deadline = time.monotonic() + timeout
    while children and time.monotonic() < deadline:
        children = {p for p in children if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in children:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def make_session(work: str):
    from pyspark.sql import SparkSession
    tmp = os.path.join(work, "tmp")
    return (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("walk_spark-perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # temp files and no hsperfdata: the JVM writes only inside the
        # checkout. Serial GC with a fixed young generation: under G1's
        # adaptive young sizing the Spark driver's peak RSS varied by a quarter
        # from run to run
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                "-XX:+UseSerialGC -Xmn256m")
        .getOrCreate()
    )


# -- the pipeline ----------------------------------------------------------

def null_span(_name, **_kw):
    return nullcontext()


def prepare(spark, wl, span=null_span):
    """Set-up of one crawl: corpus, Crawler(...), warm()."""
    from walk_spark.plans.crawl import Crawler
    with span("sources.pages.skewed_corpus", layer="sources.pages"):
        pages = wl.corpus(spark)
    with span("plans.crawl.init", layer="plans.crawl"):
        crawler = Crawler(spark, pages, wl.crawl_config(),
                          robots=wl.robots_df(spark))
    with span("plans.crawl.warm", layer="plans.crawl"):
        crawler.warm()
    return pages, crawler


def crawl_and_store(crawler, out: str, span=null_span):
    """The ``walk start`` flow after the Crawler exists (cli.cmd_start)."""
    from walk_spark.operators.sitemap import finalize_sitemap, sitemap_entries
    with span("plans.crawl.run", layer="plans.crawl"):
        r = crawler.run()
    with span("plans.crawl.output_write", layer="plans.crawl"):
        r.resources.write.mode("overwrite").parquet(f"{out}/resources")
        r.frontier.write.mode("overwrite").parquet(f"{out}/frontier")
        r.order.write.mode("overwrite").parquet(f"{out}/order")
        finalize_sitemap(sitemap_entries(r.ok_resources()),
                         f"{out}/sitemap.json")
    return r


def open_server(spark, out: str):
    """The stored walk as ``walk server`` loads it (cli.cmd_server)."""
    from walk_spark.server import WalkServer
    ok = spark.read.parquet(f"{out}/resources").filter(OK_FILTER)
    srv = WalkServer({WALK_ID: ok},
                     frontier=spark.read.parquet(f"{out}/frontier"))
    return srv, srv.serve(0)


def page_id(url: str) -> int:
    return int(url.rsplit("/", 1)[1].split(".")[0])


def check_walk(wl, rows: list[tuple], out: str,
               expected: list[tuple]) -> tuple[list[str], int]:
    """Order rows against the reference model; the crawl's sitemap.json
    against the corpus formula. Returns the problems and the number of
    urls wrong."""
    from perfbench import reference as R
    from perfbench.workloads import OUT_DEGREE
    problems, bad = R.check_order(rows, wl.n_urls, OUT_DEGREE, wl.seeds,
                                  wl.host_budget, wl.robots, expected)
    with open(f"{out}/sitemap.json") as f:
        sm = json.load(f)
    crawled = {r[3] for r in expected}
    wrong = len(set(sm) ^ crawled)
    for url in crawled & set(sm):
        i, e = page_id(url), sm[url]
        want = [R.url_of(c) for c in R.links_of(i, wl.n_urls, OUT_DEGREE)]
        if e["title"] != R.page_title(i) or e["links"] != want:
            wrong += 1
    if wrong:
        problems.append(f"{wrong} sitemap entries missing, extra or wrong")
    return problems, bad + wrong


def crawl_pass(spark, wl, out, expected, crawler, span=null_span):
    """Step 2 with a prepared Crawler; returns its time and problems."""
    t0 = time.monotonic()
    r = crawl_and_store(crawler, out, span)
    crawl_s = time.monotonic() - t0
    rows = [tuple(x) for x in spark.read.parquet(f"{out}/order")
            .select("superstep", "depth", "discovery_seq", "url").collect()]
    problems, failed = check_walk(wl, rows, out, expected)
    return {
        "result": r, "crawl_s": crawl_s,
        "fetched": sum(m["batch"] for m in r.metrics), "rows": rows,
        "problems": problems, "failed": failed,
    }


def untraced_path(workload: str) -> str:
    return os.path.join(WORK, f"untraced-{workload}.json")


def record_untraced(workload: str, crawl_s: float) -> None:
    """Keep the latest untraced crawl time for the traced run's overhead."""
    with open(untraced_path(workload), "w") as f:
        json.dump({"crawl_s": crawl_s}, f)


def untraced_crawl_s(workload: str) -> float:
    with open(untraced_path(workload)) as f:
        return json.load(f)["crawl_s"]


def ensure_untraced(args) -> None:
    """Before a traced run, make sure an untraced run of the workload has
    left its crawl time in the checkout; if none has, run one, in its own
    process so that its crawl is as cold as the traced one."""
    if os.path.exists(untraced_path(args.workload)):
        return
    subprocess.run(
        [sys.executable, os.path.abspath(__file__),
         "--workload", args.workload, "--seed", str(args.seed),
         "--seconds", str(args.seconds), "--trace", "0"],
        stdout=subprocess.DEVNULL, check=True, timeout=170)


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import walk_spark  # the program under test, from this checkout
        from perfbench import workloads
        wl = workloads.make(args.workload, args.seed)
        if not os.path.abspath(walk_spark.__file__).startswith(
                os.path.join(ROOT, "walk_spark", "")):
            raise ImportError(f"walk_spark comes from {walk_spark.__file__}")
    except (ImportError, KeyError) as e:
        print(f"perfbench: cannot run {args.workload!r}: {e!r}",
              file=sys.stderr)
        return 2
    if args.trace:
        ensure_untraced(args)
    work = os.path.join(WORK, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.pop("WALK_SPARK_TRACE", None)
    expected = wl.expected_order()

    spark = None
    try:
        t = time.monotonic()
        spark = make_session(work)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.monotonic() - t
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        if args.trace:
            from perfbench import layers
            metrics, problems, attempted, failed = layers.traced_run(
                spark, wl, work, expected, args.seconds)
        else:
            t = time.monotonic()
            _pages, crawler = prepare(spark, wl)
            prep_s = time.monotonic() - t
            passes, t0 = [], time.monotonic()
            while not passes or time.monotonic() < t0 + args.seconds:
                if passes:
                    _pages, crawler = prepare(spark, wl)
                passes.append(crawl_pass(
                    spark, wl, os.path.join(work, f"walk{len(passes)}"),
                    expected, crawler))
            crawl_s = statistics.median(p["crawl_s"] for p in passes)
            fetched = passes[0]["fetched"]
            problems = [x for p in passes for x in p["problems"]]
            failed = sum(p["failed"] for p in passes)
            attempted = sum(p["fetched"] for p in passes)
            print(f"perfbench: session {session_s:.1f}s prep {prep_s:.1f}s "
                  f"crawl " + " ".join(f"{p['crawl_s']:.1f}s" for p in passes),
                  file=sys.stderr)
            record_untraced(wl.name, passes[0]["crawl_s"])
            metrics = {
                "setup_s": (session_s + prep_s, "s"),
                "crawl_s": (crawl_s, "s"),
                "urls_per_s": (fetched / crawl_s, "urls/s"),
                "peak_rss_mb": (vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid),
                                "MB"),
                "ok_rate": (1.0 - failed / max(attempted, 1), "ratio"),
            }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    for p in problems:
        print(f"perfbench: {p}", file=sys.stderr)
    if problems:
        failed = max(failed, 1)
    print(json.dumps({
        "correct": not problems,
        "attempted": int(attempted),
        "failed": min(int(failed), int(attempted)),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
