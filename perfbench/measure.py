"""Warm-up, timed rounds, checks and the metrics of one benchmark run."""

from __future__ import annotations

import gc
import os
import statistics
import sys
import time

import crawl
import procstat
import queries
from spans import JobCounter, Tracer

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

E2E_UNITS = {"setup_s": "s", "run_s": "s", "cpu_s": "s", "peak_rss_mb": "MB", "op_s": "s"}


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


# ------------------------------------------------------------ the run
def measure(spark, args, tmp: str, t_proc: float, session_s: float, nproc: int) -> dict:
    crawl.setup_paths(ROOT)
    queries.setup_paths(ROOT)
    workload = args.workload
    sf_dir = queries.data_dir(BENCH_DIR)
    rows = crawl.rows_for(args.seed) if workload == "crawl_waves" else None

    def prepare(n: int) -> None:
        """Untimed work before round n; before round 0 it is the warm-up."""
        if workload == "crawl_waves":
            crawl.start(spark, rows, os.path.join(tmp, f"ckpt-{n}"))
        elif n == 0:
            queries.run_round(spark, sf_dir)

    t_warm = time.perf_counter()
    prepare(0)
    _log(f"session {session_s:.1f}s, warm-up {time.perf_counter() - t_warm:.1f}s")

    tracer = Tracer(JobCounter(spark)) if args.trace else None
    if tracer is not None:
        _patch(tracer)

    rounds = []
    measured = 0.0
    while True:
        n = len(rounds)
        if n:
            prepare(n)
        # every round starts from collected heaps, so the memory peak is
        # the round's own and not the leftover of what ran before it
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        if not n:
            setup_s = time.time() - t_proc
        cpu0 = procstat.cpu_by_role()
        job0 = tracer.jobs.max_job_id() if tracer else -1
        t0 = time.perf_counter()
        with procstat.RssSampler() as rss:
            if workload == "crawl_waves":
                res = crawl.run_round(spark, rows, os.path.join(tmp, f"ckpt-{n}"), tracer)
            else:
                res = queries.run_round(spark, sf_dir, tracer)
        run_s = time.perf_counter() - t0
        cpu1 = procstat.cpu_by_role()
        rounds.append({
            "res": res,
            "run_s": run_s,
            "cpu": {k: cpu1[k] - cpu0[k] for k in cpu0},
            "rss": rss.peak,
            "jobs": (job0, tracer.jobs.max_job_id()) if tracer else None,
        })
        measured += run_s
        # a traced run times one round: its spans are the per-layer record
        if tracer is not None or measured >= args.seconds:
            break
    if tracer is not None:
        tracer.unpatch()

    _log(f"{len(rounds)} timed round(s): " + ", ".join(f"{r['run_s']:.1f}s" for r in rounds))
    if workload == "query_mix":
        _log("legs: " + ", ".join(f"{k} {v['s']:.2f}s" for k, v in rounds[0]["res"].items()))

    # ---- checks, outside the timed section
    t_check = time.perf_counter()
    attempted = failed = 0
    correct = True
    for r in rounds:
        res = r["res"]
        if workload == "crawl_waves":
            n_ops = crawl.WAVES + len(crawl.REPORTS)
            verdict = crawl.check_round(spark, rows, res, args.perturb) if "store" in res else {}
        else:
            n_ops = len(queries.LEGS)
            verdict = queries.check_round(sf_dir, res, args.perturb)
        attempted += n_ops
        failed += n_ops - sum(verdict.values())
        bad = sorted(k for k, ok in verdict.items() if not ok)
        if bad:
            correct = False
            _log(f"check failed: {bad}")
        errors = _errors(res)
        if errors:
            _log(f"operations raised: {errors}")
        r["summary"] = (crawl.summarize if workload == "crawl_waves" else queries.summarize)(res)

    _log(f"checks {time.perf_counter() - t_check:.1f}s")
    if tracer is None:
        metrics = {
            "setup_s": setup_s,
            "run_s": _med([r["run_s"] for r in rounds]),
            "cpu_s": _med([sum(r["cpu"].values()) for r in rounds]),
            "peak_rss_mb": _med([r["rss"] for r in rounds]) / 2**20,
            "op_s": _med([t for r in rounds for t in r["summary"]["op_times"]]),
        }
        units = E2E_UNITS
    else:
        metrics, units = _per_layer(tracer, workload, rounds, session_s)
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        tracer.dump(
            os.path.join(out, f"trace-{workload}-seed{args.seed}.json"),
            workload=workload, seed=args.seed, nproc=nproc, metrics=metrics,
        )
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def _errors(res: dict) -> list[str]:
    if "crawl_error" in res:
        errs = [res["crawl_error"]] if res["crawl_error"] else []
        return errs + [v["error"] for v in res["reports"].values() if "error" in v]
    return [f"{k}: {v['error']}" for k, v in res.items() if "error" in v]


# ------------------------------------------------------------ tracing
def _patch(tracer: Tracer) -> None:
    """Wrap the calls the crawl loop and the reports make into each layer,
    where the caller looks them up."""
    from amazonwebcrawler_spark.plans import crawler
    from amazonwebcrawler_spark.sources.state_store import StateStore

    def on_expand(sp, args, out):
        sp["new_urls"] = int(out[1])

    def on_commit(sp, args, out):
        store, wave = args[0], args[1]
        sp["job_hi"] = tracer.jobs.max_job_id()
        man = crawl.manifests(store.root)[wave]
        files = size = 0
        for path in man["tables"].values():
            for dp, _dns, fns in os.walk(path):
                for fn in fns:
                    if fn.endswith(".parquet"):
                        files += 1
                        size += os.path.getsize(os.path.join(dp, fn))
        sp["files_written"], sp["bytes_written"] = files, size

    def on_load(sp, args, out):
        parent = tracer.spans[sp["parent"]] if sp["parent"] is not None else None
        if out is not None and parent is not None and parent["name"].startswith("reports."):
            sp["files_read"] = len(out.inputFiles())

    tracer.patch(crawler.CrawlEngine, "_run_wave", "crawler.wave", wave_arg=1)
    tracer.patch(crawler.CrawlEngine, "run", "crawler.run")
    tracer.patch(crawler, "assign_discovery_seq", "politeness.assign_discovery_seq", after=on_expand)
    tracer.patch(StateStore, "commit_wave", "state_store.commit_wave", after=on_commit, wave_arg=1)
    for name in ("load_deltas", "load_shard_state", "load_snapshot"):
        tracer.patch(StateStore, name, "state_store.load", after=on_load)


def _kernel_rates(store) -> dict[str, float]:
    """Per-item rates of the row kernels, called directly on this round's
    data: Bloom probe and merge over the seen URLs against the final shard
    state, ``synthetic_world.fetch`` over the fetched URLs and image
    decode + phash over the fetched detail images."""
    from amazonwebcrawler_spark.functions.images import decode_image, phash64
    from amazonwebcrawler_spark.operators import bloom
    from amazonwebcrawler_spark.sources import synthetic_world as world

    cfg = crawl.config(store.root, crawl.WAVES).bloom
    keyed = bloom.with_bloom_keys(
        store.load_deltas("seen").select("canonical_url"), "canonical_url", cfg
    ).persist()
    shards = store.load_shard_state().persist()
    n = keyed.count()
    shards.count()

    def rate(n_items: int, fn) -> float:
        t = time.perf_counter()
        fn()
        return n_items / (time.perf_counter() - t)

    out = {
        "bloom.probe_per_s": rate(
            n, lambda: bloom.probe_shards(keyed, shards, cfg).write.format("noop").mode("overwrite").save()
        ),
        "bloom.merge_per_s": rate(
            n, lambda: bloom.merge_into_shards(keyed, shards, cfg).write.format("noop").mode("overwrite").save()
        ),
    }
    keyed.unpersist()
    shards.unpersist()
    urls = [r["canonical_url"] for r in store.load_deltas("lineage").filter("status = 200").collect()]
    out["synthetic_world.fetch_per_s"] = rate(len(urls), lambda: [world.fetch(u) for u in urls])
    blobs = [bytes(r["bytes"]) for r in store.load_deltas("images").select("bytes").collect()]
    out["images.decode_per_s"] = rate(len(blobs), lambda: [phash64(decode_image(b)) for b in blobs])
    return out


CRAWL_LAYERS = {
    "crawler.waves": "count",
    "crawler.fetches": "count",
    "crawler.retries": "count",
    "crawler.urls_per_s": "1/s",
    "crawler.wave_jobs": "count",
    "crawler.wave_tasks": "count",
    "crawler.other_pct": "%",
    "crawler.resume_pct": "%",
    "politeness.expand_pct": "%",
    "politeness.expand_jobs": "count",
    "politeness.expand_tasks": "count",
    "politeness.new_urls": "count",
    "state_store.commit_pct": "%",
    "state_store.commit_jobs": "count",
    "state_store.files_written": "count",
    "state_store.bytes_written": "B",
    "state_store.load_pct": "%",
    "state_store.files_read": "count",
    "bloom.probe_per_s": "1/s",
    "bloom.merge_per_s": "1/s",
    "bloom.new_per_fetch": "ratio",
    "synthetic_world.fetch_per_s": "1/s",
    "images.decode_per_s": "1/s",
    **{f"reports.{r}_pct": "%" for r in crawl.REPORTS},
    "reports.jobs": "count",
}
QUERY_LAYERS = {
    **{f"query.{leg}_pct": "%" for leg in queries.LEGS},
    **{f"query.{leg}_jobs": "count" for leg in queries.LEGS},
}
COMMON_LAYERS = {
    "session.start_s": "s",
    "trace.run_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "cpu.python_s": "s",
    "cpu.jvm_s": "s",
    "cpu.workers_s": "s",
}
LAYER_UNITS = {**COMMON_LAYERS, **CRAWL_LAYERS, **QUERY_LAYERS}


def _per_layer(tracer: Tracer, workload: str, rounds: list[dict], session_s: float):
    """Per-layer metrics of the first round. Times of layers one workload
    does not call are shares of the traced section, so that they read 0
    there rather than as a time."""
    r = rounds[0]
    lo, hi = r["jobs"]
    run_s = r["run_s"]
    m = {k: 0.0 for k in LAYER_UNITS}
    m.update({
        "session.start_s": session_s,
        "trace.run_s": run_s,
        "spark.jobs": hi - lo,
        "spark.tasks": tracer.jobs.tasks(lo, hi),
        "cpu.python_s": r["cpu"]["python"],
        "cpu.jvm_s": r["cpu"]["jvm"],
        "cpu.workers_s": r["cpu"]["workers"],
    })

    def pct(spans, self_time=False) -> float:
        t = sum(tracer.self_time(s) if self_time else s["end"] - s["start"] for s in spans)
        return 100.0 * t / run_s

    if workload == "query_mix":
        for leg in queries.LEGS:
            sp = tracer.named(f"query.{leg}")[0]
            m[f"query.{leg}_pct"] = pct([sp])
            m[f"query.{leg}_jobs"] = sp["jobs"]
        return m, LAYER_UNITS

    res = r["res"]
    if "store" not in res:
        return m, LAYER_UNITS  # the crawl raised; its operations count as failed
    store = res["store"]
    waves = tracer.named("crawler.wave")
    expands = tracer.named("politeness.assign_discovery_seq")
    commits = tracer.named("state_store.commit_wave")
    # jobs and tasks between consecutive commits (the first timed wave
    # counts from the start of the round, so it carries the resume)
    anchors = [lo] + [c["job_hi"] for c in commits]
    between = list(zip(anchors, anchors[1:]))
    lineage = (
        store.load_deltas("lineage")
        .filter(f"wave >= {crawl.RESUME_AT}")  # the timed round's waves
        .groupBy("status")
        .count()
        .collect()
    )
    fetches = sum(x["count"] for x in lineage)
    new_urls = sum(e["new_urls"] for e in expands)
    resume = tracer.named("crawler.run")[0]
    resume_s = min(e["start"] for e in expands) - resume["start"] if expands else 0.0
    report_spans = {rep: tracer.named(f"reports.{rep}_report")[0] for rep in crawl.REPORTS}
    m.update({
        "crawler.waves": len(waves),
        "crawler.fetches": fetches,
        "crawler.retries": sum(x["count"] for x in lineage if x["status"] == -1),
        "crawler.urls_per_s": fetches / res["crawl_s"],
        "crawler.wave_jobs": _med([b - a for a, b in between]),
        "crawler.wave_tasks": _med([tracer.jobs.tasks(a, b) for a, b in between]),
        "crawler.other_pct": pct(waves, self_time=True),
        "crawler.resume_pct": 100.0 * resume_s / run_s,
        "politeness.expand_pct": pct(expands),
        "politeness.expand_jobs": _med([e["jobs"] for e in expands]),
        "politeness.expand_tasks": _med([e["tasks"] for e in expands]),
        "politeness.new_urls": new_urls,
        "state_store.commit_pct": pct(commits),
        "state_store.commit_jobs": _med([c["jobs"] for c in commits]),
        "state_store.files_written": _med([c["files_written"] for c in commits]),
        "state_store.bytes_written": _med([c["bytes_written"] for c in commits]),
        "state_store.load_pct": pct(tracer.named("state_store.load")),
        "state_store.files_read": sum(s.get("files_read", 0) for s in tracer.named("state_store.load")),
        "bloom.new_per_fetch": new_urls / fetches,
        "reports.jobs": sum(s["jobs"] for s in report_spans.values()),
        **{f"reports.{rep}_pct": pct([s], self_time=True) for rep, s in report_spans.items()},
    })
    m.update(_kernel_rates(store))
    return m, LAYER_UNITS
