"""Traced run: spans and per-layer metrics, measured from outside.

Spans are kept in memory and written when the run ends:
run -> setup -> round r -> phase -> Spark stages, plus the kernel probe
calls. Engine functions return lazy DataFrames, so phase spans are
rebuilt from each round's start time and the ``phase_s`` that
``run_round`` returns, and Spark stage metrics (UI REST API) are
bucketed into phases by stage submission time. Only eager kernels are
timed by direct calls, on the workload's own URLs and pages.
"""

from __future__ import annotations

import datetime
import glob
import json
import os
import statistics
import time
import urllib.request

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

PHASES = ("normalize_probe", "merge", "schedule", "fetch_settle", "frontier_write", "sinks_commit")
SPARK_FIELDS = {
    "jobs": "count",
    "tasks": "count",
    "busy_s": "s",
    "parallel_frac": "fraction",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
    "gc_s": "s",
}
LOWER, HIGHER = "lower", "higher"

# name -> (unit, better); every traced run reports every name
PER_LAYER: dict[str, tuple[str, str]] = {
    **{f"round.{p}_s": ("s", LOWER) for p in PHASES},
    **{
        f"spark.{p}.{f}": (u, HIGHER if f == "parallel_frac" else LOWER)
        for p in PHASES
        for f, u in SPARK_FIELDS.items()
    },
    "canon.urls_per_s": ("URL/s", HIGHER),
    "bloom.add_keys_per_s": ("key/s", HIGHER),
    "bloom.probe_keys_per_s": ("key/s", HIGHER),
    "bloom.fpr": ("fraction", LOWER),
    "cuckoo.insert_keys_per_s": ("key/s", HIGHER),
    "cuckoo.probe_keys_per_s": ("key/s", HIGHER),
    "seen.new_ratio": ("fraction", HIGHER),
    "fetchx.extract_pages_per_s": ("page/s", HIGHER),
    "fetchx.analyze_pages_per_s": ("page/s", HIGHER),
    "fetch_http.req_p50_ms": ("ms", LOWER),
    "fetch_http.req_p99_ms": ("ms", LOWER),
    "fetch_http.req_samples": ("count", HIGHER),
    "fetch_http.reqs_per_conn": ("count", HIGHER),
    "fetch_http.not_modified_ratio": ("fraction", HIGHER),
    "fetch_http.errors": ("count", LOWER),
    "politeness.robots_blocked": ("count", LOWER),
    "politeness.hot_host_share": ("fraction", LOWER),
    "frontier.rows": ("count", LOWER),
    "frontier.delta_rows": ("count", LOWER),
    "frontier.compacted_pids": ("count", LOWER),
    "frontier.written_mb": ("MB", LOWER),
    "state.frontier_mb": ("MB", LOWER),
    "state.blobs_mb": ("MB", LOWER),
    "state.sinks_mb": ("MB", LOWER),
    "setup.jvm_cold_s": ("s", LOWER),
    "host.steal_frac": ("fraction", LOWER),
    "host.load1": ("load", LOWER),
    "trace.steady_urls_per_s": ("URL/s", HIGHER),
    "trace.overhead_frac": ("fraction", LOWER),
}
HOT_HOST = "host0.example"
PROBE_MIN_S = 0.3  # each kernel probe repeats until this much time


class Spans:
    def __init__(self):
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        self.spans.append(
            {"id": len(self.spans), "parent": parent, "name": name, "start": start, "end": end, **attrs}
        )
        return len(self.spans) - 1

    def open(self, name: str, parent: int | None = None, **attrs) -> int:
        return self.add(name, time.time(), None, parent, **attrs)

    def close(self, sid: int) -> None:
        self.spans[sid]["end"] = time.time()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


def _timed(fn, spans: Spans, name: str, parent: int, n_items: int) -> float:
    """Items per second of ``fn()``, repeated for at least PROBE_MIN_S."""
    t0 = time.time()
    reps = 0
    while True:
        fn()
        reps += 1
        if time.time() - t0 >= PROBE_MIN_S:
            break
    t1 = time.time()
    spans.add(name, t0, t1, parent, items=n_items * reps)
    return n_items * reps / (t1 - t0)


def _latencies(run_dir: str) -> list[float]:
    vals = []
    for p in glob.glob(os.path.join(run_dir, "http-*.txt")):
        with open(p) as f:
            vals.extend(float(x) for x in f.read().split())
    return sorted(vals)


def _pct(vals: list[float], q: float) -> float:
    if not vals:
        return 0.0
    return vals[min(len(vals) - 1, int(q * len(vals)))]


def _rest(spark, path: str):
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    direct = urllib.request.build_opener(urllib.request.ProxyHandler({}))  # never via the crawl proxy
    with direct.open(url, timeout=30) as r:
        return json.load(r)


def _epoch(s: str) -> float:
    return datetime.datetime.strptime(s.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _spark_phases(spark, spans, intervals, cores) -> dict[str, float]:
    """spark.<phase>.* summed over steady rounds; stages become spans."""
    jobs = _rest(spark, "jobs")
    stages = _rest(spark, "stages?status=complete")
    acc = {p: dict.fromkeys(SPARK_FIELDS, 0.0) for p in PHASES}
    wall = dict.fromkeys(PHASES, 0.0)

    def where(ts: float):
        for r, phase, a, b, sid in intervals:
            if a <= ts <= b:
                return r, phase, sid
        return None

    for r, phase, a, b, _sid in intervals:
        if r >= 1:
            wall[phase] += b - a
    for j in jobs:
        hit = where(_epoch(j["submissionTime"])) if "submissionTime" in j else None
        if hit and hit[0] >= 1:
            acc[hit[1]]["jobs"] += 1
    for s in stages:
        if "submissionTime" not in s:
            continue
        sub = _epoch(s["submissionTime"])
        hit = where(sub)
        if hit is None:
            continue
        end = _epoch(s["completionTime"]) if "completionTime" in s else sub
        spans.add(
            f"stage {s['stageId']}", sub, end, hit[2],
            tasks=s.get("numTasks", 0), busy_ms=s.get("executorRunTime", 0),
        )
        if hit[0] < 1:
            continue
        a = acc[hit[1]]
        a["tasks"] += s.get("numTasks", 0)
        a["busy_s"] += s.get("executorRunTime", 0) / 1000.0
        a["shuffle_mb"] += s.get("shuffleWriteBytes", 0) / 1e6
        a["spill_mb"] += s.get("diskBytesSpilled", 0) / 1e6
        a["gc_s"] += s.get("jvmGcTime", 0) / 1000.0
    out = {}
    for p in PHASES:
        acc[p]["parallel_frac"] = acc[p]["busy_s"] / (wall[p] * cores) if wall[p] > 0 else 0.0
        for f in SPARK_FIELDS:
            out[f"spark.{p}.{f}"] = acc[p][f]
    return out


def _kernels(spans, parent, cfg, urls: list[str], pages) -> dict[str, float]:
    import numpy as np
    import pandas as pd

    from pyspider_spark.engine.fetchx import analyze_udf, extract_udf
    from pyspider_spark.kernels.bloom import BloomFilter, bloom_params
    from pyspider_spark.kernels.canon import canonicalize_series, taskid_series
    from pyspider_spark.kernels.cuckoo import CuckooFilter

    out = {}
    s = pd.Series(urls, dtype=object)
    out["canon.urls_per_s"] = _timed(
        lambda: taskid_series(canonicalize_series(s)), spans, "kernels.canon", parent, len(s)
    )
    ids = sorted(set(taskid_series(canonicalize_series(s)).tolist()))
    ins, probe = ids[0::2], ids[1::2]
    m, k = bloom_params(len(ins), cfg.bloom_target_fpr)

    def bloom_add():
        BloomFilter(m, k).add_many(ins)

    out["bloom.add_keys_per_s"] = _timed(bloom_add, spans, "kernels.bloom.add", parent, len(ins))
    bf = BloomFilter(m, k)
    bf.add_many(ins)
    out["bloom.probe_keys_per_s"] = _timed(
        lambda: bf.contains_many(probe), spans, "kernels.bloom.probe", parent, len(probe)
    )
    out["bloom.fpr"] = float(np.mean(bf.contains_many(probe))) if probe else 0.0
    n_cuckoo = min(len(ins), cfg.cuckoo_buckets * 2)  # half the slots: no kick storms

    def cuckoo_insert():
        cf = CuckooFilter(cfg.cuckoo_buckets)
        for t in ins[:n_cuckoo]:
            cf.insert(t)
        return cf

    out["cuckoo.insert_keys_per_s"] = _timed(cuckoo_insert, spans, "kernels.cuckoo.insert", parent, n_cuckoo)
    cf = cuckoo_insert()
    out["cuckoo.probe_keys_per_s"] = _timed(
        lambda: cf.contains_many(probe), spans, "kernels.cuckoo.probe", parent, len(probe)
    )
    html = pd.Series(pages.column("html").to_pylist(), dtype=object)
    purl = pd.Series(pages.column("url").to_pylist(), dtype=object)
    out["fetchx.extract_pages_per_s"] = _timed(
        lambda: extract_udf.func(html, purl), spans, "engine.fetchx.extract", parent, len(html)
    )
    text = extract_udf.func(html, purl)["text"]
    out["fetchx.analyze_pages_per_s"] = _timed(
        lambda: analyze_udf.func(text), spans, "engine.fetchx.analyze", parent, len(text)
    )
    return out


def _rows(path: str) -> int:
    return ds.dataset(path, format="parquet").count_rows() if os.path.isdir(path) else 0


def _state(state: str, metrics: list[dict]) -> dict[str, float]:
    """Layer figures of the state after the crawl; ``metrics`` holds
    every round, the snapshot's round 0 first."""
    from crawlbench.probes import du_bytes

    rd = lambda r: os.path.join(state, "rounds", f"r{r:06d}")  # noqa: E731
    with open(os.path.join(state, "manifest.json")) as f:
        man = json.load(f)
    lin = man.get("lineage", {})
    compacted, written, fr_mb, blobs_mb = 0, 0, 0, 0
    for m in metrics:
        r = m["round"]
        with open(os.path.join(rd(r), "manifest.json")) as f:
            if r >= 1:
                compacted += len(json.load(f).get("lineage", {}).get("compacted_pids", []))
        for d in os.listdir(rd(r)):
            size = du_bytes(os.path.join(rd(r), d))
            if d.startswith("frontier"):
                fr_mb += size
                written += size if r >= 1 else 0
            elif d in ("blobs_tbl", "probe"):
                blobs_mb += size
    total = du_bytes(state)
    steady = metrics[1:]
    offered = sum(_rows(os.path.join(rd(m["round"] - 1), "follows")) for m in steady)
    sched = hot = 0
    for m in steady:
        hosts = ds.dataset(os.path.join(rd(m["round"]), "schedule"), format="parquet").to_table(columns=["host"])
        sched += hosts.num_rows
        hot += sum(1 for h in hosts.column("host").to_pylist() if h == HOT_HOST)
    return {
        "seen.new_ratio": sum(m["new_urls"] for m in steady) / offered if offered else 0.0,
        "politeness.robots_blocked": float(sum(m["robots_blocked"] for m in steady)),
        "politeness.hot_host_share": hot / sched if sched else 0.0,
        "frontier.rows": float(metrics[-1]["frontier"]),
        "frontier.delta_rows": float(sum((lin.get("frontier_delta_rows") or {}).values())),
        "frontier.compacted_pids": float(compacted),
        "frontier.written_mb": written / 1e6,
        "state.frontier_mb": fr_mb / 1e6,
        "state.blobs_mb": blobs_mb / 1e6,
        "state.sinks_mb": (total - fr_mb - blobs_mb) / 1e6,
    }


def _probe_inputs(wl, state, web, inputs, metrics):
    """The workload's own follow URLs (its inject URLs when it follows
    nothing) and the pages its last round scheduled."""
    last = os.path.join(state, "rounds", f"r{metrics[-1]['round']:06d}")
    urls = []
    if _rows(os.path.join(last, "follows")):
        urls = ds.dataset(os.path.join(last, "follows"), format="parquet").to_table(columns=["url"]).column("url").to_pylist()
    if not urls:
        urls = pq.read_table(os.path.join(inputs, "inject.parquet"), columns=["url"]).column("url").to_pylist()
    sched = set(
        ds.dataset(os.path.join(last, "schedule"), format="parquet").to_table(columns=["canon_url"]).column("canon_url").to_pylist()
    )
    pages = pq.read_table(os.path.join(web, "pages.parquet"), columns=["url", "html"])
    pages = pages.filter(pc.is_in(pages.column("url"), value_set=pa.array(sorted(sched))))
    return urls[:20_000], pages.slice(0, 2000)  # 2000 = the engine's Arrow batch


def collect(*, spark, spans, run_span, wl, cfg, cores, state, web, inputs, run_dir, crawl,
            walls, starts, web_stats, sampler, jvm_cold_s, history) -> dict[str, float]:
    """Per-layer metrics; ``crawl`` holds every round's metrics (the
    snapshot's round 0 first), ``walls``/``starts`` the run's rounds."""
    out = dict.fromkeys(PER_LAYER, 0.0)
    intervals = []
    for m, w, t0 in zip(crawl[1:], walls, starts):
        rs = spans.add(f"round {m['round']}", t0, t0 + w, run_span, scheduled=m["scheduled"])
        t = t0
        for phase, d in m["phase_s"].items():
            ps = spans.add(f"phase {phase}", t, t + d, rs)
            intervals.append((m["round"], phase, t, t + d, ps))
            t += d
            if phase in PHASES:
                out[f"round.{phase}_s"] += d
    out.update(_spark_phases(spark, spans, intervals, cores))
    urls, pages = _probe_inputs(wl, state, web, inputs, crawl)
    kspan = spans.open("kernel probes", run_span)
    out.update(_kernels(spans, kspan, cfg, urls, pages))
    spans.close(kspan)
    out.update(_state(state, crawl))
    if wl.http:
        lat = _latencies(run_dir)
        page_reqs = web_stats.get("ok", 0) + web_stats.get("not_modified", 0)
        out.update({
            "fetch_http.req_p50_ms": _pct(lat, 0.50),
            "fetch_http.req_p99_ms": _pct(lat, 0.99),
            "fetch_http.req_samples": float(len(lat)),
            "fetch_http.reqs_per_conn": web_stats.get("requests", 0) / max(1, web_stats.get("connections", 0)),
            "fetch_http.not_modified_ratio": web_stats.get("not_modified", 0) / page_reqs if page_reqs else 0.0,
            "fetch_http.errors": float(web_stats.get("errors", 0)),
        })
    traced = sum(m["scheduled"] for m in crawl[1:]) / sum(walls)
    untraced = []
    if os.path.exists(history):
        with open(history) as f:
            rows = [json.loads(x) for x in f]
        untraced = [h["steady_urls_per_s"] for h in rows if h["workload"] == wl.name]
    out.update({
        "setup.jvm_cold_s": jvm_cold_s,
        "host.steal_frac": sampler.steal_frac,
        "host.load1": sampler.load1,
        # throughput lost to tracing against the untraced runs' median
        "trace.steady_urls_per_s": traced,
        "trace.overhead_frac": statistics.median(untraced) / traced - 1.0 if untraced else 0.0,
    })
    return out
