"""Workload definitions and seeded input generation.

The synthetic web is the repo's own ``pyspider_spark.bench.webgen`` web
over a dense key table written here (``orders.parquet`` with
``o_orderkey`` 0..K-1, the only column webgen reads). The web does not
depend on ``--seed`` and is built once per checkout.

A run resumes a committed crawl: the preparation step crawls round 0
once per checkout from a fixed set of base seeds and keeps that state
as the run's starting snapshot. The seed picks, through a seeded
splitmix64 ranking of the keys outside the base set, what the run
injects into its first round: new seeds, or the cold mass of
never-due rows. The engine receives the generated parquet files and
nothing else.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pyspider_spark.bench.webgen import GEN_VERSION, T0

# bump to invalidate cached inputs when generation changes
INPUT_VERSION = 3
PROJECT = "bench"
BASE_SALT = 0x5EED  # ranking seed of the fixed round-0 seed set
# exetime of the cold mass: far past any round the benchmark runs
COLD_EXETIME = T0 + 1e8

SEED_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("project", pa.string()),
        ("priority", pa.int32()),
        ("exetime", pa.float64()),
        ("age", pa.float64()),
        ("itag", pa.string()),
        ("force_update", pa.bool_()),
        ("auto_recrawl", pa.bool_()),
        ("callback", pa.string()),
    ]
)


@dataclass(frozen=True)
class Workload:
    name: str
    keys: int  # pages in the web
    hosts: int
    page_words: int
    base_seeds: int  # fixed round-0 seeds of the snapshot a run resumes
    seeds: int  # seeded new seeds injected into the run's first round
    cold: int  # seeded never-due rows injected into the run's first round
    callback: str
    age: float
    auto_recrawl: bool
    http: bool  # fetch_stage="http" against the local web server
    round_cfg: dict = field(default_factory=dict)


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        # extraction-heavy discovery: spread seeds over 200-word pages;
        # per-host politeness caps every steady round at ~800 mostly
        # unseen URLs (README.md lists what each workload loads and bypasses)
        Workload(
            name="discover_dense",
            keys=40_000,
            hosts=200,
            page_words=200,
            base_seeds=600,
            seeds=200,
            cold=0,
            callback="index_page",
            age=-1.0,
            auto_recrawl=False,
            http=False,
            round_cfg=dict(rate=4.0, burst=4.0, analyze=True),
        ),
        # conditional HTTP re-crawl (304s after round 0) of a fixed seed
        # set, in the round that bulk-injects 10k never-due cold URLs
        Workload(
            name="recrawl_cold_http",
            keys=20_200,
            hosts=200,
            page_words=30,
            base_seeds=200,
            seeds=0,
            cold=10_000,
            callback="detail_page",
            age=1.0,  # one logical round (RoundConfig.dt)
            auto_recrawl=True,
            http=True,
            round_cfg=dict(rate=100.0, burst=100.0, analyze=False),
        ),
    )
}


def round_config(wl: Workload, transport: str | None = None, transport_arg: str | None = None):
    """The engine configuration of a workload; the oracle simulator
    runs with the same object."""
    from pyspider_spark.config import RoundConfig

    kw = dict(
        n_partitions=4,
        round_budget=None,
        pages_precanonical=True,  # webgen emits canonical urls
        **wl.round_cfg,
    )
    if wl.http:
        kw.update(fetch_stage="http", http_pool=1)  # <= cores requests in flight
        if transport:
            kw.update(http_transport=transport, http_transport_arg=transport_arg)
    return RoundConfig(**kw)


def _web_tag(wl: Workload) -> str:
    return f"g{GEN_VERSION}-i{INPUT_VERSION}-k{wl.keys}-h{wl.hosts}-w{wl.page_words}"


def web_dir(work: str, wl: Workload) -> str:
    return os.path.join(work, "web", _web_tag(wl))


def web_ready(work: str, wl: Workload) -> bool:
    return os.path.exists(os.path.join(web_dir(work, wl), "_DONE"))


def ensure_web(spark, work: str, wl: Workload) -> str:
    """pages/projects/robots plus a (k, url) key map, written once."""
    import pyspark.sql.functions as F

    from pyspider_spark.bench.webgen import _url_of, materialize

    out = web_dir(work, wl)
    if web_ready(work, wl):
        return out
    shutil.rmtree(out, ignore_errors=True)
    keys_dir = os.path.join(out, "keyspace")
    os.makedirs(keys_dir)
    pq.write_table(
        pa.table({"o_orderkey": pa.array(np.arange(wl.keys, dtype=np.int64))}),
        os.path.join(keys_dir, "orders.parquet"),
    )
    materialize(spark, keys_dir, out, n_hosts=wl.hosts, n_seeds=1, page_words=wl.page_words)
    (
        spark.range(wl.keys)
        .select(F.col("id").alias("k"), _url_of(F.col("id"), wl.hosts).alias("url"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(os.path.join(out, "keys.parquet"))
    )
    shutil.rmtree(os.path.join(out, "seeds.parquet"))  # webgen's prefix seeds are unused
    open(os.path.join(out, "_DONE"), "w").close()
    return out


def _rank(n: int, seed: int) -> np.ndarray:
    """Key order under a seeded splitmix64 hash (same seed, same order)."""
    mix = np.uint64((seed * 0x9E3779B97F4A7C15 + 0x632BE59BD9B4E019) & (2**64 - 1))
    with np.errstate(over="ignore"):
        x = np.arange(n, dtype=np.uint64) + mix
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        x = x ^ (x >> np.uint64(31))
    return np.argsort(x, kind="stable")


def _base_keys(wl: Workload) -> np.ndarray:
    return np.sort(_rank(wl.keys, BASE_SALT)[: wl.base_seeds])


def base_dir(work: str, wl: Workload) -> str:
    """Round-0 snapshot of the base seeds: ``state/`` plus ``round0.json``."""
    return os.path.join(work, "base", f"{wl.name}-{_web_tag(wl)}-b{wl.base_seeds}")


def base_ready(work: str, wl: Workload) -> bool:
    return os.path.exists(os.path.join(base_dir(work, wl), "_DONE"))


def inputs_dir(work: str, wl: Workload, seed: int) -> str:
    return os.path.join(work, "inputs", f"{wl.name}-{_web_tag(wl)}-b{wl.base_seeds}-s{seed}")


def _inject_table(wl: Workload, urls: np.ndarray, seed_k: np.ndarray, cold_k: np.ndarray) -> pa.Table:
    n_s, n_c = len(seed_k), len(cold_k)
    return pa.table(
        {
            "url": pa.array(list(urls[seed_k]) + list(urls[cold_k]), pa.string()),
            "project": pa.array([PROJECT] * (n_s + n_c), pa.string()),
            "priority": pa.array(np.concatenate([seed_k % 10, np.zeros(n_c, np.int64)]).astype(np.int32)),
            "exetime": pa.array([0.0] * n_s + [COLD_EXETIME] * n_c, pa.float64()),
            "age": pa.array([wl.age] * n_s + [-1.0] * n_c, pa.float64()),
            "itag": pa.array([None] * (n_s + n_c), pa.string()),
            "force_update": pa.array([False] * (n_s + n_c)),
            "auto_recrawl": pa.array([wl.auto_recrawl] * n_s + [False] * n_c),
            "callback": pa.array([wl.callback] * n_s + ["detail_page"] * n_c, pa.string()),
        },
        schema=SEED_SCHEMA,
    )


def _write(tbl: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tbl, path + ".tmp")
    os.replace(path + ".tmp", path)


def _urls(work: str, wl: Workload) -> np.ndarray:
    keys = pq.read_table(os.path.join(web_dir(work, wl), "keys.parquet")).sort_by("k")
    return keys.column("url").to_numpy(zero_copy_only=False)


def base_inject(work: str, wl: Workload) -> str:
    """The round-0 inject rows of the snapshot: the fixed base seeds."""
    path = os.path.join(base_dir(work, wl), "inject.parquet")
    if not os.path.exists(path):
        _write(_inject_table(wl, _urls(work, wl), _base_keys(wl), np.zeros(0, np.int64)), path)
    return path


def ensure_inputs(work: str, wl: Workload, seed: int) -> str:
    """The first resumed round's inject rows for a seed: new seeds and
    the cold mass, drawn from the keys outside the base set."""
    out = inputs_dir(work, wl, seed)
    path = os.path.join(out, "inject.parquet")
    if os.path.exists(path):
        return out
    order = _rank(wl.keys, seed)
    order = order[~np.isin(order, _base_keys(wl))]
    seed_k = np.sort(order[: wl.seeds])
    cold_k = np.sort(order[wl.seeds : wl.seeds + wl.cold])
    _write(_inject_table(wl, _urls(work, wl), seed_k, cold_k), path)
    return out
