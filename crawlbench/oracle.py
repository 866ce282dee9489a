"""Output check against the single-threaded oracle simulator.

The simulator (``pyspider_spark.oracle.simulator``) runs the same
round semantics on the same inputs in plain Python. Per round the
benchmark compares the counts ``scheduled/ok/failed/robots_blocked/
new_urls/frontier`` and a digest of the scheduled taskid set. The
simulator replays the whole crawl: round 0 from the base seeds (the
snapshot a run resumes), then the run's rounds, the first with the
seeded inject rows. Its side is cached per (workload, seed, rounds).
The benchmark runs it as a child process while the JVM starts:

    python3 crawlbench/oracle.py --work .crawlbench --workload NAME --seed N --rounds R
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

import pyarrow.dataset as ds
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crawlbench import workloads as W  # noqa: E402

COUNT_KEYS = ("scheduled", "ok", "failed", "robots_blocked", "new_urls", "frontier")


def digest(taskids) -> str:
    return hashlib.sha256("\n".join(sorted(taskids)).encode()).hexdigest()[:16]


def simulate(work: str, wl: W.Workload, inputs: str, rounds: int) -> list[dict]:
    """Per-round counts + schedule digest of the simulator, cached."""
    from pyspider_spark.oracle.simulator import Simulator

    path = os.path.join(inputs, f"oracle-r{rounds}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    web = W.web_dir(work, wl)
    pages_t = pq.read_table(os.path.join(web, "pages.parquet"), columns=["url", "html"])
    pages = dict(zip(pages_t.column("url").to_pylist(), pages_t.column("html").to_pylist()))
    robots = {
        r["host"]: r["robots_txt"]
        for r in pq.read_table(os.path.join(web, "robots.parquet")).to_pylist()
    }
    projects = {
        r["project"]: r
        for r in pq.read_table(os.path.join(web, "projects.parquet")).to_pylist()
    }
    inject = {
        0: pq.read_table(W.base_inject(work, wl)).to_pylist(),
        1: pq.read_table(os.path.join(inputs, "inject.parquet")).to_pylist(),
    }
    sim = Simulator(W.round_config(wl), pages, robots, projects)
    out = []
    for r in range(rounds):
        sched = sim.run_round(r, inject.get(r))
        m = {k: sim.state.metrics[-1][k] for k in COUNT_KEYS}
        m["digest"] = digest(t.taskid for t in sched if t.project == W.PROJECT)
        out.append(m)
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


def engine_rounds(state: str, metrics: list[dict]) -> list[dict]:
    """The engine side in the oracle's shape: counts from run_round's
    return value, digest from the round's written schedule table."""
    out = []
    for m in metrics:
        d = os.path.join(state, "rounds", f"r{m['round']:06d}", "schedule")
        ids = ds.dataset(d, format="parquet").to_table(columns=["taskid"]).column("taskid")
        row = {k: int(m[k]) for k in COUNT_KEYS}
        row["digest"] = digest(ids.to_pylist())
        out.append(row)
    return out


def mismatches(engine: list[dict], oracle: list[dict]) -> list[str]:
    """Human-readable differences; empty when the crawl matches."""
    bad = []
    if len(oracle) < len(engine):
        return [f"oracle has {len(oracle)} rounds, engine ran {len(engine)}"]
    for r, (e, o) in enumerate(zip(engine, oracle)):
        for k in (*COUNT_KEYS, "digest"):
            if e[k] != o[k]:
                bad.append(f"round {r} {k}: engine {e[k]} != oracle {o[k]}")
    return bad


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--work", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rounds", type=int, required=True)
    a = ap.parse_args()
    wl = W.WORKLOADS[a.workload]
    simulate(a.work, wl, W.inputs_dir(a.work, wl, a.seed), a.rounds)
