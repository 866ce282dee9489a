#!/usr/bin/env python3
"""Crawl-round benchmark of ``CrawlEngine.run_rounds``.

    python3 crawlbench/run.py --workload discover_dense --seed 1 --seconds 10 --trace 0

One run resumes a committed crawl in a new process, as a crawl job
does: copy the workload's round-0 snapshot (built once per checkout by
the preparation step), start a fresh ``local[nproc]`` Spark session and
engine several times (``setup_s`` is their median), then run steady
rounds until ``--seconds`` of round time have passed (at least one).
The first of them injects the seeded rows. The whole crawl, round 0
included, is checked against the oracle simulator. The last stdout
line is the result JSON; everything else goes to stderr. ``--trace 1``
reports the per-layer metrics instead and writes the span file. See
README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".crawlbench")
HEAP = "1g"  # fixed driver heap: local mode hosts every executor thread
CDS = os.path.join(WORK, "spark-classes.jsa")
SETUP_SAMPLES = 3
ORACLE_ROUNDS = 2  # simulated ahead of the crawl; extended if more rounds run
MAX_ROUNDS = 8

END_TO_END = {
    "steady_urls_per_s": "URL/s",
    "setup_s": "s",
    "cpu_s_per_kurl": "CPU-s/kURL",
    "state_mb": "MB",
    "peak_rss_mb": "MB",
    "success_ratio": "fraction",
}


def _prepare_env(trace: bool, dump_classes: bool = False) -> None:
    """Pin everything the run writes inside the checkout and make the
    engine importable by the Spark Python workers. Must run before
    pyspark starts the JVM, which inherits this environment.

    The JVM maps a class-data-sharing archive of Spark's classes that
    the one-time preparation step dumps into the work dir (it needs a
    classpath free of non-empty directories, hence the empty conf dir);
    without it every run would re-pay class loading and verification."""
    tmp = os.path.join(WORK, "tmp")
    conf = os.path.join(WORK, "spark-conf")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(conf, exist_ok=True)
    cds = ("-XX:ArchiveClassesAtExit=" if dump_classes else "-XX:SharedArchiveFile=") + CDS
    old_pp = os.environ.get("PYTHONPATH")
    os.environ.update(
        TMPDIR=tmp,
        SPARK_CONF_DIR=conf,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        SPARK_DRIVER_MEM=HEAP,
        PYTHONPATH=ROOT + (os.pathsep + old_pp if old_pp else ""),
        SPARK_GRAFT_CONF=";".join(
            [
                f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
                f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} {cds} -Xlog:cds=off -Xlog:cds+dynamic=off",
            ]
        ),
    )
    if trace:
        os.environ["SPARK_GRAFT_UI"] = "1"  # stage metrics via the UI REST API
    else:
        os.environ.pop("SPARK_GRAFT_UI", None)
    for k in ("http_proxy", "https_proxy", "all_proxy", "no_proxy"):
        os.environ.pop(k, None)
        os.environ.pop(k.upper(), None)
    import tempfile

    tempfile.tempdir = tmp


def _prepare(dump_classes: bool) -> None:
    """Child-process entry, once per checkout: build every workload's
    seed-independent web, then crawl its round 0 from the base seeds
    into the snapshot that runs resume. The rounds run in a second JVM
    started with the crawl proxy in its environment (the Python workers
    inherit it), and the class archive that JVM dumps at exit covers
    the Spark classes a round loads."""
    from crawlbench import workloads as W

    # a new class archive must see the base rounds, so it rebuilds them
    todo = [wl for wl in W.WORKLOADS.values() if dump_classes or not W.base_ready(WORK, wl)]
    if any(not W.web_ready(WORK, wl) for wl in W.WORKLOADS.values()):
        spark = _start_session("crawlbench_web")
        for wl in W.WORKLOADS.values():
            W.ensure_web(spark, WORK, wl)
        _stop_spark(spark)
    _prepare_env(False, dump_classes)
    servers = {}
    try:
        for wl in todo:
            os.makedirs(W.base_dir(WORK, wl), exist_ok=True)
            if wl.http:
                servers[wl.name] = server = WebServer(W.web_dir(WORK, wl), W.base_dir(WORK, wl))
                os.environ["http_proxy"] = f"http://127.0.0.1:{server.port}"
        spark = _start_session("crawlbench_base")
        for wl in todo:
            base = W.base_dir(WORK, wl)
            state = os.path.join(base, "state")
            shutil.rmtree(state, ignore_errors=True)
            inject = spark.read.parquet(W.base_inject(WORK, wl))
            m = _engine(spark, state, W.round_config(wl), W.web_dir(WORK, wl)).run_round(0, inject)
            with open(os.path.join(base, "round0.json"), "w") as f:
                json.dump(m, f)
            open(os.path.join(base, "_DONE"), "w").close()
        _stop_spark(spark, timeout=600)  # the archive is written as the JVM exits
    finally:
        for server in servers.values():
            server.stop()


def _start_session(app_name: str):
    """``get_spark`` on ``local[nproc]``. A JVM launch is tried once more
    when the JVM exits before py4j connects to it, which a loaded 4-vCPU
    host showed about once in 60 launches; nothing is measured until a
    session exists."""
    from pyspark.errors import PySparkRuntimeError

    from pyspider_spark.engine.session import get_spark

    try:
        return get_spark(cores=_cores(), shuffle_partitions=_cores(), app_name=app_name)
    except PySparkRuntimeError as e:
        if e.getCondition() != "JAVA_GATEWAY_EXITED":
            raise
        print("the JVM exited before connecting; launching it again", file=sys.stderr)
        return get_spark(cores=_cores(), shuffle_partitions=_cores(), app_name=app_name)


def _engine(spark, state: str, cfg, web: str):
    from pyspider_spark.engine.round import CrawlEngine

    return CrawlEngine(
        spark, state, cfg,
        pages_path=os.path.join(web, "pages.parquet"),
        projects_path=os.path.join(web, "projects.parquet"),
        robots_path=os.path.join(web, "robots.parquet"),
    )


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _stop_spark(spark, timeout: float = 60) -> None:
    """Stop the session, then the py4j JVM it runs in, and wait."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class WebServer:
    """The HTTP workload's web, as a separate single-threaded process."""

    def __init__(self, web: str, run_dir: str):
        self.port_file = os.path.join(run_dir, "web.port")
        self.stats_file = os.path.join(run_dir, "web.stats.json")
        for stale in (self.port_file, self.stats_file):
            if os.path.exists(stale):
                os.remove(stale)
        self.proc = subprocess.Popen(
            [
                sys.executable,
                os.path.join(ROOT, "crawlbench", "webserver.py"),
                "--web", web, "--port-file", self.port_file, "--stats-file", self.stats_file,
            ],
            stdout=sys.stderr,
        )
        deadline = time.time() + 60
        while not os.path.exists(self.port_file):
            if self.proc.poll() is not None or time.time() > deadline:
                self.stop()
                raise RuntimeError("web server did not start")
            time.sleep(0.05)
        with open(self.port_file) as f:
            self.port = int(f.read())

    def stop(self) -> dict:
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        try:
            with open(self.stats_file) as f:
                return json.load(f)
        except OSError:
            return {}


def _versions(spark) -> dict:
    import platform

    jvm = spark.sparkContext._jvm
    return {
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    # the result line is the last line of the real stdout; everything
    # else, the JVM's output included, goes to stderr
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.path.insert(0, ROOT)
    _prepare_env(bool(args.trace))
    if args.prepare:
        _prepare(dump_classes=not os.path.exists(CDS))
        return 0

    # import the program first: without it, fail before starting anything
    from pyspider_spark.engine.round import CrawlEngine  # noqa: F401
    from pyspider_spark.engine.session import get_spark

    from crawlbench import oracle, probes
    from crawlbench import workloads as W

    if args.workload not in W.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(W.WORKLOADS)}")
    wl = W.WORKLOADS[args.workload]
    trace = bool(args.trace)
    cores = _cores()
    run_id = f"{wl.name}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", run_id)
    os.makedirs(run_dir)

    prepared = all(W.web_ready(WORK, w) and W.base_ready(WORK, w) for w in W.WORKLOADS.values())
    if not (prepared and os.path.exists(CDS)):
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--prepare"],
            check=True, stdout=sys.stderr,
        )
    web = W.web_dir(WORK, wl)
    base = W.base_dir(WORK, wl)
    inputs = W.ensure_inputs(WORK, wl, args.seed)
    transport = None
    if trace and wl.http:
        transport = ("crawlbench.transport:timed_urllib_transport", run_dir)
    cfg = W.round_config(wl, *(transport or ()))

    spans = None
    if trace:
        from crawlbench.trace import Spans

        spans = Spans()
    run_span = spans.open("run", workload=wl.name, seed=args.seed) if spans else None

    record: dict = {"workload": wl.name, "seed": args.seed, "trace": args.trace}
    server = sim = spark = None
    try:
        if wl.http:
            server = WebServer(web, run_dir)
            os.environ["http_proxy"] = f"http://127.0.0.1:{server.port}"
        # the oracle runs in a child process while the JVM starts, never
        # during the timed rounds
        sim = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "crawlbench", "oracle.py"), "--work", WORK,
             "--workload", wl.name, "--seed", str(args.seed), "--rounds", str(ORACLE_ROUNDS)],
            stdout=sys.stderr,
        )
        # the committed round-0 snapshot the run resumes
        state = os.path.join(run_dir, "state")
        shutil.copytree(os.path.join(base, "state"), state)
        with open(os.path.join(base, "round0.json")) as f:
            round0 = json.load(f)

        # the first setup launches the JVM and loads the engine's classes;
        # the oracle child overlaps it and is waited for before the
        # restarts, so it never overlaps them or the rounds
        setup_span = spans.open("setup", parent=run_span) if spans else None
        t = time.perf_counter()
        spark = _start_session("crawlbench")
        jvm_cold_s = time.perf_counter() - t
        eng = _engine(spark, state, cfg, web)
        setup_samples = [time.perf_counter() - t]
        sim_ok = sim.wait() == 0
        for _ in range(SETUP_SAMPLES - 1):
            t = time.perf_counter()
            spark.stop()
            spark = get_spark(cores=cores, shuffle_partitions=cores, app_name="crawlbench")
            eng = _engine(spark, state, cfg, web)
            setup_samples.append(time.perf_counter() - t)
        if spans:
            spans.close(setup_span)
        record["env"] = {
            "cores": cores,
            "heap": HEAP,
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
            "n_partitions": cfg.n_partitions,
            **_versions(spark),
        }

        inject = spark.read.parquet(os.path.join(inputs, "inject.parquet"))
        exclude = frozenset([server.proc.pid]) if server else frozenset()
        metrics, walls, spans_at = [], [], []
        with probes.Sampler(os.getpid(), exclude) as sampler:
            cpu0 = probes.tree_usage(os.getpid(), exclude)[0]
            r = 1
            while True:
                t_epoch = time.time()
                t = time.perf_counter()
                m = eng.run_round(r, inject if r == 1 else None)
                walls.append(time.perf_counter() - t)
                metrics.append(m)
                spans_at.append(t_epoch)
                if sum(walls) >= args.seconds or r + 1 >= MAX_ROUNDS:
                    break
                r += 1
            cpu_s = probes.tree_usage(os.getpid(), exclude)[0] - cpu0

        steady_urls = sum(m["scheduled"] for m in metrics)
        crawl = [round0, *metrics]
        if sim_ok:
            oracle_rounds = oracle.simulate(WORK, wl, inputs, max(ORACLE_ROUNDS, len(crawl)))
            problems = oracle.mismatches(oracle.engine_rounds(state, crawl), oracle_rounds)
        else:
            problems = ["oracle simulator failed"]
        correct = not problems and steady_urls > 0
        values = {
            "steady_urls_per_s": steady_urls / sum(walls),
            "setup_s": statistics.median(setup_samples),
            "cpu_s_per_kurl": cpu_s / max(1, steady_urls) * 1000.0,
            "state_mb": probes.du_bytes(state) / 1e6,
            "peak_rss_mb": sampler.peak_mem / 1e6,
        }
        attempted = len(metrics) + steady_urls
        failed = 0 if correct else attempted
        values["success_ratio"] = 1.0 - failed / attempted
        record.update(
            rounds=[
                {**{k: m[k] for k in ("round", *oracle.COUNT_KEYS)}, "wall_s": w, "phase_s": m["phase_s"]}
                for m, w in zip(metrics, walls)
            ],
            oracle_problems=problems,
            setup_samples=setup_samples,
            jvm_cold_s=jvm_cold_s,
            host={"steal_frac": sampler.steal_frac, "load1": sampler.load1},
            end_to_end=values,
        )
        if not trace:
            with open(os.path.join(WORK, "history.jsonl"), "a") as f:
                f.write(json.dumps({"workload": wl.name, "steady_urls_per_s": values["steady_urls_per_s"]}) + "\n")
            out_metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
        else:
            from crawlbench import trace as T

            web_stats = server.stop() if server else {}
            server = None
            layer = T.collect(
                spark=spark, spans=spans, run_span=run_span, wl=wl, cfg=cfg, cores=cores,
                state=state, web=web, inputs=inputs, run_dir=run_dir, crawl=crawl,
                walls=walls, starts=spans_at, web_stats=web_stats, sampler=sampler,
                jvm_cold_s=jvm_cold_s, history=os.path.join(WORK, "history.jsonl"),
            )
            spans.close(run_span)
            span_file = os.path.join(WORK, "traces", f"{wl.name}-s{args.seed}.spans.json")
            spans.dump(span_file)
            record.update(per_layer=layer, span_file=span_file)
            out_metrics = {k: {"value": v, "unit": T.PER_LAYER[k][0]} for k, v in layer.items()}
    finally:
        if sim is not None:
            if sim.poll() is None:
                sim.kill()
            sim.wait()
        if server is not None:
            record["web"] = server.stop()
        if spark is not None:
            _stop_spark(spark)

    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", run_id + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({k: record.get(k) for k in ("workload", "seed", "env", "host", "rounds", "oracle_problems")}), file=sys.stderr)
    for k, v in out_metrics.items():
        print(f"{k:>36} {v['value']:14.4f} {v['unit']}", file=sys.stderr)
    result = {"correct": correct, "attempted": attempted, "failed": failed, "metrics": out_metrics}
    result_out.write(json.dumps(result) + "\n")
    result_out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
