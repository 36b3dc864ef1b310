#!/usr/bin/env python3
"""crawler_spark benchmark: one workload, one fresh Spark session.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The session is ``local[<cores>]`` with
cores from the affinity mask and the driver heap from MemAvailable;
all scratch (Spark local dirs, engine workdirs, event logs) lives in
``.perfbench_work/`` under the root and is removed at exit.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones (see perfbench/README.md). The line before it carries the host
shape, host probe and source provenance. A span table of the traced
run goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("young_crawl", "engaged_crawl", "contract_queries")
DEFAULT_SEED = 1
DEADLINE_S = 160  # a run must end within 180 s, stop included


class Deadline(Exception):
    pass


def _on_alarm(signum, frame):
    raise Deadline(f"run exceeded {DEADLINE_S} s")


def boot(work: str, shape: dict, event_dir: str | None = None):
    from crawler_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # JVM scratch stays inside the work dir (no /tmp/hsperfdata_*);
        # the heap is committed at boot, so heap growth neither stalls
        # a timed section nor moves peak memory between runs
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            f" -Xms{shape['heap']} -XX:+AlwaysPreTouch",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("perfbench", cores=shape["cores"],
                      shuffle_partitions=shape["cores"], extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the Spark context, then the gateway JVM, and wait for every
    process this run started to end."""
    from pyspark import SparkContext

    from host import _tree_pids

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    pids = [p for p in _tree_pids(os.getpid()) if p != os.getpid()]
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 15
    for pid in pids:
        while time.time() < deadline and os.path.exists(f"/proc/{pid}"):
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def run_crawl(name: str, args, shape: dict, work: str, spans: list) -> dict:
    import crawls

    event_dir = os.path.join(work, "events") if args.trace else None
    t = time.time()
    spark = boot(work, shape, event_dir)
    boot_s = time.time() - t
    spans.append(("boot", t, time.time()))
    run = crawls.CrawlRun(spark, name, args.seed, shape["cores"], os.path.join(work, "crawl"))
    t = time.time()
    setup_secs = run.setup()
    spans.append(("setup", t, time.time()))
    if run.shape["warm_rounds"]:
        t = time.time()
        run.discard(run.crawl(run.shape["warm_rounds"]))
        spans.append(("warm", t, time.time()))

    results, attempted = [], 0
    t_loop = time.time()
    while True:
        res = run.crawl(run.shape["rounds"])
        spans.append((f"run#{len(results) + 1}", res["t0"], res["t1"]))
        attempted += len(res["engine"].metrics)
        if results:
            run.discard(results[-1])
        results.append(res)
        if args.trace or time.time() - t_loop >= args.seconds:
            break
    t = time.time()
    ok, dig, why = run.check(results[-1])
    spans.append(("check", t, time.time()))
    reasons = [] if ok else [f"oracle mismatch: {why}"]
    pinned = _pinned().get(name)
    if args.seed == DEFAULT_SEED and pinned and pinned != dig:
        reasons.append(f"digest {dig} != pinned {pinned}")
    out = {"attempted": max(1, attempted), "failed": attempted if reasons else 0,
           "digest": dig, "reasons": reasons, "iterations": len(results)}
    if args.trace:
        out["metrics"], out["span_table"] = trace_crawl(
            run, results[-1], event_dir, spans, boot_s)
    else:
        out["metrics"] = {**crawls.timed_metrics(results, shape["cores"]),
                          "setup_s": statistics.median(setup_secs)}
        out["ops"] = [round(crawls.round_wall(m), 3) for r in results for m in r["engine"].metrics]
        out["raw_wall_s"] = [round(r["wall"], 3) for r in results]
        out["steal_s"] = [round(r["steal_s"], 2) for r in results]
    return out


def trace_crawl(run, res: dict, event_dir: str, spans: list, boot_s: float):
    """Per-layer metrics of the traced crawl (its Spark jobs from the
    event log, the engine's own round metrics, and the kernel probes),
    and the span table: each span's wall, job time and self time."""
    import crawls
    import probes
    import trace

    eng = res["engine"]
    t = time.time()
    layer = probes.crawl_probes(run, eng)
    spans.append(("probes", t, time.time()))
    layer.update(probes.table_sizes(eng.workdir))
    run.spark.stop()
    jobs = trace.read_jobs(event_dir)
    layer.update(trace.crawl_layers(jobs, eng, res["t0"], res["t1"]))
    timed = crawls.timed_metrics([res], run.cores)
    ms = eng.metrics
    batch = sum(m["batch"] for m in ms)
    fetched = sum(m["fetched"] for m in ms)
    layer.update({
        "session.boot_s": boot_s,
        "crawl.wall_s": timed["wall_s"],
        "crawl.urls_per_s": timed["urls_per_s"],
        "frontier.setup_s": eng.setup_secs,
        "frontier.seed_build_s": eng.setup_breakdown.get("seed_build", 0.0),
        "frontier.tail_s": res["wall"] - eng.setup_secs - sum(crawls.round_wall(m) for m in ms),
        "frontier.select_s": sum(m["t_select"] for m in ms),
        "frontier.rank_s": sum(m["t_sel_rank"] or 0.0 for m in ms),
        "frontier.materialize_s": sum(m["t_frontier"] for m in ms),
        "frontier.batch_rows": batch,
        "frontier.fetched_rows": fetched,
        "frontier.failed_rows": sum(m["failures"] for m in ms),
        "frontier.retry_rows": sum(m["retries"] for m in ms),
        "frontier.fetch_hit_ratio": fetched / max(1, batch),
        "robots.denied_rows": len(run.oracle.robots_denied),
    })
    return layer, trace.span_table(spans, jobs)


def run_queries(args, shape: dict, work: str, spans: list) -> dict:
    import contract

    t = time.time()
    spark = boot(work, shape)
    boot_s = time.time() - t
    spans.append(("boot", t, time.time()))
    return contract.run(spark, args, shape["cores"], work, spans, boot_s)


def _pinned() -> dict:
    with open(os.path.join(HERE, "pinned.json")) as f:
        return json.load(f)


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "crawler_spark", "plans", "frontier.py")):
        print(f"error: no crawler_spark package under {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from host import host_probe, host_shape, provenance

    shape = host_shape()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # the engine's own A/B switches stay at their defaults, whatever the
    # caller's environment says
    for knob in ("SPARK_GRAFT_AQE", "SPARK_GRAFT_WORKER_ALLOC", "SPARK_GRAFT_PRETOUCH"):
        os.environ.pop(knob, None)
    os.environ.update({
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_DRIVER_MEM": shape["heap"],
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    })
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(max(1, int(DEADLINE_S - (time.time() - T_START))))
    spans: list = []
    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "host": shape, "probe": host_probe(), **provenance(ROOT)}
    try:
        if args.workload == "contract_queries":
            out = run_queries(args, shape, work, spans)
        else:
            out = run_crawl(args.workload, args, shape, work, spans)
        signal.alarm(0)
    except Exception as e:  # Deadline, or a raising setup: no result line
        signal.alarm(0)
        print(f"error: {type(e).__name__}: {e}", file=sys.stderr)
        for name, t0, t1 in spans:
            print(json.dumps({"span": name, "wall_s": round(t1 - t0, 3)}), file=sys.stderr)
        return 3
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    rows = out.get("span_table") or [
        {"span": name, "wall_s": round(t1 - t0, 3)} for name, t0, t1 in spans]
    for row in rows:
        print(json.dumps(row), file=sys.stderr)
    spec = _benchmark()
    # a metric that does not apply to the workload reads 0 (traced runs
    # only: every end-to-end metric applies to every workload)
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    metrics = {k: out["metrics"].get(k, 0.0) for k in names}
    if not args.trace:
        info["timed"] = {k: round(v, 4) for k, v in out["metrics"].items() if k not in names}
    units = {m["name"]: m["unit"] for key in ("end_to_end", "per_layer") for m in spec[key]}
    info.update({k: out[k] for k in ("digest", "reasons", "iterations", "ops", "raw_wall_s",
                                     "steal_s") if k in out})
    info["wall_s"] = round(time.time() - T_START, 2)
    print(json.dumps(info))
    print(json.dumps({
        "correct": out["failed"] == 0 and not out["reasons"],
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
