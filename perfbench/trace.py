"""Spark event-log reader: jobs, their task metrics, and per-phase
roll-ups of one crawl's ``run()`` window.

The engine labels its jobs ``r<k>:<phase>`` through the job
description. Jobs are grouped by phase; overlapping jobs of a phase
count once (interval union), and each stretch of the run window that
no job covers is charged, as driver time, to the phase whose job
ended last before it.
"""

from __future__ import annotations

import glob
import json
import os
import re

# engine label -> metric key
PHASES = {
    "eligible:probe": "eligible_probe",
    "rank:eligible+histogram": "rank_histogram",
    "rank:refine": "rank_refine",
    "summary:fetch+parse": "summary_fetch_parse",
    "seen-write": "seen_write",
    "bloom-fold": "bloom_fold",
    "seen-compact": "seen_compact",
    "frontier-delta": "frontier_delta",
    "frontier-snapshot": "frontier_snapshot",
    "order-write": "order_write",
    "items-write": "items_write",
}
SELECT_SIDE = {"eligible_probe", "rank_histogram", "rank_refine", "summary_fetch_parse"}
PHASE_KEYS = ["preloop", *PHASES.values(), "unlabeled"]

_LABEL = re.compile(r"^r(\d+):(.+)$")


def event_lines(event_dir: str) -> list[str]:
    """All lines of the one application log under ``event_dir``
    (a plain file, or a rolling ``eventlog_v2_*`` directory)."""
    lines: list[str] = []
    for entry in sorted(glob.glob(os.path.join(event_dir, "*"))):
        parts = (
            sorted(glob.glob(os.path.join(entry, "events_*")))
            if os.path.isdir(entry) else [entry]
        )
        for p in parts:
            with open(p) as f:
                lines.extend(f)
    return lines


def read_jobs(event_dir: str) -> list[dict]:
    """Finished jobs with start/end (ms), description and summed task
    metrics of their stages."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for line in event_lines(event_dir):
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = {
                "id": jid,
                "start": ev["Submission Time"],
                "desc": props.get("spark.job.description") or "",
                "cpu_ns": 0, "gc_ms": 0, "shuffle_write": 0,
                "shuffle_read": 0, "spill": 0, "failed_tasks": 0,
            }
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
            if job is None:
                continue
            if (ev.get("Task Info") or {}).get("Failed"):
                job["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            job["cpu_ns"] += m.get("Executor CPU Time", 0)
            job["gc_ms"] += m.get("JVM GC Time", 0)
            job["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            job["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            job["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    return sorted((j for j in jobs.values() if "end" in j), key=lambda j: j["start"])


def covered_ms(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def crawl_layers(jobs: list[dict], eng, t0: float, t1: float) -> dict:
    """Per-phase and whole-run Spark metrics of one ``run()`` call.

    ``t0``/``t1`` are the wall-clock bounds of the call (seconds);
    ``eng.metrics`` gives the round walls used to place each job in
    the round it ran in."""
    lo, hi = t0 * 1000, t1 * 1000
    win = [j for j in jobs if j["start"] >= lo - 1 and j["end"] <= hi + 1]
    loop_start = lo + eng.setup_secs * 1000
    bounds, acc = [], loop_start
    for m in eng.metrics:
        acc += 1000 * sum(m[k] for k in ("t_select", "t_fetch_parse", "t_seen",
                                          "t_ledgers", "t_frontier"))
        bounds.append(acc)

    def round_at(ms: float) -> int:
        for k, b in enumerate(bounds, start=1):
            if ms < b:
                return k
        return len(bounds)

    stale = 0
    for j in win:
        m = _LABEL.match(j["desc"])
        if j["start"] < loop_start:
            j["phase"] = "preloop"
        elif m and m.group(2) in PHASES:
            j["phase"] = PHASES[m.group(2)]
            label_round = int(m.group(1))
            # 20 ms of slack: round bounds come from rounded metrics.
            # Select-side labels are set before the engine advances its
            # round counter, so round k's carry k-1.
            expected = round_at(j["start"] - 20) - (j["phase"] in SELECT_SIDE)
            overlapped_seed = label_round == 0 and j["phase"] == "frontier_snapshot"
            if label_round < expected and not overlapped_seed:
                stale += 1
        else:
            j["phase"] = "unlabeled"

    out: dict[str, float] = {}
    for p in PHASE_KEYS:
        mine = [j for j in win if j["phase"] == p]
        out[f"phase.{p}.wall_s"] = covered_ms((j["start"], j["end"]) for j in mine) / 1000
        out[f"phase.{p}.jobs"] = len(mine)
        out[f"phase.{p}.task_cpu_s"] = sum(j["cpu_ns"] for j in mine) / 1e9
        out[f"phase.{p}.shuffle_write_mb"] = sum(j["shuffle_write"] for j in mine) / 2**20
        out[f"phase.{p}.gap_after_s"] = 0.0
    # uncovered stretches: charged to the phase that ran last before them
    cur_end, cur_phase = lo, "preloop"
    for j in win:
        if j["start"] > cur_end:
            out[f"phase.{cur_phase}.gap_after_s"] += (j["start"] - cur_end) / 1000
        if j["end"] >= cur_end:
            cur_end, cur_phase = j["end"], j["phase"]
    if hi > cur_end:
        out[f"phase.{cur_phase}.gap_after_s"] += (hi - cur_end) / 1000
    rounds = max(1, len(eng.metrics))
    loop_jobs = [j for j in win if j["phase"] != "preloop"]
    out.update({
        "spark.jobs_per_round": len(loop_jobs) / rounds,
        "spark.driver_gap_s": (hi - lo - covered_ms((j["start"], j["end"]) for j in win)) / 1000,
        "spark.failed_tasks": sum(j["failed_tasks"] for j in win),
        "spark.task_cpu_s": sum(j["cpu_ns"] for j in win) / 1e9,
        "spark.shuffle_read_mb": sum(j["shuffle_read"] for j in win) / 2**20,
        "spark.shuffle_write_mb": sum(j["shuffle_write"] for j in win) / 2**20,
        "spark.spill_mb": sum(j["spill"] for j in win) / 2**20,
        "spark.gc_s": sum(j["gc_ms"] for j in win) / 1000,
        "trace.stale_label_jobs": stale,
    })
    return out


def span_table(spans: list[tuple[str, float, float]], jobs: list[dict]) -> list[dict]:
    """Each span's wall, the time its Spark jobs cover, and its self
    time (wall not covered by any job: driver-side work)."""
    rows = []
    for name, t0, t1 in spans:
        lo, hi = t0 * 1000, t1 * 1000
        inside = [(max(j["start"], lo), min(j["end"], hi)) for j in jobs
                  if j["end"] > lo and j["start"] < hi]
        cov = covered_ms(inside) / 1000
        rows.append({"span": name, "wall_s": round(t1 - t0, 3), "jobs": len(inside),
                     "job_s": round(cov, 3), "self_s": round(t1 - t0 - cov, 3)})
    return rows
