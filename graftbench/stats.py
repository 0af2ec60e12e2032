"""Statistics for the benchmark: percentiles, self time from spans, and
the per-layer metrics of a traced run.

``python3 graftbench/stats.py`` runs the self-checks; ``run.py`` runs them
before every measurement too.
"""
from __future__ import annotations

import math
from collections import defaultdict

MIN_BEYOND = 10


def percentile(xs, q: float, min_beyond: int = MIN_BEYOND) -> float:
    """Nearest-rank ``q`` percentile (0 < q < 1) of ``xs``.

    A percentile is only reported when at least ``min_beyond`` samples lie
    above it; otherwise ``ValueError``. So a p90 needs 100 samples."""
    s = sorted(xs)
    rank = max(1, math.ceil(q * len(s)))
    if len(s) - rank < min_beyond:
        raise ValueError(f"p{q * 100:g} of {len(s)} samples leaves "
                         f"{len(s) - rank} beyond it, need {min_beyond}")
    return s[rank - 1]


def union_length(intervals) -> float:
    """Total length covered by a set of (t0, t1) intervals."""
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_time(parent, children) -> float:
    """Time inside ``parent`` = (t0, t1) not covered by any child span."""
    p0, p1 = parent
    clipped = [(max(a, p0), min(b, p1)) for a, b in children if b > p0 and a < p1]
    return (p1 - p0) - union_length(clipped)


def _per_op(total: float, n_ops: int) -> float:
    return total / max(1, n_ops)


def layer_metrics(spans: list[dict], n_ops: int) -> dict[str, float]:
    """Per-layer metrics of a traced run, normalised per operation.

    ``spans`` are the records of ``spans.jsonl``; only those starting
    inside one of its ``window`` spans (epoch ms) count. ``n_ops`` is the
    number of operations (queries, pipelines or arrival files) traced."""
    windows = [(s["t0"], s["t1"]) for s in spans if s["kind"] == "window"]

    def inside(s):
        t0 = s.get("t0")
        return t0 is not None and any(w0 <= t0 <= w1 for w0, w1 in windows)

    by = defaultdict(list)
    for s in spans:
        if inside(s):
            by[s["kind"]].append(s)
    jobs, stages, tasks = by["job"], by["stage"], by["task"]
    ran = [s for s in stages if not s["skipped"]]
    tsum = lambda k: sum(t.get(k) or 0 for t in tasks)
    m = {}
    # api: construction (build) calls and the jobs they fire
    m["api.build_s"] = _per_op(sum((o["tb"] - o["t0"]) for o in by["op"]), n_ops) / 1000
    m["api.build_jobs"] = _per_op(sum(1 for j in jobs if j["phase"] == "build"), n_ops)
    # Catalyst planning phases
    for key, name in (("analysis_ms", "analysis"), ("optimizer_ms", "optimizer"),
                      ("planning_ms", "planning")):
        m[f"plan.{name}_s"] = _per_op(sum(q.get(key) or 0 for q in by["qe"]), n_ops) / 1000
    # scheduler
    m["sched.jobs"] = _per_op(len(jobs), n_ops)
    m["sched.stages"] = _per_op(len(ran), n_ops)
    m["sched.tasks"] = _per_op(len(tasks), n_ops)
    delay = sum(max(0.0, (t["t1"] - t["t0"]) - sum(t.get(k) or 0 for k in
                ("run_ms", "deser_ms", "ser_ms", "getres_ms"))) for t in tasks)
    m["sched.delay_s"] = _per_op(delay, n_ops) / 1000
    useful = sum(1 for t in tasks if (t.get("in_rows") or 0) + (t.get("sh_read_rows") or 0) > 0)
    m["sched.useful_task_frac"] = useful / max(1, len(tasks))
    # executor
    m["exec.run_s"] = _per_op(tsum("run_ms"), n_ops) / 1000
    m["exec.cpu_s"] = _per_op(tsum("cpu_ns"), n_ops) / 1e9
    m["exec.cpu_util"] = (tsum("cpu_ns") / 1e6) / max(1.0, tsum("run_ms"))
    m["exec.gc_s"] = _per_op(tsum("gc_ms"), n_ops) / 1000
    m["exec.deser_s"] = _per_op(tsum("deser_ms"), n_ops) / 1000
    m["exec.result_bytes"] = _per_op(tsum("result_bytes"), n_ops)
    # shuffle and spill
    m["shuffle.write_bytes"] = _per_op(tsum("sh_write_bytes"), n_ops)
    m["shuffle.read_bytes"] = _per_op(tsum("sh_read_bytes"), n_ops)
    m["shuffle.fetch_wait_s"] = _per_op(tsum("sh_fetch_ms"), n_ops) / 1000
    m["spill.mem_bytes"] = _per_op(tsum("spill_mem"), n_ops)
    m["spill.disk_bytes"] = _per_op(tsum("spill_disk"), n_ops)
    # sources and sinks
    m["io.read_bytes"] = _per_op(tsum("in_bytes"), n_ops)
    m["io.read_rows"] = _per_op(tsum("in_rows"), n_ops)
    m["io.write_bytes"] = _per_op(tsum("out_bytes"), n_ops)
    m["io.write_rows"] = _per_op(tsum("out_rows"), n_ops)
    # streaming micro-batches (mean over batches that read rows)
    prog = [p for p in by["progress"] if p["rows"] > 0]
    for key, name in (("trigger_ms", "trigger"), ("add_batch_ms", "add_batch"),
                      ("planning_ms", "planning"), ("wal_commit_ms", "wal_commit"),
                      ("state_commit_ms", "state_commit")):
        m[f"stream.{name}_s"] = _per_op(sum(p.get(key) or 0 for p in prog), len(prog)) / 1000
    m["stream.state_rows"] = max((p["state_rows"] for p in prog), default=0)
    m["stream.state_mem_bytes"] = max((p["state_mem_bytes"] for p in prog), default=0)
    # self time per layer: operation -> job -> stage -> task
    job_iv = [(j["t0"], j["t1"]) for j in jobs]
    ops = [(o["t0"], o["t1"]) for o in by["op"]]
    stage_iv = defaultdict(list)
    for s in ran:
        stage_iv[s["id"]].append((s["t0"], s["t1"]))
    task_iv = defaultdict(list)
    for t in tasks:
        task_iv[t["stage"]].append((t["t0"], t["t1"]))
    # the operation layer's self time: no job of it running
    m["driver.gap_s"] = _per_op(sum(self_time(o, job_iv) for o in ops), n_ops) / 1000
    m["self.job_s"] = _per_op(sum(
        self_time((j["t0"], j["t1"]), [iv for sid in j["stages"] for iv in stage_iv.get(sid, [])])
        for j in jobs), n_ops) / 1000
    m["self.stage_s"] = _per_op(sum(
        self_time(iv, task_iv.get(sid, [])) for sid, ivs in stage_iv.items() for iv in ivs),
        n_ops) / 1000
    m["self.task_s"] = _per_op(sum(t["t1"] - t["t0"] for t in tasks), n_ops) / 1000
    return m


def self_check() -> None:
    """Checks of the statistics above on inputs with known answers."""
    xs = list(range(1, 101))
    assert percentile(xs, 0.9) == 90
    assert percentile(xs, 0.5) == 50
    for short in (list(range(1, 100)), list(range(1, 20))):
        try:
            percentile(short, 0.9 if len(short) > 50 else 0.5)
        except ValueError:
            pass
        else:
            raise AssertionError(f"percentile accepted {len(short)} samples")
    assert percentile(list(range(20)), 0.5) == 9
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0
    # parent [0, 10]: children cover [1, 5] and [8, 10] -> 4 ms of self time
    assert self_time((0, 10), [(1, 3), (2, 5), (8, 12), (20, 30)]) == 4
    assert self_time((0, 10), []) == 10
    # layer metrics: one op [0, 100] with one job [10, 60] -> 50 ms gap
    spans = [
        {"kind": "window", "t0": 0, "t1": 100},
        {"kind": "op", "name": "q", "t0": 0, "tb": 10, "t1": 100},
        {"kind": "job", "id": 0, "t0": 10, "t1": 60, "op": "q", "phase": "run",
         "stages": [0], "ok": True},
        {"kind": "stage", "id": 0, "attempt": 0, "t0": 12, "t1": 58, "tasks": 1,
         "skipped": False},
        {"kind": "task", "stage": 0, "t0": 20, "t1": 50, "ok": True, "run_ms": 25,
         "cpu_ns": 20_000_000, "deser_ms": 1, "ser_ms": 0, "getres_ms": 0,
         "in_rows": 5},
        # micro-batches: the empty one and the one outside the window do not count
        {"kind": "progress", "t0": 70, "rows": 100, "trigger_ms": 30, "state_rows": 20,
         "state_mem_bytes": 4096},
        {"kind": "progress", "t0": 90, "rows": 0, "trigger_ms": 5, "state_rows": 20,
         "state_mem_bytes": 4096},
        {"kind": "progress", "t0": 150, "rows": 100, "trigger_ms": 90, "state_rows": 40,
         "state_mem_bytes": 8192},
    ]
    m = layer_metrics(spans, 1)
    assert m["driver.gap_s"] == 0.05, m["driver.gap_s"]
    assert m["self.job_s"] == 0.004 and m["self.stage_s"] == 0.016, m
    assert abs(m["sched.delay_s"] - 0.004) < 1e-12, m["sched.delay_s"]
    assert m["sched.useful_task_frac"] == 1.0 and m["api.build_s"] == 0.01
    assert abs(m["exec.cpu_util"] - 0.8) < 1e-12
    assert m["stream.trigger_s"] == 0.03 and m["stream.state_rows"] == 20, m


if __name__ == "__main__":
    self_check()
    print("stats self-checks passed")
