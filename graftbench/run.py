#!/usr/bin/env python3
"""graft benchmark: two seeded workloads through the library's public
entry points, one JVM per run, outputs checked, metrics printed as one
JSON line.

    python3 graftbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the library and the
benchmark's JVM driver with sbt (``graftbench/build.sbt``) and caches the
classpath. ``api_sf001`` reads the project's sf0.01 test tables from
``graftbench/data/sf0.01`` (read-only); ``corpus_zipf`` generates its inputs
from the seed. DuckDB oracle answers are cached per input and SQL.
Everything a run writes is kept under ``.graftbench/`` in the checkout.

The last line of stdout is the result:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
With ``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (derived from the span file ``spans.jsonl`` in the run
directory). Progress and diagnostics go to stderr; the run directory
``.graftbench/runs/<workload>-<seed>-<trace>/`` keeps the raw result, the
span file and ``report.json`` (every statistic with its sample count and
the environment stamp).
"""
from __future__ import annotations

import argparse
import functools
import hashlib
import importlib.util
import json
import os
import pickle
import random
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.dont_write_bytecode = True  # leave nothing beside the sources
sys.path.insert(0, str(HERE))
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = Path.cwd()
STATE = ROOT / ".graftbench"

# The closed loops: API queries on the sf0.01 test tables, the run seed
# permuting their order; corpus pipelines and the streaming op on a Zipf
# corpus made from the run seed, in a fixed order.
STREAM_OP = "stream_front_door"
CLOSED_LOOPS = {
    "api_sf001": ["q1_pricing_summary", "q_quantiles", "q_describe", "q_cut_qcut",
                  "q_join_inner", "q_merge_asof_backward"],
    "corpus_zipf": ["q_dup_clusters", "q_quality_classifier", STREAM_OP],
}
TABLES = HERE / "data" / "sf0.01"   # lineitem, orders, events of the sf0.01 test tables
CORPUS_DOCS = 2_000
STREAM_STORED = 500      # corpus docs behind the streaming op's bloom filter and indexes
STREAM_PER_FILE = 100    # docs per arrival file of the streaming op
WARM_PASSES = 1          # untimed passes after the cold check pass, part of set-up
JVM_SETUP_S = 100        # JVM time allowed beyond three times --seconds


def log(*a) -> None:
    print("[graftbench]", *a, file=sys.stderr, flush=True)


def fail(msg: str) -> None:
    log("error:", msg)
    sys.exit(2)


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------

def _source_digest() -> str:
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "src" / "main", ROOT / "project", HERE / "src", HERE / "project"):
        files += sorted(p for p in d.rglob("*") if p.is_file() and "target" not in p.parts)
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def build() -> str:
    """Compiles the library and the driver; returns the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail("no library sources here: run from the root of a graft checkout")
    digest = _source_digest()
    cp_file = STATE / "build" / f"classpath-{digest}.txt"
    if cp_file.is_file():
        return cp_file.read_text().strip()
    cp_file.parent.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building with sbt ...")
    t = time.monotonic()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=840)
    (STATE / "build" / "sbt.log").write_text(out.stdout + out.stderr)
    lines = [ln for ln in out.stdout.splitlines() if ln.strip()]
    if out.returncode != 0 or not lines or lines[-1].startswith("["):
        fail(f"sbt build failed (rc {out.returncode}); see .graftbench/build/sbt.log")
    cp_file.write_text(lines[-1].strip())
    log(f"built in {time.monotonic() - t:.0f} s")
    return lines[-1].strip()


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

def inputs(wl: str, work: Path, seed: int, n_files: int) -> Path:
    """The directory the workload's program reads."""
    if wl == "api_sf001":
        return TABLES
    d = work / "data"
    texts = gen.zipf_documents(d, CORPUS_DOCS, seed)
    # one arrival file per pass
    gen.stream_inputs(d, texts[:STREAM_STORED], n_files, STREAM_PER_FILE, seed)
    return d


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------

@functools.cache
def _comparator():
    """The project's oracle comparator module (``frames_match``, ``TABLES``)."""
    path = ROOT / "scripts" / "oracle_check.py"
    spec = importlib.util.spec_from_file_location("oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_answers(data: Path, sqls: dict[str, str]) -> dict:
    """DuckDB answers for each query over the tables in ``data``, cached
    per table contents and SQL, so a seed's answers are computed once."""
    import duckdb
    cache = STATE / "oracle"
    cache.mkdir(parents=True, exist_ok=True)
    h = hashlib.sha256()
    for p in sorted(data.glob("*.parquet")):
        h.update(p.name.encode())
        h.update(p.read_bytes())
    tables = h.hexdigest()[:12]
    out, con = {}, None
    for name, sql in sqls.items():
        key = hashlib.sha256(sql.encode()).hexdigest()[:12]
        f = cache / f"{name}-{tables}-{key}.pkl"
        if not f.exists():
            if con is None:
                con = duckdb.connect()
                con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
                for t in _comparator().TABLES:
                    p = data / f"{t}.parquet"
                    if p.exists():
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            f.write_bytes(pickle.dumps(con.execute(sql).df()))
        out[name] = pickle.loads(f.read_bytes())
    return out


def check_closed_loop(res: dict, work: Path, data: Path, names: list[str]) -> dict[str, str]:
    """Op name -> failure reason, for every op that failed in any pass, every
    query whose check-pass output differs from its DuckDB oracle, and the
    streaming op if its sinks differ from its batch backfill."""
    import pandas as pd
    bad = {}
    for w in res["warm"]:
        if w["error"]:
            bad[w["name"]] = w["error"]
    for o in res["ops"] + res["traced_ops"]:
        if o["error"]:
            bad.setdefault(o["name"], o["error"])
    if STREAM_OP in names and res["stream_mismatched"]:
        bad.setdefault(STREAM_OP, "sinks differ from the batch backfill in "
                       + ", ".join(res["stream_mismatched"]))
    queries = [n for n in names if n != STREAM_OP]
    sqls = json.loads((work / "oracle_sql.json").read_text())
    for n in queries:
        if n not in sqls:
            bad.setdefault(n, "no oracle SQL")
    answers = oracle_answers(data, {n: sqls[n] for n in queries if n in sqls})
    frames_match = _comparator().frames_match
    for n, want in answers.items():
        if n in bad:
            continue
        got = pd.read_parquet(work / "check" / n)
        err = frames_match(got, want)
        if err:
            bad[n] = err
    return bad


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------

def java_cmd(cp: str, work: Path, heap_mb: int) -> list[str]:
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # a fixed heap: GC sizing does not drift from run to run
    return (["java", f"-Xms{heap_mb}m", f"-Xmx{heap_mb}m", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens]
            + ["-cp", cp, "graftbench.Main"])


def heap_mb() -> int:
    """A quarter of physical memory, between 2 and 4 GiB."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    return max(2048, min(4096, total // 4))


def git_commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown (" + _source_digest() + ")"


def run_jvm(cmd: list[str], work: Path, timeout_s: float) -> dict:
    with open(work / "jvm.log", "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=work)
        try:
            rc = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"JVM timed out after {timeout_s:.0f} s; see {work / 'jvm.log'}")
    if rc != 0 or not (work / "result.json").exists():
        tail = (work / "jvm.log").read_text(errors="replace").splitlines()[-15:]
        fail(f"JVM exited with {rc}:\n" + "\n".join(tail))
    return json.loads((work / "result.json").read_text())


def op_times(ops: list[dict]) -> dict[str, list[float]]:
    """Op name -> its latencies in seconds, one per pass."""
    by_op = {}
    for o in ops:
        by_op.setdefault(o["name"], []).append((o["t1"] - o["t0"]) / 1000)
    return by_op


def declared_metrics() -> dict:
    """Metric names and units, from the benchmark's own BENCHMARK.json."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {kind: {m["name"]: m["unit"] for m in spec[kind]}
            for kind in ("end_to_end", "per_layer")}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(CLOSED_LOOPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    stats.self_check()
    declared = declared_metrics()
    cp = build()
    wl, seed = a.workload, a.seed
    work = STATE / "runs" / f"{wl}-{seed}-{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    t_setup0 = time.monotonic()
    cores = len(os.sched_getaffinity(0))  # what nproc reports
    heap = heap_mb()
    # the window ends after at most one pass per second of it
    max_passes = int(a.seconds) + 3
    data = inputs(wl, work, seed, 1 + WARM_PASSES + max_passes)
    names = list(CLOSED_LOOPS[wl])
    if wl == "api_sf001":
        # The corpus ops keep their order, so each has the same neighbours
        # in every run (async cleanup of the previous op's pins and
        # shuffles overlaps the next op).
        random.Random(seed).shuffle(names)
    args = ["--workload", wl, "--work", str(work), "--data", str(data),
            "--queries", ",".join(names), "--warm", str(WARM_PASSES),
            "--seconds", str(a.seconds),
            "--max-passes", str(max_passes),
            "--trace", str(a.trace), "--cores", str(cores)]
    t_inputs = time.monotonic() - t_setup0
    res = run_jvm(java_cmd(cp, work, heap) + args, work, JVM_SETUP_S + 3 * a.seconds)
    report = {"workload": wl, "seed": seed, "seconds": a.seconds, "trace": a.trace,
              "cores": cores, "heap_mb": heap, "spark_version": res["spark_version"],
              "java_version": res["java_version"], "git_commit": git_commit(),
              "setup_parts_s": {"inputs": t_inputs, "session": res["session_s"],
                                "index_build": res["index_build_s"],
                                "warmup": res["warmup_s"]}}

    # An operation is one query or pipeline, from its build call until its
    # last row reached the sink, or one arrival file of the streaming op,
    # from when it is dropped in until both sinks committed it.
    t_check0 = time.monotonic()
    bad = check_closed_loop(res, work, data, names)
    report["check_s"] = time.monotonic() - t_check0
    runs = res["warm"] + res["ops"] + res["traced_ops"]
    attempted = len(runs)
    failed = sum(1 for o in runs if o["name"] in bad)
    op_lat = [(o["t1"] - o["t0"]) / 1000 for o in res["ops"]]
    traced_lat = [(o["t1"] - o["t0"]) / 1000 for o in res["traced_ops"]]
    passes_s = [(p["t1"] - p["t0"]) / 1000 for p in res["passes"]]
    report["pass_s"] = {"n": len(passes_s), "median": statistics.median(passes_s)}
    report["op_median_s"] = {k: statistics.median(v) for k, v in op_times(res["ops"]).items()}
    report["failures"] = bad
    report["error_rate"] = failed / attempted
    report["op_latency_s"] = {
        "n": len(op_lat), "mean": statistics.fmean(op_lat),
        "mean_of_op_medians": statistics.fmean(report["op_median_s"].values())}
    ref = [o["ref_ms"] / 1000 for o in res["ops"]]
    report["ref_job_s"] = {"n": len(ref), "median": statistics.median(ref)}
    # Each op's latency in units of the reference job run right before it:
    # the host's speed, which on a shared machine moves between runs by
    # more than the bound, cancels out.
    rel = {}
    for o in res["ops"]:
        rel.setdefault(o["name"], []).append((o["t1"] - o["t0"]) / o["ref_ms"])
    report["op_rel_median"] = {k: statistics.median(v) for k, v in rel.items()}
    # CPU time of the whole process, and the share of the machine's CPU
    # time the host took away (steal), over the untraced ops
    report["op_cpu_s"] = statistics.fmean(o["cpu_ms"] for o in res["ops"]) / 1000
    report["steal_frac"] = (sum(o["steal_ms"] for o in res["ops"])
                            / (cores * sum(o["t1"] - o["t0"] for o in res["ops"])))
    for q in (0.5, 0.9):
        try:
            report["op_latency_s"][f"p{q * 100:g}"] = stats.percentile(op_lat, q)
        except ValueError as e:
            report["op_latency_s"][f"p{q * 100:g}"] = f"not reported: {e}"
    report["peak_rss_mb"] = res["peak_rss_mb"]
    if not a.trace:
        values = {
            # set-up: inputs, JVM and session start, index/model build, warm-up
            "setup_s": sum(report["setup_parts_s"].values()),
            "op_latency_rel": statistics.fmean(report["op_rel_median"].values()),
            "live_heap_mb": res["live_heap_mb"],
        }
    else:
        spans = [json.loads(ln) for ln in (work / "spans.jsonl").read_text().splitlines()]
        n_traced = len(traced_lat)
        values = stats.layer_metrics(spans, n_traced)
        values["pins.released"] = res["traced_pins_released"] / max(1, n_traced)
        values["pins.storage_peak_bytes"] = res["traced_pins_storage_peak_bytes"]
        traced_ops = op_times(res["traced_ops"])
        for q in (q for qs in CLOSED_LOOPS.values() for q in qs):
            values[f"op.{q}_s"] = statistics.median(traced_ops.get(q, [0.0]))
        values["jvm.gc_s"] = res["gc_s"] / (len(op_lat) + n_traced)
        values["jvm.heap_peak_mb"] = res["heap_peak_mb"]
        values["jvm.peak_rss_mb"] = res["peak_rss_mb"]
        values["trace.overhead_frac"] = statistics.fmean(traced_lat) / statistics.fmean(op_lat) - 1
    kind = "per_layer" if a.trace else "end_to_end"
    missing = set(declared[kind]) - set(values)
    if missing:
        fail(f"metrics declared in BENCHMARK.json but not measured: {sorted(missing)}")
    metrics = {k: {"value": values[k], "unit": u} for k, u in declared[kind].items()}
    report["metrics"] = values
    (work / "report.json").write_text(json.dumps(report, indent=1, default=str))
    log(json.dumps({k: v for k, v in report.items() if k != "metrics"}, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
