#!/usr/bin/env python3
"""Layered benchmark of the engine's registered queries.

    python3 perfbench/run.py --workload short_sql --seed 1 --seconds 10 --trace 0

One process is one closed-loop client: it runs one query at a time
against the scale-0.01 fixture in ``fixture/sf0.01`` (the seed-42
TPC-H-shaped tables the engine's correctness tests use, copied byte
for byte) on ``local[<cores>]``. Every query is built
(``QUERIES[name](spark, sf_dir)``) and forced with the ``noop`` sink,
in the order ``--seed`` permutes the workload's list to.

A run is a series of passes over the workload, each on a fresh
Spark session set up by ``session.get_session``,
``registry.ensure_layouts`` (layouts already on disk) and a fixed
warm-up (``WARMUP``). The first set-up is the cold one and counts from
process start. The first pass, in the cold JVM, is the check pass:
each query is built, and executed by collecting its result, which is
checked against ``expected.json``. It warms the JVM and is left out of
the timing metrics, because cold-JVM query times are a different
population (1.3-2x the warm ones) and a median over both sits on the
boundary between them. The timed passes follow, each on a session
restarted in the warm JVM: ``timed_passes`` of them (more only if they
have not yet measured ``--seconds`` seconds).

``--trace 0`` reports the end-to-end metrics: ``setup_s`` (median
set-up, the cold one included), ``suite_s`` (mean timed pass, first
build start to last execute end), ``query_p50_s`` (median over the
queries of each one's mean build plus execute time over the timed
passes), ``query_tail_s`` (over every query attempt of the timed
passes; see ``measure.tail`` for the percentile) and ``peak_rss_mb``
(VmHWM of the JVM plus this process). The times are given at a fixed reference host
speed: each set-up and pass is scaled by the host speed probed just
before and after it (``host_rate``), because on a shared host the
same work runs up to twice as fast from one minute to the next. The
unscaled times are printed as ``raw.*`` and kept in the record.
``--trace 1`` runs the traced pass between two untraced timed passes,
and reports the per-layer metrics of the traced pass. A traced pass
also times the plan step (``executedPlan``), records a span around every call into a
layer, attributes Spark jobs and stages to the span they were
submitted in (status store, by time), and reads the persisted RDDs
after each query; the tracing overhead is the traced pass minus the
mean of the untraced ones, all at the reference host speed (the warm
passes still speed up one after another, so one untraced pass before
the traced one would make the overhead come out negative). Self time per
layer is printed and recorded. A traced set-up also times one direct
``sources.io.read_table`` call per fixture table.

The last line on stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``; the lines before it print every metric by
name with its unit, and ``failed_frac``. The full record (environment,
query order, per-query split and counts, spans) is written to
``.bench_build/perfbench/records/<workload>/``; ``compare.py`` reads
those records.

The first run in a checkout builds the lake layouts in a child process
before anything is timed. All files the run writes stay under
``.bench_build/perfbench``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import platform
import random
import statistics
import subprocess
import sys
import time

T_START = time.time()

from answers import mismatches, spark_answer  # noqa: E402
from measure import (  # noqa: E402
    attribute,
    busy_ratio,
    failed_frac,
    TAIL_BEYOND,
    end_to_end,
    layer_self_times,
    plan_counts,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
SF_DIR = os.path.join(HERE, "fixture", "sf0.01")
SCRATCH = os.path.join(WORK, "scratch")
PREPARED = os.path.join(WORK, "prepared")

#: Pinned deployment: driver heap and the engine's knobs are fixed here,
#: not inherited, so every record describes the same deployment.
DRIVER_MEM = "2g"
#: Query times a run takes, over its timed passes, at least: 2 passes
#: of ``short_sql`` give 24 (``query_tail_s`` is the 58th percentile),
#: 3 of ``driver_build`` 18 (the 44th). A 90th percentile needs 100,
#: over five times what one run's time allows on ``driver_build``.
TAIL_SAMPLES = 18
#: Timed passes per run, never fewer and never more.
MIN_TIMED, MAX_TIMED = 2, 4
#: Fixed warm-up after each session start: one relational query, then
#: a small local DataFrame, built the way the engine builds its
#: broadcast dimensions, which starts the session's Python workers
#: (about 1.7 s that would otherwise land on whichever query first
#: needs them).
WARMUP = ("reference_pipeline",)
#: Host speed the timing metrics are expressed at, in ``host_rate``
#: loop iterations per second (on a shared 4-vCPU VM with Python 3.11
#: the probe read 45e6 to 99e6, mostly 65e6 to 85e6).
REF_RATE = 80e6
#: Seconds one ``host_rate`` probe counts for.
PROBE_S = 0.4
# One probe process: wait for the common start instant, then count in
# a pure-Python loop for the given span and print iterations per second.
_PROBE = """
import sys, time
def count(span):
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < span:
        for _ in range(10000):
            n += 1
    return n / (time.perf_counter() - t0)
start, span = float(sys.argv[1]), float(sys.argv[2])
time.sleep(max(0.0, start - time.time()))
print(count(span))
"""


def load_json(name: str):
    with open(os.path.join(HERE, name)) as fh:
        return json.load(fh)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment() -> dict:
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    local = os.path.join(WORK, "local")
    tmp = os.path.join(WORK, "tmp")
    for d in (local, tmp, SCRATCH):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # the short launcher JVM that spark-submit starts first
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
    })
    return {
        "cores": cores(),
        "driver_mem": DRIVER_MEM,
        "spark_local_dirs": local,
        "python": platform.python_version(),
    }


def spark_conf() -> dict:
    tmp = os.path.join(WORK, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


class Engine:
    """The engine's public entry points, with its scratch root moved
    into the benchmark's work directory."""

    def __init__(self):
        sys.path.insert(0, ROOT)
        from etl_pyspark_spark import registry, session
        from etl_pyspark_spark.queries import _shared
        from etl_pyspark_spark.sources import bucketed, io

        self.registry, self.session, self.io = registry, session, io
        self.queries = registry.QUERIES
        # The engine roots its lake layouts at one fixed directory.
        # Point every module's copy of that root (and the bucketed
        # layout's default path) at the work directory instead.
        old = _shared._SCRATCH
        for name, mod in list(sys.modules.items()):
            if name.startswith("etl_pyspark_spark") and getattr(mod, "_SCRATCH", None) == old:
                mod._SCRATCH = SCRATCH
        fn = bucketed.ensure_bucketed_fixtures
        fn.__defaults__ = tuple(
            d.replace(old, SCRATCH, 1) if isinstance(d, str) and d.startswith(old) else d
            for d in fn.__defaults__
        )

    def start(self):
        spark = self.session.get_session(app_name="perfbench", extra_conf=spark_conf())
        spark.sparkContext.setLogLevel("ERROR")
        return spark


def host_rate() -> float:
    """Loop iterations per second that all cores together sustain now:
    one pure-Python counting loop per core, in child processes that
    start at one instant and count for ``PROBE_S`` seconds. The engine
    plays no part in it, so it follows only the host: on a shared host
    the same work runs up to twice as fast from one minute to the next,
    as other guests come and go."""
    start = time.time() + 0.2
    cmd = [sys.executable, "-I", "-S", "-c", _PROBE, repr(start), repr(PROBE_S)]
    procs = [subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True) for _ in range(cores())]
    try:
        return sum(float(p.communicate(timeout=60)[0]) for p in procs)
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
            p.wait()


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def tree_files(top: str, suffix: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, files in os.walk(top)
        for f in files
        if f.endswith(suffix)
    ]


def timed_passes(n_queries: int) -> int:
    """Timed passes for a workload of ``n_queries``: enough for
    ``TAIL_SAMPLES`` query times, within ``MIN_TIMED``..``MAX_TIMED``."""
    return min(MAX_TIMED, max(MIN_TIMED, math.ceil(TAIL_SAMPLES / n_queries)))


def prepare() -> None:
    """Build the lake layouts (child process, once per checkout)."""
    engine = Engine()
    spark = engine.start()
    engine.registry.ensure_layouts(spark, SF_DIR)
    shutdown(spark)
    with open(PREPARED, "w") as fh:
        fh.write(engine.io.fixture_fingerprint(SF_DIR, *engine.io.FIXTURE_TABLES))


# --------------------------------------------------------------- tracing

class Tracer:
    """Spans kept in memory; ``enabled`` False records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []

    def add(self, name, layer, start, end, trace, parent=None) -> str | None:
        if not self.enabled:
            return None
        sid = f"{trace}/{len(self.spans)}"
        self.spans.append({
            "id": sid, "trace": trace, "name": name, "layer": layer,
            "start": start, "end": end, "parent": parent,
        })
        return sid


def _opt_ms(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


def status_events(spark) -> tuple[list[dict], list[dict]]:
    """Every job and stage attempt in the JVM status store, with its
    submission time in epoch ms. The five-argument ``stageList`` works
    with the UI off."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm = spark._jvm
    jobs = []
    seq = store.jobsList(None)
    for i in range(seq.size()):
        j = seq.apply(i)
        jobs.append({"id": j.jobId(), "at": _opt_ms(j.submissionTime()), "tasks": j.numTasks()})
    stages = []
    seq = store.stageList(
        None, False, False,
        sc._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    for i in range(seq.size()):
        s = seq.apply(i)
        at = _opt_ms(s.submissionTime())
        if at is None:  # skipped: never ran
            continue
        stages.append({
            "id": s.stageId(), "attempt": s.attemptId(), "at": at,
            "tasks": s.numCompleteTasks() + s.numFailedTasks() + s.numKilledTasks(),
            "run_ms": s.executorRunTime(),
            "gc_ms": s.jvmGcTime(),
            "shuffle_write": s.shuffleWriteBytes(),
            "shuffle_read": s.shuffleReadBytes(),
            "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "output": s.outputBytes(),
        })
    return jobs, stages


def cache_state(spark) -> tuple[set, int]:
    """Ids of the persisted RDDs and their memory plus disk bytes."""
    jsc = spark.sparkContext._jsc
    ids = set(int(k) for k in jsc.getPersistentRDDs().keySet().toArray())
    size = sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo())
    return ids, size


def cpu_ticks() -> list[int]:
    """Host-wide CPU time counters (user ... steal) from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for {pid}")


# ------------------------------------------------------------------ run

def setup(engine, tracer, cycle, t0) -> tuple[object, dict]:
    trace = f"setup{cycle}"
    t1 = time.time()
    spark = engine.start()
    t2 = time.time()
    engine.registry.ensure_layouts(spark, SF_DIR)
    t3 = time.time()
    for name in WARMUP:
        force(engine.queries[name](spark, SF_DIR))
    force(spark.createDataFrame([(i,) for i in range(cores())], "i int"))
    t4 = time.time()
    root = tracer.add("setup", "setup", t0, t4, trace)
    tracer.add("session.get_session", "session", t1, t2, trace, root)
    tracer.add("registry.ensure_layouts", "registry", t2, t3, trace, root)
    tracer.add("warmup", "warmup", t3, t4, trace, root)
    return spark, {"setup_s": t4 - t0, "boot_s": t2 - t1, "layouts_s": t3 - t2, "warmup_s": t4 - t3}


def read_probe(engine, spark, tracer) -> list[dict]:
    """One direct ``read_table`` call per fixture table."""
    out = []
    for table in engine.io.FIXTURE_TABLES:
        t0 = time.time()
        engine.io.read_table(spark, SF_DIR, table)
        t1 = time.time()
        sid = tracer.add("sources.read_table", "sources", t0, t1, f"read.{table}")
        out.append({"table": table, "s": t1 - t0, "span": sid})
    return out


def run_pass(engine, spark, order, cycle, kind, tracer, expected=None) -> dict:
    """One pass over ``order``: build, (plan,) execute each query. With
    ``expected`` (the check pass), each built query is executed once,
    by collecting its result, and checked instead; that time is kept
    apart from the pass time."""
    traced = tracer.enabled
    queries = []
    persisted_before = cache_state(spark)[0] if traced else set()
    seen: set = set()
    check_s = 0.0
    start = time.time()
    for i, name in enumerate(order):
        trace = f"c{cycle}.q{i}"
        q = {"query": name, "trace": trace, "error": None}
        t0 = t1 = t2 = time.time()
        try:
            df = engine.queries[name](spark, SF_DIR)
            t1 = t2 = time.time()
            if traced:
                tree = df._jdf.queryExecution().executedPlan().toString()
                t2 = time.time()
            if expected is None:
                force(df)
        except Exception as exc:  # a failing query is a result, not a crash
            q["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
            df = None
        t3 = time.time()
        q.update(build_s=t1 - t0, plan_s=t2 - t1, execute_s=t3 - t2, query_s=(t1 - t0) + (t3 - t2))
        if traced:
            root = tracer.add("query", "query", t0, t3, trace)
            q["spans"] = {
                "build": tracer.add("build", "queries", t0, t1, trace, root),
                "plan": tracer.add("plan", "plans", t1, t2, trace, root),
                "execute": tracer.add("execute", "execute", t2, t3, trace, root),
            }
            if q["error"] is None:
                q["plan"] = plan_counts(tree)
            ids, size = cache_state(spark)
            seen |= ids - persisted_before
            q["cached_rdds"], q["cached_mb"] = len(ids), size / 2**20
        if expected is not None and df is not None:
            c0 = time.time()
            try:
                q["check"] = check(name, df, expected)
            except Exception as exc:
                q["check"] = [f"check raised {type(exc).__name__}: {str(exc)[:300]}"]
            check_s += time.time() - c0
        queries.append(q)
    return {
        "cycle": cycle, "kind": kind, "traced": traced, "queries": queries,
        "suite_s": time.time() - start - check_s, "check_s": check_s,
        "new_persists": len(seen),
    }


def check(name, df, expected) -> list[str]:
    want = expected.get(name)
    if want is None:
        return ["no expected answer"]
    return mismatches(want, spark_answer(df))


def attribute_pass(p: dict, spans: list[dict], jobs, stages, cores: int) -> dict:
    """Per-query and per-pass layer counters of a traced pass."""
    by_span: dict[str, dict] = {}
    mine = [s for s in spans if s["trace"].startswith(f"c{p['cycle']}.")]
    for kind, events in (("jobs", jobs), ("stages", stages)):
        for e in events:
            if e["at"] is None:
                continue
            sid = attribute(mine, e["at"])
            if sid is not None:
                by_span.setdefault(sid, {"jobs": [], "stages": []})[kind].append(e)
    tot = {
        "build_s": 0.0, "plan_s": 0.0, "execute_s": 0.0,
        "build_jobs": 0, "build_tasks": 0, "plan_jobs": 0,
        "execute_jobs": 0, "execute_stages": 0, "execute_tasks": 0,
        "executor_run_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
        "shuffle_read_mb": 0.0, "spill_mb": 0.0, "output_mb": 0.0,
        "exchanges": 0, "sort_merge_joins": 0, "python_evals": 0, "cache_scans": 0,
        "cached_rdds_max": 0, "cached_mb_max": 0.0,
    }
    for q in p["queries"]:
        for step, sid in q["spans"].items():
            got = by_span.get(sid, {"jobs": [], "stages": []})
            st = got["stages"]
            q[f"{step}_jobs"] = len(got["jobs"])
            q[f"{step}_stages"] = len(st)
            q[f"{step}_tasks"] = sum(s["tasks"] for s in st)
            tot["output_mb"] += sum(s["output"] for s in st) / 2**20
            if step == "execute":
                tot["executor_run_s"] += sum(s["run_ms"] for s in st) / 1000
                tot["gc_s"] += sum(s["gc_ms"] for s in st) / 1000
                tot["shuffle_write_mb"] += sum(s["shuffle_write"] for s in st) / 2**20
                tot["shuffle_read_mb"] += sum(s["shuffle_read"] for s in st) / 2**20
                tot["spill_mb"] += sum(s["spill"] for s in st) / 2**20
        for k in ("build_s", "plan_s", "execute_s"):
            tot[k] += q[k]
        tot["build_jobs"] += q["build_jobs"]
        tot["build_tasks"] += q["build_tasks"]
        tot["plan_jobs"] += q["plan_jobs"]
        tot["execute_jobs"] += q["execute_jobs"]
        tot["execute_stages"] += q["execute_stages"]
        tot["execute_tasks"] += q["execute_tasks"]
        for k, v in q.get("plan", {}).items():
            tot[k] += v
        tot["cached_rdds_max"] = max(tot["cached_rdds_max"], q["cached_rdds"])
        tot["cached_mb_max"] = max(tot["cached_mb_max"], q["cached_mb"])
    tot["build_share"] = tot["build_s"] / max(tot["build_s"] + tot["execute_s"], 1e-9)
    tot["busy_ratio"] = busy_ratio(tot["executor_run_s"], tot["execute_s"], cores)
    tot["cache_reuse_ratio"] = tot["cache_scans"] / p["new_persists"] if p["new_persists"] else 0.0
    return tot


def per_layer(setups, passes, reads, layers) -> dict:
    traced = [p for p in passes if p["kind"] == "traced"]
    untraced = [p for p in passes if p["kind"] == "timed"]

    def med(key):
        return statistics.median([lay[key] for lay in layers])

    return {
        "session.boot_s": (statistics.median([s["boot_s"] for s in setups]), "s"),
        "registry.ensure_layouts_s": (statistics.median([s["layouts_s"] for s in setups]), "s"),
        "sources.read_table_s": (statistics.median([r["s"] for r in reads]), "s"),
        "sources.read_table_jobs": (sum(r["jobs"] for r in reads) / len(reads), "count"),
        "sources.output_mb": (med("output_mb"), "MB"),
        "queries.build_s": (med("build_s"), "s"),
        "queries.build_jobs": (med("build_jobs"), "count"),
        "queries.build_tasks": (med("build_tasks"), "count"),
        "queries.build_share": (med("build_share"), "ratio"),
        "plans.plan_s": (med("plan_s"), "s"),
        "plans.exchanges": (med("exchanges"), "count"),
        "plans.sort_merge_joins": (med("sort_merge_joins"), "count"),
        "plans.python_evals": (med("python_evals"), "count"),
        "plans.cache_scans": (med("cache_scans"), "count"),
        "execute.execute_s": (med("execute_s"), "s"),
        "execute.jobs": (med("execute_jobs"), "count"),
        "execute.stages": (med("execute_stages"), "count"),
        "execute.tasks": (med("execute_tasks"), "count"),
        "execute.executor_run_s": (med("executor_run_s"), "s"),
        "execute.busy_ratio": (med("busy_ratio"), "ratio"),
        "execute.shuffle_write_mb": (med("shuffle_write_mb"), "MB"),
        "execute.shuffle_read_mb": (med("shuffle_read_mb"), "MB"),
        "execute.spill_mb": (med("spill_mb"), "MB"),
        "execute.gc_s": (med("gc_s"), "s"),
        "checkpoint.cached_rdds_max": (med("cached_rdds_max"), "count"),
        "checkpoint.cached_mb_max": (med("cached_mb_max"), "MB"),
        "checkpoint.cache_reuse_ratio": (med("cache_reuse_ratio"), "ratio"),
        # both passes at the reference host speed, like suite_s
        "trace.overhead_s": (
            statistics.median([p["suite_s"] * p["host_speed"] for p in traced])
            - statistics.median([p["suite_s"] * p["host_speed"] for p in untraced]),
            "s",
        ),
    }


def environment(engine, spark, env: dict, seed: int) -> dict:
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except OSError:
        commit = None
    return {
        **env,
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "git_commit": commit,
        "engine_digest": digest(tree_files(os.path.join(ROOT, "etl_pyspark_spark"), ".py")),
        "seed": seed,
        "fixture": SF_DIR,
        "fixture_fingerprint": engine.io.fixture_fingerprint(SF_DIR, *engine.io.FIXTURE_TABLES),
        "fixture_digest": digest(tree_files(SF_DIR, ".parquet")),
    }


def main(argv=None) -> list[str]:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "etl_pyspark_spark", "registry.py")):
        raise SystemExit("perfbench: engine package etl_pyspark_spark not found")
    env = pin_environment()
    if args.prepare:
        prepare()
        return []
    workloads = load_json("workloads.json")
    if args.workload not in workloads:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}; have {sorted(workloads)}")
    # The host's speed is probed before each set-up and after the last
    # pass; a set-up and the pass after it take the mean of the probes
    # either side as their ``host_speed`` (1.0 = ``REF_RATE``). The
    # probe and the layout build are left out of the cold set-up.
    p0 = time.time()
    rates = [host_rate()]
    excluded_s = time.time() - p0
    engine = Engine()
    expected = load_json("expected.json")
    order = list(workloads[args.workload]["queries"])
    random.Random(args.seed).shuffle(order)
    if len(order) * timed_passes(len(order)) <= TAIL_BEYOND:
        raise SystemExit(f"perfbench: {args.workload} gives too few query times for a tail")

    if not os.path.isfile(PREPARED):
        p0 = time.time()
        subprocess.run([sys.executable, os.path.abspath(__file__), "--prepare"], check=True, timeout=850)
        excluded_s += time.time() - p0

    # Every pass gets a fresh session. The first follows the cold
    # set-up and checks every result; the timed passes follow. In a
    # traced run two of them are the base of the tracing overhead.
    kinds = ["check"] + (["timed", "traced", "timed"] if args.trace else ["timed"] * timed_passes(len(order)))
    ticks = cpu_ticks()
    tracer = Tracer(False)
    setups, passes, layers, reads = [], [], [], []
    measured = 0.0
    spark, t0 = None, T_START
    while len(passes) < len(kinds) or measured < args.seconds:
        cycle = len(passes)
        kind = kinds[cycle] if cycle < len(kinds) else "timed"
        if spark is not None:
            spark.stop()
            rates.append(host_rate())
            t0 = time.time()
        tracer.enabled = kind == "traced"
        spark, s = setup(engine, tracer, cycle, t0)
        if cycle == 0:
            s["setup_s"] -= excluded_s
            env_record = environment(engine, spark, env, args.seed)
        setups.append(s)
        if tracer.enabled:
            reads = read_probe(engine, spark, tracer)
        p = run_pass(engine, spark, order, cycle, kind, tracer, expected if kind == "check" else None)
        if tracer.enabled:
            jobs, stages = status_events(spark)
            layers.append(attribute_pass(p, tracer.spans, jobs, stages, env["cores"]))
            count_read_jobs(reads, tracer.spans, jobs)
        passes.append(p)
        if kind != "check":
            measured += p["suite_s"]
    peak = vm_hwm_mb(spark._jvm.java.lang.ProcessHandle.current().pid()) + vm_hwm_mb("self")
    shutdown(spark)
    rates.append(host_rate())
    for i, (s, p) in enumerate(zip(setups, passes)):
        s["host_speed"] = p["host_speed"] = (rates[i] + rates[i + 1]) / 2 / REF_RATE

    runs = [q for p in passes for q in p["queries"]]
    attempted = len(runs)
    bad = [q for q in runs if q["error"] is not None or q.get("check")]
    failed = len(bad)
    failed_q = sorted({q["query"] for q in bad})
    extra = {"failed_frac": failed_frac(failed, attempted), "failed_queries": failed_q}
    if args.trace:
        metrics = per_layer(setups, passes, reads, layers)
        extra["self_s"] = layer_self_times(tracer.spans)
    else:
        metrics, raw, tail_info = end_to_end(setups, [p for p in passes if p["kind"] == "timed"])
        metrics["peak_rss_mb"] = (peak, "MB")
        extra.update(tail_info, raw=raw)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "started": T_START, "host_steal_share": steal_share(ticks, cpu_ticks()),
        "trace": args.trace, "environment": env_record, "order": order,
        "excluded_s": excluded_s, "host_rates": rates, "setups": setups, "passes": passes, "layers": layers,
        "reads": reads, "spans": tracer.spans,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        **extra, "peak_rss_mb": peak, "attempted": attempted, "failed": failed,
    }
    out_dir = os.path.join(WORK, "records", args.workload)
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"seed{args.seed}-trace{args.trace}-{int(T_START * 1000)}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    lines = [f"{args.workload} {k} {v:.6g} {u}" for k, (v, u) in metrics.items()]
    lines += [f"{args.workload} self.{k}_s {v:.6g} s" for k, v in extra.get("self_s", {}).items()]
    lines += [f"{args.workload} raw.{k} {v:.6g} s" for k, v in extra.get("raw", {}).items()]
    lines.append(f"{args.workload} host_speed {statistics.median(rates) / REF_RATE:.4f} ratio")
    lines.append(
        f"{args.workload} failed_frac {extra['failed_frac']:.6g} ratio ({failed} of {attempted})"
    )
    lines.append(f"{args.workload} host_steal_share {record['host_steal_share']:.4f} ratio")
    lines += [f"{args.workload} failed {name}" for name in failed_q]
    lines.append(f"record {os.path.relpath(path, ROOT)}")
    lines.append(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": record["metrics"],
    }))
    return lines


def count_read_jobs(reads: list[dict], spans: list[dict], jobs: list[dict]) -> None:
    """Jobs submitted inside each direct ``read_table`` span."""
    for r in reads:
        mine = [s for s in spans if s["id"] == r["span"]]
        r["jobs"] = sum(1 for j in jobs if j["at"] is not None and attribute(mine, j["at"]))


def shutdown(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to
    exit (it exits when its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


if __name__ == "__main__":
    # Keep stdout for the result lines: everything else, this process,
    # the JVM and every child process included, writes to stderr.
    sys.stdout.flush()
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    result = main()
    with result_out:
        for line in result:
            print(line, file=result_out)
