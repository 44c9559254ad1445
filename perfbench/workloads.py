"""The two workloads and the run that drives them.

Both run over their own seeded inputs, with one driver process and one
closed-loop client (each request is sent after the previous one's rows
are collected):

* ``ingest`` times a committed build through the work-order ladder
  (``plans.indexer.index_order`` + ``run_index_order``) and a sequence
  of delta commits through ``index.update.apply_update``, then checks the
  updated index with the 25-query ``index.boolean.boolean_topk`` batch;
* ``search_small`` builds in set-up, then times the batch and a stream
  of whole cycles of Solr-style ``index.search.search`` requests for
  ``--seconds``.

A traced run adds the other workload's operation (one request of each
kind after ``ingest``'s commits, a delta after ``search_small``'s
stream), so that every layer reports on both.
"""

from __future__ import annotations

import hashlib
import json
import os
import platform
import re
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import asdict, dataclass

import numpy as np

import inputs
from expected import Cached
from spans import Tracer

from spcht_spark.index.build import DEFAULT_SHARD_SPAN

MAX_CYCLES = 6  # most request cycles one stream sends
DELTA_FRAC = 0.01  # a delta upserts, inserts and deletes each this share of the docs
BATCH_REPEATS = 3  # the batch is timed this many times; the median counts

STAGES = ["ingest", "tokens", "doclens", "stats", "blocks", "dictionary", "skew"]
UPDATED_STAGES = ["doclens", "dictionary", "stats", "blocks", "skew"]


@dataclass(frozen=True)
class Workload:
    name: str
    n_docs: int
    lines: tuple[int, int]   # min/max lines per doc (3-12 tokens per line)
    shard_span: int
    stream: bool              # times a request stream (else delta commits)
    deltas: int = 0           # delta commits in sequence after the build


WORKLOADS = {
    "ingest": Workload("ingest", 6000, (10, 80), 1024, stream=False, deltas=2),
    "search_small": Workload("search_small", 6000, (5, 35), DEFAULT_SHARD_SPAN, stream=True),
}

END_TO_END = {
    "setup_s": "s",
    "build_docs_per_s": "docs/s",
    "op_p50_ms": "ms",
    "batch_queries_per_s": "q/s",
}


# --- route detection from the analyzed plan ---------------------------

_FUSED_RE = re.compile(r"RepartitionByExpression \[query_id#\d+\]")
_CASCADE_RE = re.compile(r"(?<![A-Za-z0-9_])run\(")


def plan_text(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def routes_of(plan: str) -> dict:
    """Which engine branches a hits frame runs, read from its plan:
    the WAND / skipping-AND / full-decode routes, the θ-cascade (the
    second-phase WAND runner), the salted top-k pre-window
    (``pmod(xxhash64(doc_id), 64)``) and unfused full-path scoring (no
    query_id-only repartition ahead of the aggregation)."""
    cascade = bool(_CASCADE_RE.search(plan))
    full = "_decode_batches(" in plan
    return {
        "wand": cascade or "_wand_run_group(" in plan or "_wand_run_filtered(" in plan,
        "and": "_and_run_group(" in plan,
        "full": full,
        "cascade": cascade,
        "salted": "pmod(xxhash64(" in plan,
        "unfused": full and not _FUSED_RE.search(plan),
    }


# --- host and process facts -------------------------------------------

def _cpu_times() -> tuple[float, float, float]:
    """Host-wide (user + nice, system, steal) CPU seconds from /proc/stat."""
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    tick = os.sysconf("SC_CLK_TCK")
    return (int(f[1]) + int(f[2])) / tick, int(f[3]) / tick, int(f[8]) / tick


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as fh:
                    todo += [int(c) for c in fh.read().split()]
        except OSError:
            continue
    return out


def _vm_hwm_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
    )


def _source_digest(root: str) -> str:
    h = hashlib.sha256()
    pkg = os.path.join(root, "spcht_spark")
    for r, _, fs in sorted(os.walk(pkg)):
        for f in sorted(fs):
            if f.endswith(".py"):
                p = os.path.join(r, f)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def _commit(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


# --- expected answers, cached per seed --------------------------------

# the package files the inputs and the answers read: the vocabulary and
# reference queries, the oracle, its token regex and ast_to_duckdb
ANSWER_SOURCES = ["corpus.py", "oracle.py", "index/tokenize.py", "index/boolean.py"]


def _expected(wl: Workload, seed: int, here: str, corpus, delta) -> Cached:
    """The seed's answer cache, keyed by the workload's sizes and the
    code that makes the inputs and the answers, the package's included."""
    h = hashlib.sha256(json.dumps(asdict(wl), sort_keys=True).encode())
    pkg = os.path.join(os.path.dirname(here), "spcht_spark")
    for f in [os.path.join(here, "inputs.py"), os.path.join(here, "expected.py")] + [
        os.path.join(pkg, f) for f in ANSWER_SOURCES
    ]:
        with open(f, "rb") as fh:
            h.update(fh.read())
    path = os.path.join(here, ".cache", f"{wl.name}-s{seed}-{h.hexdigest()[:16]}.json")
    return Cached(path, corpus, delta)


# --- the run ------------------------------------------------------------

class Run:
    def __init__(self, wl: Workload, args, workdir: str, facts: dict):
        self.wl, self.args, self.workdir, self.facts = wl, args, workdir, facts
        self.attempted = 0
        self.failures: list[dict] = []
        self.route_errors: list[str] = []
        self.timings: dict = {"requests": [], "updates": [], "batch": [], "phases": {}}
        self.layers: dict[str, list[float]] = {}
        self._mark = time.perf_counter()

    def phase(self, name: str) -> None:
        """Record the wall since the previous phase mark."""
        now = time.perf_counter()
        self.timings["phases"][name] = now - self._mark
        self._mark = now

    def fail(self, op: str, why: str) -> None:
        self.failures.append({"op": op, "why": why[-2000:]})

    def layer(self, name: str, value: float) -> None:
        self.layers.setdefault(name, []).append(float(value))

    def op(self, name: str, fn, *a, **kw):
        """Run one checked operation; an exception counts as a failure."""
        self.attempted += 1
        try:
            return fn(*a, **kw)
        except Exception:  # noqa: BLE001 — the run reports and carries on
            self.fail(name, traceback.format_exc())
            return None


def _configure_env(root: str, workdir: str) -> dict:
    """Size the session from the host, before anything starts a JVM.

    Cores come from the CPUs this process may use (``nproc``, passed to
    ``get_spark(cores=…)``); driver memory is 30% of MemTotal, through
    ``SPCHT_SPARK_DRIVER_MEM`` (the package default of 64g exceeds small
    hosts); Spark's scratch space lives in the run's work directory; the
    Python workers import the package from this checkout."""
    cores = len(os.sched_getaffinity(0))
    mem_gib = max(2, int(_mem_total_kib() * 0.3 / (1 << 20)))
    os.environ["SPCHT_SPARK_DRIVER_MEM"] = f"{mem_gib}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    return {"cores": cores, "driver_memory": f"{mem_gib}g"}


def run(args, t_process: float) -> int:
    """One run in its own work directory, removed however the run ends."""
    here = os.path.dirname(os.path.abspath(__file__))
    workdir = os.path.join(here, ".work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    try:
        return _run(args, t_process, here, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@dataclass
class Delta:
    """One delta commit: its parquet, the frames it was written from,
    and the live corpus it applies to."""
    dir: str
    changed: object   # pandas frame of upserts and inserts
    deleted: np.ndarray
    before: object    # pandas frame of the corpus before the commit


def _inputs(wl: Workload, seed: int, workdir: str, traced: bool):
    """The seed's corpus and deltas as parquet, plus the frames the
    expected answers are computed from."""
    base = inputs.corpus(seed, wl.n_docs, *wl.lines)
    corpus_dir = os.path.join(workdir, "corpus")
    inputs.write_parquet(base, corpus_dir, 8)
    live, deltas = base, []
    for j in range(wl.deltas if not wl.stream else 1 if traced else 0):
        changed, deleted = inputs.delta(seed, j, live["doc_id"].to_numpy(), DELTA_FRAC, *wl.lines)
        d = Delta(os.path.join(workdir, f"delta{j}"), changed, deleted, live)
        inputs.write_parquet(changed, os.path.join(d.dir, "changed"), 1)
        inputs.write_ids(deleted, os.path.join(d.dir, "deleted"))
        deltas.append(d)
        live = inputs.apply_delta(live, changed, deleted)
    final_dir = os.path.join(workdir, "final")
    if not wl.stream:
        inputs.write_parquet(live, final_dir, 8)
    return base, live, corpus_dir, final_dir, deltas


def _run(args, t_process: float, here: str, workdir: str) -> int:
    wl = WORKLOADS[args.workload]
    root = os.path.dirname(here)
    facts = _configure_env(root, workdir)
    R = Run(wl, args, workdir, facts)
    cpu0 = _cpu_times()
    res: dict = {}
    spark = gw = exp = tracer = None
    try:
        # -- inputs (set-up): parquet is all the program sees -------------
        base, final, corpus_dir, final_dir, deltas = _inputs(wl, args.seed, workdir, bool(args.trace))
        # a stream sends whole cycles until --seconds; a traced ingest run,
        # after its commits, the first request of each kind in one cycle
        reqs = inputs.requests(args.seed, (MAX_CYCLES if wl.stream else 1) * inputs.CYCLE_LEN)
        if not wl.stream:
            reqs = sorted({r["kind"]: r for r in reversed(reqs)}.values(), key=lambda r: r["id"])
        batch = inputs.batch(args.seed)
        res["setup_s"] = time.perf_counter() - t_process
        R.phase("inputs")

        # expected answers: computed outside set-up on first use, cached
        # per seed. A stream's answers are over the base corpus (a traced
        # run's one delta comes after its requests); ingest's over the
        # corpus after every delta.
        if wl.stream:
            exp = _expected(wl, args.seed, here, base,
                            (deltas[0].changed, deltas[0].deleted) if deltas else None)
        else:
            exp = _expected(wl, args.seed, here, final, None)

        # -- session --------------------------------------------------------
        t = time.perf_counter()
        import pyspark
        from pyspark.sql import functions as F

        from spcht_spark.session import get_spark

        spark = get_spark(
            "perfbench", cores=facts["cores"],
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        gw = spark.sparkContext._gateway
        facts["pyspark"] = pyspark.__version__
        res["setup_s"] += time.perf_counter() - t
        R.phase("session")
        tracer = Tracer(spark, enabled=bool(args.trace))
        _lifecycle(R, spark, F, tracer, wl, args, corpus_dir, final_dir, deltas,
                   reqs, batch, exp, res)
        rss = {p: _vm_hwm_kib(p) / 1024.0 for p in _descendants(gw.proc.pid)}
        R.layer("host.jvm_peak_rss_mb", rss[gw.proc.pid])
        R.layer("host.workers_peak_rss_mb", sum(rss.values()) - rss[gw.proc.pid])
        R.layer("host.peak_rss_mb", sum(rss.values()))
    except Exception:  # noqa: BLE001 — a broken layer is a failed run, still reported
        R.attempted += 1
        R.fail("run", traceback.format_exc())
    finally:
        R.phase("lifecycle")
        try:
            if spark is not None:
                _stop(spark, gw)
            if exp is not None:
                exp.save()
        except Exception:  # noqa: BLE001
            R.attempted += 1
            R.fail("stop", traceback.format_exc())
        R.phase("stop")
    cpu1 = _cpu_times()
    user_s, sys_s, steal_s = (b - a for a, b in zip(cpu0, cpu1))
    facts.update({
        "commit": _commit(root),
        "source_sha256": _source_digest(root),
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "mem_total_kib": _mem_total_kib(),
        "python": platform.python_version(),
        "host_user_cpu_s": user_s,
        "host_sys_cpu_s": sys_s,
        "host_steal_cpu_s": steal_s,
    })
    R.layer("host.user_cpu_s", user_s)
    R.layer("host.sys_frac", sys_s / max(user_s + sys_s, 1e-9))
    metrics = _metrics(R, res, bool(args.trace))
    correct = not R.failures and not R.route_errors
    out = {
        "correct": correct,
        "attempted": R.attempted,
        "failed": len(R.failures),
        "metrics": metrics,
    }
    try:
        _record(here, facts, R, out, tracer)
    except OSError as e:
        print(f"perfbench: run record not written: {e}", file=sys.stderr, flush=True)
    for f in R.failures[:5]:
        print(f"perfbench: FAILED {f['op']}: {f['why'].strip().splitlines()[-1]}", flush=True)
    for e in R.route_errors:
        print(f"perfbench: ROUTE {e}", flush=True)
    print(json.dumps(out), flush=True)
    return 0


def _mem_total_kib() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def _stop(spark, gw) -> None:
    """Stop the session, end the JVM and wait for it and its workers."""
    proc = getattr(gw, "proc", None)
    kids = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=10)
    deadline = time.time() + 15
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _lifecycle(R: Run, spark, F, tracer, wl, args, corpus_dir, final_dir, deltas,
               reqs, batch, exp, res: dict) -> None:
    """Build, then (per workload) commit the deltas, send the batch and
    the requests. Timings land in ``res`` as they are taken, so a run
    that fails part way still reports what it measured."""
    from spcht_spark.plans.indexer import FINAL_STAGES, index_order, load_index, run_index_order
    from spcht_spark.plans.workorder import cleanup_order

    idx_dir = os.path.join(R.workdir, "index")

    # -- committed build -----------------------------------------------------
    order = index_order(
        idx_dir, f"build-s{args.seed}", lambda s: s.read.parquet(corpus_dir),
        shard_span=wl.shard_span,
    )
    t = time.perf_counter()
    with tracer.span("build") as sp:
        R.op("build", run_index_order, spark, order)
    build_s = time.perf_counter() - t
    res["build_s"] = build_s
    R.phase("build")
    if tracer.enabled:
        R.layer("workorder.jobs", sp.jobs)
        _build_layers(R, spark, tracer, order, idx_dir, wl)
        R.phase("build_layers")
    cleanup_order(order, keep=FINAL_STAGES)
    if not wl.stream:
        _deltas(R, spark, tracer, wl, idx_dir, deltas, exp)
    index = load_index(spark, idx_dir)
    store = spark.read.parquet(corpus_dir if wl.stream else final_dir)
    R.op("sha256", _check_sha, store)
    R.phase("open")

    if wl.stream:
        res["setup_s"] += build_s

    # -- the batch, then the requests -----------------------------------------
    # the batch goes first: its WAND jobs warm the route that half of the
    # stream's requests take, so fewer of them pay a cold start
    _batch(R, spark, tracer, index, batch, exp)
    R.phase("batch")
    if wl.stream or tracer.enabled:
        _requests(R, spark, F, tracer, wl, args, index, store, reqs, exp)
        R.phase("requests")

    if wl.stream and tracer.enabled:
        _deltas(R, spark, tracer, wl, idx_dir, deltas, exp)


def _check_sha(df) -> None:
    from spcht_spark.corpus import check_sha256_invariant

    bad = check_sha256_invariant(df)
    if bad:
        raise AssertionError(f"sha256 invariant violated on {bad} rows")


def _build_layers(R: Run, spark, tracer, order, idx_dir, wl) -> None:
    """Each build layer alone, forced to a noop sink, reading its input
    from the ladder's committed stages; then the ladder's lineage."""
    from spcht_spark.index.build import (
        build_blocks,
        build_doclens,
        build_stats,
        build_tokens,
        dictionary_from_blocks,
    )
    from spcht_spark.plans.workorder import check_order

    rd = lambda s: spark.read.parquet(os.path.join(idx_dir, s))  # noqa: E731
    with tracer.span("tokenize") as sp:
        _noop(build_tokens(rd("ingest")))
    R.layer("tokenize.s", sp.wall)
    with tracer.span("build.doclens_stats") as sp:
        _noop(build_stats(build_doclens(rd("tokens"))))
    R.layer("build.doclens_stats.s", sp.wall)
    avgdl = float(rd("stats").collect()[0]["avgdl"])
    with tracer.span("build.blocks") as sp:
        _noop(build_blocks(rd("tokens"), avgdl, shard_span=wl.shard_span))
    R.layer("build.blocks.s", sp.wall)
    with tracer.span("build.dictionary") as sp:
        _noop(dictionary_from_blocks(rd("blocks")))
    R.layer("build.dictionary.s", sp.wall)
    report = check_order(order, spark)["stages"]
    for stage in STAGES:
        R.layer(f"workorder.stage_s.{stage}", report[stage]["seconds"])
    postings = report["tokens"]["rows_out"]
    R.layer("tokenize.postings", postings)
    R.layer("build.blocks.rows", report["blocks"]["rows_out"])
    R.layer("workorder.bytes_out.blocks", report["blocks"]["bytes_out"])
    R.layer("workorder.bytes_per_posting", report["blocks"]["bytes_out"] / max(postings, 1))


def _deltas(R: Run, spark, tracer, wl, idx_dir, deltas: list[Delta], exp) -> None:
    """Commit the deltas in sequence, then compare the committed tables
    with a from-scratch build of the corpus after the last one."""
    from spcht_spark.index.update import apply_update
    from spcht_spark.plans.indexer import load_index

    R.op("delta.sha256", _check_sha,
         spark.read.parquet(*[os.path.join(d.dir, "changed") for d in deltas]))
    for j, d in enumerate(deltas):
        changed = spark.read.parquet(os.path.join(d.dir, "changed"))
        deleted = spark.read.parquet(os.path.join(d.dir, "deleted"))
        t = time.perf_counter()
        with tracer.span("update") as sp:
            ok = R.op(f"delta{j}", apply_update, spark, idx_dir, changed, deleted,
                      shard_span=wl.shard_span, run_id=f"delta{j}")
        wall = time.perf_counter() - t
        if ok is None:
            continue
        R.timings["updates"].append(wall)
        if tracer.enabled:
            R.layer("update.s", wall)
            R.layer("update.jobs", sp.jobs)
            R.layer("update.bytes_written_per_changed_doc", sum(
                _dir_bytes(os.path.join(idx_dir, s)) for s in UPDATED_STAGES
            ) / (len(d.changed) + len(d.deleted)))
            R.layer("update.blocks_rewritten_frac", _rewritten_frac(
                spark, idx_dir, wl.shard_span, d.before, d.changed, d.deleted))
    R.phase("deltas")
    idx = load_index(spark, idx_dir)
    want = exp.tables()
    R.op("tables.stats", _same, "stats", _stats_row(idx.stats), want["stats"])
    R.op("tables.dictionary", _same, "dictionary", {
        r["term"]: [int(r["df"]), int(r["cf"])] for r in idx.dictionary.collect()
    }, want["dictionary"])
    R.op("tables.doclens", _same, "doclens", {
        str(r["doc_id"]): int(r["dl"]) for r in idx.doclens.collect()
    }, want["doclens"])
    R.phase("tables")


def _stats_row(stats) -> list:
    r = stats.collect()[0]
    return [int(r["n_docs"]), int(r["total_tokens"]), float(r["avgdl"])]


def _same(what: str, got, want) -> None:
    if got != want:
        raise AssertionError(f"{what} differs from a from-scratch build of the final corpus")


def _rewritten_frac(spark, idx_dir, span, before, changed_pd, deleted_ids) -> float:
    """Blocks of the (term, shard) groups a delta touches ÷ all blocks."""
    old = before[before["doc_id"].isin(np.concatenate([changed_pd["doc_id"], deleted_ids]))]
    keys = set()
    for df in (old, changed_pd):
        for d, c in zip(df["doc_id"].tolist(), df["content"].tolist()):
            keys.update((t, d // span) for t in set(c.split()))
    meta = spark.read.parquet(os.path.join(idx_dir, "blocks")).select("term", "shard").toPandas()
    hit = sum(1 for k in zip(meta["term"], meta["shard"]) if k in keys)
    return hit / max(len(meta), 1)


def _hits_rows(rows) -> list:
    return [[int(r["doc_id"]), float(r["score"])] for r in sorted(rows, key=lambda r: r["rank"])]


def _requests(R: Run, spark, F, tracer, wl, args, index, store, reqs, exp) -> None:
    from spcht_spark.index.search import SearchRequest, search

    meta = None
    if tracer.enabled:
        meta = index.blocks.select("term", "n_docs").toPandas().groupby("term")["n_docs"] \
            .agg(["count", "sum"])
    budget = args.seconds if wl.stream and not tracer.enabled else 0.0
    spent = 0.0
    for i, req in enumerate(reqs):
        if wl.stream and i % inputs.CYCLE_LEN == 0 and i and spent >= budget:
            break
        facets = {"lang": F.col("lang")} if req["facet"] else None
        sreq = SearchRequest(q=req["q"], k=req["k"], fq=req["fq"], facets=facets)
        R.attempted += 1
        try:
            # traced runs also time the request untraced, alternating
            # which goes first, for the tracing overhead
            untraced_first = tracer.enabled and i % 2 == 0
            if untraced_first:
                untraced = _timed_search(spark, search, index, store, sreq, req["id"], facets)
            with tracer.span("search", req=req["id"]) as sp:
                t0 = time.perf_counter()
                resp = search(spark, index, store, sreq, query_id=req["id"])
                t1 = time.perf_counter()
                hits = resp.hits.collect()
                fac = resp.facets.collect() if facets else None
                t2 = time.perf_counter()
            if tracer.enabled and not untraced_first:
                untraced = _timed_search(spark, search, index, store, sreq, req["id"], facets)
        except Exception:  # noqa: BLE001
            R.fail(req["id"], traceback.format_exc())
            continue
        lat = t2 - t0
        spent += lat
        want = exp.request(req)
        routes = routes_of(plan_text(resp.hits))
        R.timings["requests"].append({"id": req["id"], "kind": req["kind"], "s": lat, **routes})
        _check_routes(R, req, routes)
        if _hits_rows(hits) != want["hits"]:
            R.fail(req["id"], f"hits differ for q={req['q']!r} fq={req['fq']!r}")
        if facets and {r["value"]: int(r["n"]) for r in fac} != want["facets"]:
            R.fail(req["id"], f"facet counts differ for q={req['q']!r}")
        if tracer.enabled:
            R.layer("search.build_ms", 1e3 * (t1 - t0))
            R.layer("search.collect_ms", 1e3 * (t2 - t1))
            R.layer("search.jobs_per_request", sp.jobs)
            R.layer("search.tasks_per_request", sp.tasks)
            R.layer("search.py4j_per_request", sp.py4j)
            R.layer("trace.overhead_ms", 1e3 * (sp.wall - untraced))
            R.layer(f"search.p50_ms.{req['kind']}", 1e3 * untraced)
            _replay(R, spark, F, tracer, index, store, req, meta, len(hits), sp.wall)
    done = R.timings["requests"]
    R.layer("search.requests", len(done))
    R.layer("query.salted_frac", sum(r["salted"] for r in done) / max(len(done), 1))


def _timed_search(spark, search, index, store, sreq, qid, facets) -> float:
    t0 = time.perf_counter()
    r = search(spark, index, store, sreq, query_id=qid)
    r.hits.collect()
    if facets:
        r.facets.collect()
    return time.perf_counter() - t0


def _check_routes(R: Run, req: dict, routes: dict) -> None:
    """Every workload here sits below both scale gates: hits-only
    requests must take neither the salted top-k, the θ-cascade nor
    unfused scoring, and each kind must take its own route."""
    bad = [k for k in ("cascade", "unfused") if routes[k]]
    if req["kind"] == "facet":
        # the facet path ranks its shared match set through topk()
        # without the corpus size, so it salts at any size; its decode
        # sits behind that shared checkpoint, out of the plan's sight
        want = None
    else:
        want = {"or": "wand", "fq": "wand", "and": "and", "not": "full"}[req["kind"]]
        if routes["salted"]:
            bad.append("salted")
    if want and not routes[want]:
        bad.append(f"not-{want}")
    if bad:
        R.route_errors.append(f"{req['id']} ({req['kind']}: {req['q']!r}) took {bad}")


def _replay(R: Run, spark, F, tracer, index, store, req, meta, n_hits, search_wall):
    """Replay one request's layer calls in sequence, each forced to a
    noop sink or a collect, as children of one ``replay`` span. The
    decode-only probe of the full route runs before that span: the
    scored match set decodes again, so the probe stays out of the sum
    compared with the ``search()`` wall."""
    from spcht_spark.index.boolean import (
        ast_terms,
        boolean_matches_ast,
        fq_filter,
        parse_query,
    )
    from spcht_spark.index.facets import facet_counts
    from spcht_spark.index.query import decode_blocks, sql_in, stats_and_idfs, topk
    from spcht_spark.index.wand import and_topk, wand_topk

    qid, k, kind = req["id"], req["k"], req["kind"]
    if kind in ("not", "facet"):
        terms = sorted(ast_terms(parse_query(req["q"])))
        with tracer.span("query.decode", req=qid) as sp:
            _noop(decode_blocks(index.blocks.where(f"term IN ({sql_in(terms)})")))
        R.layer("query.decode_ms", 1e3 * sp.wall)
    with tracer.span("replay", req=qid) as rp:
        with tracer.span("boolean.parse") as sp:
            ast = parse_query(req["q"])
        R.layer("boolean.parse_ms", 1e3 * sp.wall)
        terms = sorted(ast_terms(ast))
        with tracer.span("query.stats_idfs") as sp:
            stats_row, idfs = stats_and_idfs(index.dictionary, index.stats, terms)
        R.layer("query.stats_idfs_ms", 1e3 * sp.wall)
        R.layer("query.stats_idfs_jobs", sp.jobs)
        known = [t for t in terms if t in meta.index]
        R.layer("query.blocks_scanned", float(meta.loc[known, "count"].sum()))
        R.layer("query.postings_decoded", float(meta.loc[known, "sum"].sum()))
        if kind in ("or", "fq"):
            doc_filter = fq_filter(store, req["fq"]) if req["fq"] else None
            with tracer.span("wand") as sp:
                wand_topk(spark, index.blocks, index.dictionary, index.stats, [(qid, terms, k)],
                          doc_filter=doc_filter, shard_span=index.shard_span,
                          stats_row=stats_row, idfs=idfs).collect()
            R.layer("wand.ms", 1e3 * sp.wall)
            R.layer("wand.jobs", sp.jobs)
        elif kind == "and":
            with tracer.span("and") as sp:
                and_topk(spark, index.blocks, index.dictionary, index.stats, [(qid, terms, k)],
                         stats_row=stats_row, idfs=idfs).collect()
            R.layer("and.ms", 1e3 * sp.wall)
        else:
            with tracer.span("query.score") as sp:
                matches = boolean_matches_ast(
                    spark, index.blocks, index.dictionary, index.stats, [(qid, ast, k)],
                    attrs=store, stats_row=stats_row, idfs=idfs,
                ).localCheckpoint()
            R.layer("query.score_ms", 1e3 * sp.wall)
            n_docs = None if kind == "facet" else int(stats_row["n_docs"])
            with tracer.span("query.topk") as sp:
                topk(matches, {qid: k}, n_docs=n_docs).collect()
            R.layer("query.topk_ms", 1e3 * sp.wall)
            R.layer("query.candidates_per_hit", matches.count() / max(n_hits, 1))
            if kind == "facet":
                with tracer.span("facets") as sp:
                    facet_counts(spark, index.blocks, [(qid, terms)], store,
                                 {"lang": F.col("lang")}, match=matches).collect()
                R.layer("facets.ms", 1e3 * sp.wall)
    replayed = sum(tracer.spans[i].wall for i in rp.children)
    R.layer("trace.layer_sum_ratio", replayed / search_wall)


def _batch(R: Run, spark, tracer, index, batch, exp) -> None:
    """The 25-query batch, sent BATCH_REPEATS times back to back."""
    from spcht_spark.index.boolean import boolean_topk

    for _ in range(BATCH_REPEATS):
        R.attempted += len(batch)
        t = time.perf_counter()
        try:
            with tracer.span("batch"):
                df = boolean_topk(
                    spark, index.blocks, index.doclens, index.dictionary, index.stats, batch,
                    shard_span=index.shard_span,
                )
                rows = df.collect()
        except Exception:  # noqa: BLE001
            for qid, _, _ in batch:
                R.fail(qid, traceback.format_exc())
            continue
        wall = time.perf_counter() - t
        want = exp.batch(batch)
        routes = routes_of(plan_text(df))
        R.timings["batch"].append({"s": wall, **routes})
        if routes["salted"] or routes["unfused"] or routes["cascade"]:
            R.route_errors.append(f"batch took a scale branch: {routes}")
        by_q: dict = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
        for qid, _, _ in batch:
            if _hits_rows(by_q.get(qid, [])) != want[qid]:
                R.fail(qid, f"batch answer differs for {qid}")


def _metrics(R: Run, res: dict, traced: bool) -> dict:
    if traced:
        wand = [r for r in R.timings["requests"] + R.timings["batch"] if r["wand"]]
        R.layer("wand.cascade_frac", sum(r["cascade"] for r in wand) / max(len(wand), 1))
        return {
            name: {"value": statistics.median(vals) if vals else 0.0, "unit": unit}
            for name, unit in PER_LAYER.items()
            for vals in [R.layers.get(name, [])]
        }
    # the workload's own operation: a request, or a delta commit
    ops = [r["s"] for r in R.timings["requests"]] if R.wl.stream else R.timings["updates"]
    batch = [b["s"] for b in R.timings["batch"]]
    vals = {
        "setup_s": res.get("setup_s", 0.0),
        "build_docs_per_s": R.wl.n_docs / res["build_s"] if "build_s" in res else 0.0,
        "op_p50_ms": 1e3 * statistics.median(ops) if ops else 0.0,
        "batch_queries_per_s": 25 / statistics.median(batch) if batch else 0.0,
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in vals.items()}


PER_LAYER = {
    "tokenize.s": "s",
    "tokenize.postings": "count",
    "build.doclens_stats.s": "s",
    "build.blocks.s": "s",
    "build.blocks.rows": "count",
    "build.dictionary.s": "s",
    **{f"workorder.stage_s.{s}": "s" for s in STAGES},
    "workorder.bytes_out.blocks": "bytes",
    "workorder.bytes_per_posting": "bytes",
    "workorder.jobs": "count",
    "update.s": "s",
    "update.blocks_rewritten_frac": "ratio",
    "update.bytes_written_per_changed_doc": "bytes",
    "update.jobs": "count",
    "boolean.parse_ms": "ms",
    "query.stats_idfs_ms": "ms",
    "query.stats_idfs_jobs": "count",
    "search.build_ms": "ms",
    "search.collect_ms": "ms",
    "search.jobs_per_request": "count",
    "search.tasks_per_request": "count",
    "search.py4j_per_request": "count",
    "search.requests": "count",
    **{f"search.p50_ms.{k}": "ms" for k in inputs.KINDS},
    "query.blocks_scanned": "count",
    "query.postings_decoded": "count",
    "query.decode_ms": "ms",
    "query.score_ms": "ms",
    "query.candidates_per_hit": "ratio",
    "facets.ms": "ms",
    "wand.ms": "ms",
    "wand.jobs": "count",
    "wand.cascade_frac": "ratio",
    "and.ms": "ms",
    "query.topk_ms": "ms",
    "query.salted_frac": "ratio",
    "host.user_cpu_s": "s",
    "host.sys_frac": "ratio",
    "host.peak_rss_mb": "MB",
    "host.jvm_peak_rss_mb": "MB",
    "host.workers_peak_rss_mb": "MB",
    "trace.overhead_ms": "ms",
    "trace.layer_sum_ratio": "ratio",
}


def _per_kind(R: Run) -> dict:
    """Each request kind's median latency (ms) over the run's stream."""
    by: dict = {}
    for r in R.timings["requests"]:
        by.setdefault(r["kind"], []).append(1e3 * r["s"])
    return {k: statistics.median(v) for k, v in sorted(by.items())}


def _record(here: str, facts: dict, R: Run, out: dict, tracer) -> None:
    """Keep every run: facts, raw timings, failures and the result."""
    runs = os.path.join(here, ".runs")
    os.makedirs(runs, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    base = os.path.join(runs, f"{stamp}-{facts['workload']}-s{facts['seed']}-t{facts['trace']}-{os.getpid()}")
    with open(base + ".json", "w") as fh:
        json.dump({
            "facts": facts, "result": out, "per_kind_p50_ms": _per_kind(R), "timings": R.timings,
            "layers": R.layers, "failures": R.failures, "route_errors": R.route_errors,
        }, fh, indent=1)
    if tracer is not None and tracer.enabled:
        tracer.dump(base + ".spans.jsonl")
