"""One benchmark run of one workload.

Order of a run (``run_workload``):

1. **Set-up** (all of it is ``setup_s``): worker processes write the seed's
   inputs to parquet while the Spark session starts; then a warm-up crawl of
   a scaled-down copy of the workload pays the JVM's JIT and the Python
   workers' start-up, and its ordering is checked against
   ``oracle.simulator.OracleCrawl``.
2. **Timed lifecycle**: ``bootstrap``; the workload's fixed number of
   ``run_round`` calls, ``repeats`` times from the bootstrapped state;
   ``run_rounds`` on a fresh ``CrawlState`` (resume; ``RESUMES`` times in
   the traced run); ``gc_state``; ``fsck``.
3. **Checks**: every operation's output is checked right after it, outside
   its timer. A failed check or an exception counts as a failed operation.

The traced run (``--trace 1``) adds a churn tail after the rounds
(``churn_tail``) and records spans, Spark job/stage metrics, py4j
round-trips and TableIO calls around the engine calls, samples the peak RSS
of the lifecycle, then runs the kernel microbench. Its resumes alternate
traced and untraced (ABBA), which gives the tracing overhead.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import sys
import threading
import time
import traceback

from perfbench import gen, trace
from perfbench.workloads import RETIRE_BATCHES, SMALL_ROUND_MAX_ROWS, WARM_ROWS, Workload

HERE = os.path.dirname(os.path.abspath(__file__))
REFERENCE = os.path.join(HERE, "reference.json")
RESUMES = 4


class Abort(Exception):
    """An operation failed and later operations depend on it."""


# ---------------------------------------------------------------- machine


def machine() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_mb": mem_kb // 1024,
        "python": sys.version.split()[0],
    }


def sizing(m: dict) -> dict:
    """local[N] with N <= nproc, one driver process, and a driver heap that
    leaves most of the machine's RAM to the page cache and the Python workers."""
    cpus = max(1, min(m["nproc"], 8))
    return {"cpus": cpus, "driver_mem_mb": min(3072, m["ram_mb"] // 5)}


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM and
    the Python workers), sampled every 0.2 s while it is entered."""

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_rss(self) -> int:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            for c, pp in parent.items():
                if pp == p and c not in tree:
                    tree.add(c)
                    frontier.append(c)
        total = 0
        for p in tree:
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.wait(0.2):
            self.peak = max(self.peak, self._tree_rss())

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self._tree_rss())
        return False


def dir_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) under *path*."""
    files = size = 0
    for dp, _dn, fns in os.walk(path):
        for fn in fns:
            try:
                size += os.path.getsize(os.path.join(dp, fn))
                files += 1
            except OSError:
                pass
    return files, size


def new_work_dir(root: str, prefix: str) -> str:
    """A fresh directory under ``<root>/.perfbench_work``. Everything Spark,
    py4j and the Python workers write goes there; the caller removes it."""
    import tempfile

    base = os.path.join(root, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=prefix, dir=base)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = None
    return work


def build_spark(work: str, cpus: int, driver_mem_mb: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", f"{driver_mem_mb}m")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit
    (its Python workers exit with it)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        proc.wait(timeout=60)


# ---------------------------------------------------------------- checks


def digest_key(d: dict) -> str:
    """Short stable fingerprint of one lineage digest (rows + per-pk xor)."""
    return hashlib.sha256(json.dumps(d, sort_keys=True).encode()).hexdigest()[:16]


def round_record(io, r: int, payload: dict) -> list:
    """[emitted, seen digest key, frontier_next digest key] of round *r*."""
    d = (io.read_manifest(f"round_{r:05d}") or {}).get("digests") or {}
    return [
        int(payload["counters"]["emitted"]),
        digest_key(d.get("seen") or {}),
        digest_key(d.get("frontier_next") or {}),
    ]


def frontier_bound(io, r: int) -> int:
    """Rows of the frontier entering round *r*, from the committed manifests
    the engine itself reads to pick the small-round or at-scale plan."""
    if r == 0:
        return int((io.read_manifest("bootstrap") or {})["frontier_rows"])
    m = io.read_manifest(f"round_{r - 1:05d}") or {}
    return int(m["digests"]["frontier_next"]["rows"])


def load_reference(workload: str, seed: int) -> list | None:
    try:
        with open(REFERENCE) as f:
            ref = json.load(f)
    except FileNotFoundError:
        return None
    return (ref.get(workload) or {}).get(str(seed))


class Ops:
    """Failure accounting. Every timed operation is attempted once; it fails
    if it raises or if any output check that follows it fails."""

    def __init__(self) -> None:
        self.attempted = 0
        self._failed: set[int] = set()
        self.notes: list[str] = []

    @property
    def failed(self) -> int:
        return len(self._failed)

    def _fail(self, what: str) -> None:
        self._failed.add(self.attempted)
        self.notes.append(what)
        print(f"FAILED: {what}", file=sys.stderr, flush=True)

    def call(self, name: str, fn):
        """Run and time ``fn()``; returns (result, seconds). Later steps
        depend on every operation, so one that raises aborts the run."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:
            traceback.print_exc()
            self._fail(f"{name} raised")
            raise Abort(name)
        return out, time.perf_counter() - t0

    def check(self, ok: bool, what: str) -> bool:
        """Check the output of the operation called last."""
        if not ok:
            self._fail(what)
        return ok


# ---------------------------------------------------------------- tracing


class Probe:
    """Per-call instrumentation of the traced run (no-op when off)."""

    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        if not enabled:
            return
        self.tracer = trace.Tracer()
        self.status = trace.StatusReader(spark)
        self.py4j = trace.Py4jCounter(spark)
        self.tio = trace.TableIOCounter()

    def call(self, ops: Ops, name: str, fn, io=None, traced: bool = True):
        """``ops.call`` plus, when tracing, a span with the call's Spark
        jobs as child spans and the call's counters as attributes; returns
        (result, seconds, span or None)."""
        if not (self.enabled and traced):
            out, dt = ops.call(name, fn)
            return out, dt, None
        self.status.mark()
        if io is not None:
            trace.count_table_io(io, self.tio)
        calls0, (tio_calls0, tio_secs0) = self.py4j.calls, self.tio.snapshot()
        os.environ["SPARK_GRAFT_TIMINGS"] = "1"
        self.py4j.install()
        try:
            with self.tracer.span(name, traced=True) as span:
                out, dt = ops.call(name, fn)
        finally:
            self.py4j.uninstall()
            os.environ.pop("SPARK_GRAFT_TIMINGS", None)
            if io is not None:
                trace.uncount_table_io(io)
        st = self.status.read()
        for a, b in st.pop("intervals"):
            self.tracer.add("spark.job", a, b, span.sid)
        tio_calls, tio_secs = self.tio.snapshot()
        span.attrs.update(
            spark=st,
            py4j_calls=self.py4j.calls - calls0,
            table_io_calls={k: v - tio_calls0.get(k, 0) for k, v in tio_calls.items()},
            table_io_s={k: v - tio_secs0.get(k, 0.0) for k, v in tio_secs.items()},
            driver_self_s=self.tracer.self_time(span.sid),
        )
        return out, dt, span


# ---------------------------------------------------------------- crawl steps


def read_inputs(spark, paths: dict):
    return tuple(
        spark.read.parquet(paths[t]) for t in ("pages", "seeds", "robots", "host_budgets")
    )


def sample_urls(io, r: int, lo: int, hi: int) -> list[str]:
    """canon_urls of round *r*'s emitted rows with global_rank in [lo, hi)."""
    from pyspark.sql import functions as F

    from indigo_crawler_spark.plans import schemas

    rows = (
        io.read(f"fetch_batches/round={r}", schemas.FETCH_BATCHES)
        .where((F.col("global_rank") >= lo) & (F.col("global_rank") < hi))
        .orderBy("global_rank")
        .select("canon_url")
        .collect()
    )
    return [row[0] for row in rows]


def url_frame(spark, urls: list[str]):
    return spark.createDataFrame([(u,) for u in urls], "url string")


def fsck_clean(report: dict) -> bool:
    return bool(report) and all(
        v is True or v == "reclaimed" for flags in report.values() for v in flags.values()
    )


def engine_ordering(io, r: int) -> list[tuple]:
    from indigo_crawler_spark.plans import schemas

    df = io.read(f"fetch_batches/round={r}", schemas.FETCH_BATCHES)
    return [
        (row["canon_url"], row["batch_id"], row["rank_in_host"], row["priority"])
        for row in df.orderBy("global_rank").collect()
    ]


def warm_up(spark, w: Workload, seed: int, work: str, ops: Ops) -> dict:
    """Crawl a scaled-down copy of the workload, so the JVM's JIT and the
    Python workers are warm before any timer starts, and check its
    ordering against the pure-Python oracle. The copy runs bootstrap and
    ``w.warm_rounds`` rounds."""
    from indigo_crawler_spark.config import CrawlConfig
    from indigo_crawler_spark.plans.round import CrawlState, bootstrap, run_round
    from indigo_crawler_spark.sources.table_io import TableIO
    from oracle.simulator import OracleCrawl

    cfg = CrawlConfig(**w.cfg)
    # one pages file per task slot, so every Python worker runs the UDFs
    paths = gen.write_inputs(
        os.path.join(work, "warm_inputs"), WARM_ROWS, w.warm_hosts, w.warm_seeds, seed,
        rows_per_part=-(-WARM_ROWS // spark.sparkContext.defaultParallelism),
    )
    state = CrawlState(io=TableIO(spark, os.path.join(work, "warm_state")), cfg=cfg)
    bootstrap(spark, *read_inputs(spark, paths), state, with_counters=False)
    spec = gen.SeededPages(WARM_ROWS, w.warm_hosts, seed)
    for r in range(w.warm_rounds):
        run_round(spark, state, r, with_counters=False)

    cols = spec.rows(range(WARM_ROWS))
    oc = OracleCrawl(
        [dict(zip(cols, vals)) for vals in zip(*cols.values())],
        [{"url": u, "seed_rank": k} for u, k in spec.seeds(w.warm_seeds)],
        [{"host": h, "robots_txt": t} for h, _hh, t, _ts in spec.robots()],
        [{"host": h, "budget": b, "backoff_until_round": bo}
         for h, _hh, b, bo in spec.budgets()],
        cfg,
    )
    want = [oc.step(r) for r in range(w.warm_rounds)]
    mismatched = [
        r for r in range(w.warm_rounds)
        if engine_ordering(state.io, r) != [
            (e["canon_url"], e["batch_id"], e["rank_in_host"], e["priority"])
            for e in want[r].emitted
        ]
    ]
    ops.check(not mismatched, f"warm-up ordering differs from oracle at rounds {mismatched}")
    return {"rounds": w.warm_rounds, "urls": sum(len(x.emitted) for x in want),
            "mismatched_rounds": mismatched}


def run_workload(w: Workload, seed: int, seconds: float, traced: bool,
                 root: str, out_dir: str) -> dict:
    """One run; returns the result dict (metrics keyed by name)."""
    work = new_work_dir(root, f"{w.name}-{seed}-")
    m = machine()
    size = sizing(m)
    ops = Ops()
    spark = writer = None
    try:
        # set-up starts here: the inputs are written by worker processes
        # while the session starts and the warm-up crawl runs
        t_setup = time.perf_counter()
        writer = gen.InputWriter(
            os.path.join(work, "inputs"), w.n_rows, w.n_hosts, w.n_seeds, seed,
            processes=max(1, size["cpus"] // 2),
        )
        spark = build_spark(work, size["cpus"], size["driver_mem_mb"])
        session_s = time.perf_counter() - t_setup
        res = _run(spark, w, seed, traced, work, size, ops, t_setup, writer)
        writer = None
        res["setup_parts"]["session_s"] = session_s
    except Abort as e:
        res = {"metrics": {}, "aborted": str(e)}
    except Exception:  # a fault of the benchmark itself: report, do not hide
        traceback.print_exc()
        ops._fail("benchmark harness raised")
        res = {"metrics": {}, "aborted": "harness"}
    finally:
        if writer is not None:
            writer.close()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    import pyspark

    res["environment"] = {
        **m, **size, "spark": pyspark.__version__, "workload": w.name,
        "seed": seed, "seconds": seconds, "trace": int(traced),
        "state_dir": "on disk inside the checkout (no tmpfs)",
    }
    res["attempted"], res["failed"], res["failures"] = ops.attempted, ops.failed, ops.notes
    return res


def churn_tail(spark, w, seed, state, last, export_dir, ops, probe) -> dict:
    from indigo_crawler_spark.operators.inject import inject_seeds
    from indigo_crawler_spark.operators.retire import retire_urls
    from indigo_crawler_spark.plans.export import export_corpus
    from indigo_crawler_spark.plans.round import run_round

    io = state.io
    full, _ = ops.call("export_full", lambda: export_corpus(state, export_dir, through_round=0))
    ops.check(full["mode"] == "full" and full["rows"] > 0, "full export empty")
    out = {"retire_s": [], "retire_spans": []}
    for b in range(RETIRE_BATCHES):
        urls = sample_urls(io, last, b * w.retire_size, (b + 1) * w.retire_size)
        frame = url_frame(spark, urls)
        n, dt, span = probe.call(ops, "retire", lambda: retire_urls(state, frame), io=io)
        ops.check(n == len(urls) > 0, f"retire batch {b}: retired {n} of {len(urls)}")
        out["retire_s"].append(dt)
        out["retire_spans"].append(span)
    spec = gen.SeededPages(w.n_rows, w.n_hosts, seed)
    inj_urls = spec.urls(range(w.n_seeds, w.n_seeds + w.inject_size))
    frame = url_frame(spark, inj_urls)
    n_inj, _, out["inject_span"] = probe.call(
        ops, "inject", lambda: inject_seeds(state, frame), io=io
    )
    ops.check(0 < n_inj <= len(inj_urls), f"inject entered {n_inj} of {len(inj_urls)}")
    payload, out["inject_round_s"], _ = probe.call(
        ops, "inject_round",
        lambda: run_round(spark, state, last + 1, with_counters=False), traced=False,
    )
    out["inject_emitted"] = int(payload["counters"]["emitted"])
    ops.check(
        io.file_row_count(f"fetch_batches/round={last + 1}") == out["inject_emitted"] > 0,
        "injected round: fetch_batches rows != emitted",
    )
    out["export"], out["export_s"], out["export_span"] = probe.call(
        ops, "export", lambda: export_corpus(state, export_dir), io=io
    )
    ops.check(
        out["export"]["mode"] == "incremental"
        and out["export"]["rounds"] == list(range(1, last + 2)),
        f"incremental export folded {out['export'].get('rounds')}",
    )
    return out


def _run(spark, w, seed, traced, work, size, ops, t_setup, writer) -> dict:
    from indigo_crawler_spark.config import CrawlConfig
    from indigo_crawler_spark.plans.round import CrawlState
    from indigo_crawler_spark.sources.table_io import TableIO

    # ---- rest of set-up: warm-up crawl + oracle check, then the inputs
    oracle, warm_s = ops.call("warm_up", lambda: warm_up(spark, w, seed, work, ops))
    t0 = time.perf_counter()
    paths = writer.wait()
    inputs_wait_s = time.perf_counter() - t0
    probe = Probe(spark, traced)
    setup_s = time.perf_counter() - t_setup

    state = CrawlState(io=TableIO(spark, os.path.join(work, "state")),
                       cfg=CrawlConfig(**w.cfg))
    # the traced run samples the peak RSS of the lifecycle: the engine's
    # driver, JVM and Python workers (the input writers have exited)
    rss = RssSampler() if traced else contextlib.nullcontext()
    with rss:
        res = _lifecycle(spark, w, seed, traced, work, size["cpus"], ops, paths,
                         probe, state)
    res["setup_parts"] = {"warm_up_s": warm_s, "inputs_wait_s": inputs_wait_s}
    res["oracle"] = oracle
    res["metrics"]["setup_s"] = setup_s
    if traced:
        from perfbench import microbench

        res["per_layer"]["peak_rss_mb"] = rss.peak / 2**20
        res["per_layer"].update(microbench.run(gen.SeededPages(w.n_rows, w.n_hosts, seed)))
    return res


def _lifecycle(spark, w, seed, traced, work, cpus, ops, paths, probe, state) -> dict:
    """The timed part of a run: bootstrap, rounds, (churn tail,) resume, gc,
    fsck; returns the run's result without its set-up figures."""
    from indigo_crawler_spark.plans.round import (
        CrawlState, bootstrap, fsck, run_round, run_rounds,
    )
    from indigo_crawler_spark.plans.state_gc import gc_state
    from indigo_crawler_spark.sources.table_io import TableIO

    cfg, io, sdir = state.cfg, state.io, os.path.join(work, "state")
    inputs = read_inputs(spark, paths)
    reference = load_reference(w.name, seed)

    # ---- bootstrap
    bpayload, bootstrap_s, bspan = probe.call(
        ops, "bootstrap",
        lambda: bootstrap(spark, *inputs, state, with_counters=False), io=io,
    )
    if bspan is not None:
        bspan.attrs["timings"] = bpayload.get("timings") or {}
    ops.check(
        bool((io.read_manifest("bootstrap") or {}).get("frontier_rows")),
        "bootstrap committed no frontier",
    )

    # ---- timed rounds: the round sequence runs w.repeats times, each time
    # from a copy of the bootstrapped state on a fresh CrawlState/TableIO
    # (copying and clearing Spark's cache are untimed). The state measured
    # afterwards is the last repeat's.
    rounds, records = [], []
    export_dir = os.path.join(work, "export")
    bootstrapped = os.path.join(work, "bootstrapped")
    if w.repeats > 1:
        shutil.copytree(sdir, bootstrapped)
    for k in range(w.repeats):
        if k:
            shutil.rmtree(sdir)
            shutil.copytree(bootstrapped, sdir)
            spark.catalog.clearCache()
            state = CrawlState(io=TableIO(spark, sdir), cfg=cfg)
            io = state.io
        for r in range(w.rounds):
            bound = frontier_bound(io, r)
            files0 = dir_bytes(sdir)
            payload, wall, span = probe.call(
                ops, "round", lambda: run_round(spark, state, r, with_counters=False),
                io=io,
            )
            files1 = dir_bytes(sdir)
            rec = round_record(io, r, payload)
            emitted = rec[0]
            ops.check(
                io.file_row_count(f"fetch_batches/round={r}") == emitted,
                f"round {r}: fetch_batches rows != emitted",
            )
            if reference is not None and r < len(reference):
                ops.check(rec == reference[r], f"round {r}: {rec} != reference {reference[r]}")
            plan = "small" if bound <= SMALL_ROUND_MAX_ROWS else "at-scale"
            ops.check(plan == w.plan, f"round {r}: frontier of {bound} rows takes the {plan} plan")
            records.append(rec)
            rounds.append({
                "repeat": k, "round": r, "wall_s": wall, "emitted": emitted,
                "traced": span is not None, "frontier_rows": bound, "plan": plan,
                "timings": payload.get("timings") or {},
                "files": files1[0] - files0[0], "bytes": files1[1] - files0[1],
                "span": span,
            })
    last = w.rounds - 1

    # ---- churn tail (traced run only): retire batches, an inject batch and
    # the round that consumes it, an incremental export
    churn = churn_tail(spark, w, seed, state, last, export_dir, ops, probe) if traced else None
    if churn is not None:
        last += 1

    # ---- resume: run_rounds from a fresh CrawlState/TableIO verifies the
    # anchor round's digests with cold caches. The traced run resumes
    # RESUMES times, traced in an ABBA pattern: the untraced ones time the
    # resume, and the difference is the tracing overhead.
    resumes, resume_span = {True: [], False: []}, None
    for i in range(RESUMES if traced else 1):
        fresh = CrawlState(io=TableIO(spark, sdir), cfg=cfg)
        is_traced = traced and i % 4 in (0, 3)
        resumed, dt, span = probe.call(
            ops, "resume", lambda: run_rounds(spark, fresh, last + 1, with_counters=False),
            io=fresh.io, traced=is_traced,
        )
        ops.check(resumed == [], "resume re-ran committed rounds")
        resumes[is_traced].append(dt)
        resume_span = span or resume_span

    # URLs the final state holds: the last repeat's rounds and the injected one
    scheduled = sum(x["emitted"] for x in rounds[-w.rounds:]) + (
        (churn or {}).get("inject_emitted", 0)
    )
    state_bytes = dir_bytes(sdir)[1]
    gcr, gc_s, _ = probe.call(ops, "gc", lambda: gc_state(state), io=io)
    live_bytes = dir_bytes(sdir)[1]
    ops.check(live_bytes <= state_bytes, "gc grew the state")
    rep, _, _ = probe.call(ops, "fsck", lambda: fsck(state), traced=False)
    ops.check(fsck_clean(rep), "fsck not clean")
    ops.check(len(rep) == last + 1, f"fsck saw {len(rep)} rounds, expected {last + 1}")

    walls = [x["wall_s"] for x in rounds]
    round_p50, n_rounds = trace.median_n(walls)
    resume_s, n_resumes = trace.median_n(resumes[False])
    res = {
        "metrics": {
            "round_s.p50": round_p50,
            "urls_scheduled_per_s": sum(x["emitted"] for x in rounds) / sum(walls),
            "state_bytes_per_url": state_bytes / scheduled,
            "live_bytes_per_url": live_bytes / scheduled,
        },
        "samples": {"round_s": n_rounds, "resume_s": n_resumes},
        "reference": "recorded" if reference is not None else "none for this seed",
        "records": records,
        "rounds": [{k: v for k, v in x.items() if k != "span"} for x in rounds],
        "urls_scheduled": scheduled,
    }
    if traced:
        from perfbench import layers

        res["per_layer"] = layers.per_layer(
            rounds, cpus, bspan, churn, resume_span, resumes, gcr, gc_s,
        )
        res["per_layer"]["bootstrap_s"] = bootstrap_s
        res["per_layer"]["resume_s"] = resume_s
        res["spans"] = probe.tracer.dump()
        res["self_times"] = probe.tracer.self_times()
        res["status_missing_stages"] = probe.status.missing_stages
        res["coverage"] = layers.coverage(rounds)
        res["samples"]["retire_s"] = len(churn["retire_s"])
    return res
