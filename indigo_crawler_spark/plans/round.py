"""EP1 — the scheduler round as one pure DataFrame job (SURVEY.md §3).

One round of the reference's while-loop (pick task → validate proxy → fetch →
parse → dedupe → enqueue) re-expressed over ALL tasks at once
(BASELINE.json:6). Stage map, with where each runs:

    1. gates      ONE cached pass: robots (host join + Arrow UDF) +
                  budget/backoff flags + observed counters            [JVM + Arrow]
    2. politeness per-host top-B window (static heavy-host salting)   [shuffle: host]
    3. cap        bounded global top-K → batch sequencing + status    [≤K rows]
    4. fetch      emitted ⋈ page store (broadcast emitted)            [scan + bcast join]
       ∥ seen delta write ∥ EP3 budget fold                           [pool]
    5. extract    html → (text, links) once per page, mapInPandas     [Arrow]
       ∥ bloom/cuckoo fold ∥ compaction ∥ skew stats                  [pool]
    6. discover   explode links → dedup(min depth) → anti-join seen   [shuffle: url]
    7. advance    frontier' write → one combined digest job → commit  [write]

Scale notes (10^10 frontier, 1000 executors): the frontier never reaches a
global sort — the only global operation is the bounded top-K (≤round_limit
rows). The widest column (html binary) crosses Arrow exactly once per emitted
page (≤K per round), never shuffles, and is pruned immediately after
extraction. Frontier/seen live bucketed by pk = pmod(xxhash64(host), P) so
the politeness window and membership checks cluster on the same key.
Heavy-host skew: explicit two-phase salted top-k (operators/skew.py, M4)
because AQE does not skew-split window functions.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from indigo_crawler_spark.config import CrawlConfig
from indigo_crawler_spark.functions.keys import (
    host_expr,
    host_hash_expr,
    pk_expr,
    url_hash_expr,
)
from indigo_crawler_spark.functions.scoring import priority_expr
from indigo_crawler_spark.functions.udfs import make_canonicalize_udf
from indigo_crawler_spark.operators.dedup import dedup_min_by
from indigo_crawler_spark.operators.extract import extract_pages
from indigo_crawler_spark.operators.gates import gate_frontier
from indigo_crawler_spark.operators.politeness import sequence_batches
from indigo_crawler_spark.plans import schemas
from indigo_crawler_spark.sources.table_io import TableIO


def _sum0(col) -> "F.Column":
    return F.coalesce(F.sum(col.cast("long")), F.lit(0))


def _obs_int(obs: Observation, name: str) -> int:
    """Observation metric as int.

    The only swallowed failure is the no-metrics-row case: a 0-partition
    input (an empty in-memory test frame) makes CollectMetrics emit nothing
    and ``Observation.get`` raise from toPyRow — that can only happen when 0
    rows flowed, so every count/sum metric is 0 (logged to stderr so a real
    job failure misrecorded as empty is visible). A metric-NAME typo is NOT
    swallowed: the metrics dict resolved fine, so the KeyError propagates."""
    try:
        metrics = obs.get
    except Exception as exc:  # no metrics row ⇒ 0 rows flowed
        import sys

        print(
            f"_obs_int: no metrics row for {name!r} ({exc!r}); recording 0",
            file=sys.stderr,
        )
        return 0
    v = metrics[name]  # KeyError = metric-name bug, surface it
    return int(v) if v is not None else 0


def _rank_single_max() -> int:
    """Frontier-row bound below which the round ranks in ONE gathered
    partition (no range-bounds sampling job) instead of the distributed
    range-partitioned ranker. ~200k rows sort in well under a second in a
    single task; the collect/offsets machinery is unchanged and ranks are
    identical (operators/politeness.global_rank). Physical knob only."""
    import os

    return int(os.environ.get("SPARK_GRAFT_RANK_SINGLE_MAX", "200000"))


def _small_round_shuffle() -> int:
    """Reduce-partition count for SMALL rounds (the same manifest-derived
    ``rank_single`` marker that drives the AQE policy): a round whose
    committed frontier bound is ≤ ``SPARK_GRAFT_RANK_SINGLE_MAX`` rows
    needs a handful of reduce partitions, not the session default sized
    for at-scale rounds — every extra near-empty task is pure scheduling
    overhead on the round's many small shuffles, and every extra shuffle
    partition becomes one more near-empty file under the frontier write.
    Scale-adaptive, not machine-tuned: the trigger is the committed row
    bound, the at-scale default is untouched, and every operator is
    partition-count-independent by construction (content-XOR digests,
    min_by dedups, offset-based ranks — SEMANTICS.md determinism rules),
    so results are identical at any value. 0 disables.
    (``SPARK_GRAFT_SMALL_ROUND_SHUFFLE`` overrides for measurement.)"""
    import os

    return int(os.environ.get("SPARK_GRAFT_SMALL_ROUND_SHUFFLE", "8"))


def _dim_broadcast_max() -> int:
    """Host-dimension row bound below which the robots / host_counts joins
    broadcast the dimension instead of SHUFFLE_HASH. robots carries text
    blobs, so the bound is conservative (~100k hosts ≈ tens of MB built);
    beyond it the shuffle-hash plan — which parallelizes the build and
    never sorts the blobs — remains the at-scale default. Physical knob
    only; read once per round from the bootstrap manifest, never counted."""
    import os

    return int(os.environ.get("SPARK_GRAFT_DIM_BROADCAST_MAX", "100000"))


# Process-level cache for the round's STATIC Column expression trees (r6):
# every Column op is a py4j round-trip, and the gate pass rebuilds ~100 of
# them per round from the same fixed flag algebra. Columns are immutable
# expression trees resolved per-plan, so one instance serves every round
# and every crawl in the process (built lazily — Column construction needs
# an active SparkContext, so never at import time).
_EXPR_CACHE: dict = {}


def _child_exprs(cfg: CrawlConfig) -> dict:
    """Round-invariant Column trees of the discovery tail (r6): the child
    gate predicate and the frontier-row projection are pure functions of the
    frozen config (num_buckets, trap/exclude knobs), yet were rebuilt from
    ~40 py4j round-trips every round. Columns are immutable expression
    trees, so one instance serves every round; only the round-varying
    literals (discovered_round) stay per-round. CrawlConfig is frozen ⇒
    hashable ⇒ usable as the cache key, so two interleaved crawls with
    different configs never share trees."""
    key = ("child", cfg)
    cached = _EXPR_CACHE.get(key)
    if cached is None:
        from indigo_crawler_spark.functions.traps import (
            exclude_expr,
            ext_expr,
            host_deny_expr,
            trap_expr,
        )

        hh = host_hash_expr(F.col("host"))
        cached = {
            "gate": (
                ~trap_expr(F.col("canon_url"), cfg)
                & ~exclude_expr(F.col("canon_url"), cfg)
                & ~ext_expr(F.col("canon_url"), cfg)
                & ~host_deny_expr(host_expr("canon_url"), cfg)
            ),
            "host": host_expr("canon_url"),
            "host_hash": hh.alias("host_hash"),
            "pk": pk_expr(hh, cfg.num_buckets).alias("pk"),
            "child_pk": pk_expr(
                host_hash_expr(F.col("host")), cfg.num_buckets
            ).alias("pk"),
            "seed_rank": F.lit(None).cast("int").alias("seed_rank"),
            "priority": priority_expr(
                F.col("depth"), F.lit(None).cast("int"), F.col("host_count")
            ).alias("priority"),
            "host_count0": F.coalesce(F.col("host_count"), F.lit(0)).alias(
                "host_count"
            ),
        }
        _EXPR_CACHE[key] = cached
    return cached


def _gate_exprs() -> dict:
    cached = _EXPR_CACHE.get("gate")
    if cached is None:
        a = F.col("_allowed")
        nt = ~F.col("_trap")
        nx = ~F.col("_excluded")
        ne = ~F.col("_ext")
        nh = ~F.col("_hostdrop")
        nc = ~F.col("_capped")
        nb = ~F.col("_backoff")
        not_denied = a & nt & nx & ne & nh & nc
        eligible = not_denied & nb
        metrics = (
            F.count(F.lit(1)).alias("candidates"),
            _sum0(~a).alias("robots_denied"),
            _sum0(a & F.col("_trap")).alias("trap_dropped"),
            _sum0(a & nt & F.col("_excluded")).alias("pattern_excluded"),
            _sum0(a & nt & nx & F.col("_ext")).alias("ext_excluded"),
            _sum0(a & nt & nx & ne & F.col("_hostdrop")).alias("host_excluded"),
            _sum0(a & nt & nx & ne & nh & F.col("_capped")).alias("host_capped"),
            _sum0(not_denied & F.col("_backoff")).alias("backoff_skipped"),
            _sum0(eligible).alias("eligible"),
        )
        cached = {
            "metrics": metrics,
            "eligible": eligible,
            "not_denied": not_denied,
        }
        _EXPR_CACHE["gate"] = cached
    return cached


def _probe_min_seen() -> int:
    """Committed-seen row count below which the round's discovery skips the
    membership-filter probe and anti-joins children against the seen table
    directly (results identical; see the discovery comment in run_round).
    Physical knob only — env-overridable for measurement."""
    import os

    return int(os.environ.get("SPARK_GRAFT_PROBE_MIN_SEEN", "5000000"))


def _timer():
    """Per-phase wall timing, enabled by SPARK_GRAFT_TIMINGS=1 (perf triage
    only — monotonic durations, never wall-clock values, never in results)."""
    import os

    if os.environ.get("SPARK_GRAFT_TIMINGS") != "1":
        return None
    return {}


from contextlib import contextmanager


@contextmanager
def _no_aqe(spark: SparkSession):
    """AQE off for the round's SERIAL PREFIX (gate pass → salted politeness
    window → distributed rank collect → fetch_batches write). Every join and
    shuffle on that path is already explicitly engineered — broadcast /
    SHUFFLE_HASH hints, explicit skew salting, fixed shuffle partitions,
    repartitionByRange — so adaptive re-planning cannot change the strategy;
    it only multiplies the path into per-stage driver jobs, each a serial
    driver round-trip at 1000 executors (measured: the rank collect alone
    submitted 11 jobs under AQE, 2 without). Race-free because the prefix
    runs before the round's thread pool spins up, and the session conf is
    restored before any concurrent query plans. The big variable-shape
    queries later in the round (discovery joins, frontier write) keep AQE."""
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


class _timed:
    # phases run concurrently on the driver thread pool, so the
    # read-modify-write accumulation must be atomic (a lost increment makes
    # bench attribution under-report a phase)
    _lock = threading.Lock()

    def __init__(self, sink, label):
        self.sink, self.label = sink, label

    def __enter__(self):
        if self.sink is not None:
            import time

            self.t0 = time.monotonic()
        return self

    def __exit__(self, *exc):
        if self.sink is not None:
            import time

            with _timed._lock:
                self.sink[self.label] = round(
                    self.sink.get(self.label, 0.0) + time.monotonic() - self.t0, 3
                )
        return False


@dataclass
class CrawlState:
    """Paths + IO for one crawl's durable state under ``io.root``.

    Layout (round R):
        page_store/, host_counts/           bootstrap-derived, static
        robots/, host_budgets/              static dimensions
        frontier/round=R/                   frontier ENTERING round R
        seen/round=R/                       urls first seen (emitted) AT round R
        fetch_batches/round=R/              the emitted ordering
        fetched_text/round=R/               extracted text (byte-identity)
        manifest/round_R.json               commit record — written LAST
    """

    io: TableIO
    cfg: CrawlConfig = field(default_factory=CrawlConfig)
    _heavy_n: int | None = field(default=None, init=False, repr=False)
    _filter_cap: int | None = field(default=None, init=False, repr=False)
    _seen_rows: tuple[int, int] = field(default=(0, 0), init=False, repr=False)

    def seen_rows_committed(self, r: int) -> int:
        """Total committed seen rows over rounds < r, summed from the round
        manifests' exact seen digests — driver-side JSON reads, no Spark
        job, cached incrementally so a months-long crawl reads each
        manifest once per process, not once per round."""
        start, acc = self._seen_rows
        if r < start:  # non-monotone caller (tests): recompute from scratch
            start, acc = 0, 0
        for i in range(start, r):
            m = self.io.read_manifest(f"round_{i:05d}")
            if m:
                acc += int(
                    ((m.get("digests") or {}).get("seen") or {}).get("rows", 0)
                )
        self._seen_rows = (max(start, r), acc)
        return acc

    def filter_capacity(self) -> int:
        """Per-bucket membership-filter capacity. Geometry must be identical
        across every round of a crawl — bitmap merges are pure bitwise OR
        and never resize — so the COMMITTED bootstrap manifest is
        authoritative: it records the config override or the A3-derived
        figure at bootstrap time (see ``bootstrap``), and later rounds —
        including resumes under a different config default or a
        differently-sized rerun — read that, never re-derive. (This is also
        why capacity sits outside config_hash.) Fallbacks, in order: the
        config value (pre-bootstrap / manifest-less state), then the
        10^9-deployment default for state dirs bootstrapped before the
        manifest carried the field."""
        if self._filter_cap is None:
            m = self.io.read_manifest("bootstrap") or {}
            cap = m.get("bloom_bucket_capacity")
            if cap is None:
                cap = self.cfg.bloom_bucket_capacity or 1_000_000
            self._filter_cap = int(cap)
        return self._filter_cap

    def frontier(self, r: int) -> DataFrame:
        """Frontier ENTERING round r: the pinned ``frontier/round=r`` file
        plus any mid-crawl injected seeds queued for this round
        (operators/inject.py). The side table keeps the pinned file —
        whose digest round r-1's manifest carries — immutable; round r's
        frontier-advance folds surviving injected rows into
        ``frontier/round=r+1``, so later rounds never re-read it."""
        base = self.io.read(f"frontier/round={r}", schemas.FRONTIER)
        inj = f"injected/round={r}"
        if self.io.exists(inj):
            base = base.unionByName(self.io.read(inj, schemas.FRONTIER))
        return base

    def links_through(self, r: int) -> DataFrame:
        """Link-graph edges accumulated by rounds 0..r (written per round
        when cfg.pagerank_every is on). The union chain is tick-cadence
        input — a PageRank pass is O(whole graph) by nature, so one dir
        per round is the right granularity; ``pagerank_int`` dedups edges
        before iterating. Never GC'd: every future tick re-reads it.

        Read shape: newest complete ``links_compact/upto=U`` snapshot (the
        tick folds the chain when it grows past seen_compact_every dirs —
        same discipline as the seen chain) + the per-round deltas after it.
        Without compaction a months-long crawl's tick would LIST one
        directory per round before reading a byte; with it the listing is
        O(1 snapshot + ≤cadence deltas). Content-identical either way —
        the snapshot is the same edge rows consolidated."""
        base, start = None, 0
        for upto in sorted(self._links_compact_uptos(), reverse=True):
            if upto <= r:
                base = self.io.read(
                    f"links_compact/upto={upto}", schemas.LINKS, cached=True
                )
                start = upto + 1
                break
        dfs = ([base] if base is not None else []) + [
            self.io.read(f"links/round={i}", schemas.LINKS, cached=True)
            for i in range(start, r + 1)
            if self.io.exists(f"links/round={i}")
        ]
        if not dfs:
            return self.io.spark.createDataFrame([], schemas.LINKS)
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def _links_compact_uptos(self) -> list[int]:
        import os

        d = self.io.path("links_compact")
        if not os.path.isdir(d):
            return []
        return [
            int(name.split("=")[1])
            for name in os.listdir(d)
            if name.startswith("upto=")
            and self.io.is_complete(f"links_compact/{name}")
        ]

    def links_delta_dirs_after_compact(self, r: int) -> int:
        """How many per-round links dirs a ``links_through(r)`` read would
        union on top of the newest snapshot — the tick's compaction
        trigger. Driver-side listing only, no Spark job."""
        uptos = [u for u in self._links_compact_uptos() if u <= r]
        start = (max(uptos) + 1) if uptos else 0
        return sum(
            1
            for i in range(start, r + 1)
            if self.io.exists(f"links/round={i}")
        )

    def fetchable_store(self, pks: list) -> DataFrame:
        """(canon_url, html) fetchable at the given pk buckets: the bootstrap
        page store, plus — when the streaming skin has ingested micro-batches
        — ``page_store_stream``, deduped with the SAME min (warc_ts, url)
        tie-break per canon_url as bootstrap. Batch-mode rounds take the
        plain pruned scan (no union, no dedup shuffle); streaming rounds
        dedup only the pruned slice."""
        # one-expression IN list (r6): `Column.isin(pks)` ships every pk as
        # its own literal Column through py4j (~P round-trips per round);
        # the parsed SQL predicate is the same In(pk, literals) filter in
        # ONE round-trip. pks are ints collected from the ranker offsets.
        pk_in = F.expr(
            "pk IN ({})".format(",".join(str(int(p)) for p in pks))
            if pks
            else "false"
        )
        store = self.io.read("page_store", schemas.PAGE_STORE, cached=True).where(
            pk_in
        )
        if not self.io.exists("page_store_stream"):
            return store.select("canon_url", "html")
        stream = self.io.read("page_store_stream", schemas.PAGE_STORE).where(
            pk_in
        )
        both = store.unionByName(stream).select(
            "canon_url", "url", "warc_ts", "html"
        )
        return dedup_min_by(both, "canon_url", ["warc_ts", "url"]).select(
            "canon_url", "html"
        )

    def robots_through(self, r: int) -> DataFrame:
        """robots ENTERING round r (SEMANTICS.md §Robots updates): the
        static bootstrap table unless ``robots_delta/round=i`` side tables
        exist at rounds ≤ r, in which case the MAX-upd_round row per host
        wins (operators/inject.fold_robots_latest — static rows fold at
        upd_round = -1). No deltas ⇒ the exact static read the pre-feature
        plan had, byte-identical. Delta chains are operator-batch-sized
        (one dir per --add-robots round), host-scale rows; the fold is one
        min_by agg, no window."""
        static = self.io.read("robots", schemas.ROBOTS, cached=True)
        # parent-dir short-circuit: an update-free crawl pays ONE exists()
        # per round here, not O(rounds) — robots_through runs every round
        # unconditionally, unlike the knob-gated state folds
        if not self.io.exists("robots_delta"):
            return static
        deltas = [
            self.io.read(f"robots_delta/round={i}", schemas.ROBOTS_DELTA, cached=True)
            for i in range(r + 1)
            if self.io.exists(f"robots_delta/round={i}")
        ]
        if not deltas:
            return static
        from indigo_crawler_spark.operators.inject import fold_robots_latest

        base = static.select(
            "host", "host_hash", "robots_txt",
            F.lit(-1).cast("int").alias("upd_round"),
        )
        return fold_robots_latest([base, *deltas]).select(
            "host", "host_hash", "robots_txt",
            F.lit(None).cast("timestamp").alias("fetched_ts"),
        )

    def budgets(self, r: int) -> DataFrame:
        """host_budgets ENTERING round r: the versioned table round r-1's
        backoff fold wrote (EP3 feedback), else the bootstrap-static one."""
        if (
            (
                self.cfg.ban_every
                or self.cfg.thin_host_min_words
                or (self.cfg.fail_every and self.cfg.fail_host_threshold)
            )
            and r > 0
            and self.io.exists(f"host_budgets/round={r}")
        ):
            return self.io.read(f"host_budgets/round={r}", schemas.HOST_BUDGETS)
        return self.io.read("host_budgets", schemas.HOST_BUDGETS, cached=True)

    def host_emitted(self, r: int) -> DataFrame:
        """Per-host lifetime emitted totals ENTERING round r (SEMANTICS.md
        §Host page cap): the versioned table round r-1's fold wrote, else
        empty (round 0, or pre-knob state dirs — all hosts at 0)."""
        if r > 0 and self.io.exists(f"host_emitted/round={r}"):
            return self.io.read(f"host_emitted/round={r}", schemas.HOST_EMITTED)
        return self.io.spark.createDataFrame([], schemas.HOST_EMITTED)

    def heavy_hosts(self, round_no: int = 0) -> DataFrame | None:
        """Skew dimension for round *round_no* (operators/skew.py) — None when
        no host crosses the salt threshold. Two sources, both action-free at
        round time (counts come from manifests, not Spark jobs):

        * static: hosts heavy by bootstrap PAGE count (the corpus proxy);
        * frontier-derived: hosts heavy by round round_no-1's per-host
          CANDIDATE count (``heavy_hosts_frontier/round=R`` written by
          ``run_round`` — closes the link-farm blind spot where a host with
          few corpus pages accumulates 10^8 discovered URLs and would
          otherwise serialize the politeness window into one task).

        Which hosts are salted is purely physical (results identical for any
        selection — superset property, operators/skew.py), so the union may
        carry duplicates; the semi/anti joins downstream tolerate them."""
        if self._heavy_n is None:
            m = self.io.read_manifest("bootstrap") or {}
            n = m.get("n_heavy_hosts")
            if n is None:  # pre-manifest state dirs: probe once per process
                n = (
                    self.io.read("heavy_hosts", schemas.HEAVY_HOSTS).limit(1).count()
                    if self.io.exists("heavy_hosts")
                    else 0
                )
            self._heavy_n = int(n)
        static = (
            self.io.read("heavy_hosts", schemas.HEAVY_HOSTS, cached=True)
            if self._heavy_n
            else None
        )
        frontier = self._frontier_heavy(round_no)
        if static is None:
            return frontier
        if frontier is None:
            return static
        return static.unionByName(frontier)

    def _frontier_heavy(self, round_no: int) -> DataFrame | None:
        """Frontier-derived heavy hosts entering *round_no* (written by round
        round_no-1). The previous round's manifest counter says whether the
        table is non-empty — a JSON read, never a Spark action — so rounds
        with no frontier skew skip the (empty) broadcast entirely."""
        if round_no <= 0:
            return None
        m = self.io.read_manifest(f"round_{round_no - 1:05d}")
        if m is not None and not m.get("counters", {}).get(
            "frontier_heavy_hosts_next", 0
        ):
            return None
        table = f"heavy_hosts_frontier/round={round_no}"
        if not self.io.exists(table):
            return None
        return self.io.read(table, schemas.HEAVY_HOSTS)

    def seen_through(self, r: int) -> DataFrame:
        """Exact membership table for rounds < r: the newest compacted
        snapshot (if any) + the delta dirs after it. Without compaction the
        union chain grows one parquet dir per round forever; with it the
        read is one snapshot + ≤seen_compact_every deltas."""
        base = None
        start = 0
        for upto in sorted(self._compact_uptos(), reverse=True):
            if upto < r:
                base = self.io.read(
                    f"seen_compact/upto={upto}", schemas.SEEN, cached=True
                )
                start = upto + 1
                break
        dfs = ([base] if base is not None else []) + [
            self.io.read(f"seen/round={i}", schemas.SEEN, cached=True)
            for i in range(start, r)
            if self.io.exists(f"seen/round={i}")
        ]
        if not dfs:
            return self.io.spark.createDataFrame([], schemas.SEEN)
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        # retired URLs (operators/retire.py) leave the membership — one
        # SHUFFLE_HASH anti-join on the tiny retired set, bounded by the
        # retirement round so a later re-crawl's fresh seen row survives.
        # Idempotent: a compacted snapshot that already excludes them is
        # unaffected.
        if self.io.exists("retired"):
            ret = (
                self.io.read("retired", schemas.RETIRED, cached=True)
                .select(
                    F.col("canon_url").alias("_r_url"),
                    F.col("retired_after_round").alias("_r_after"),
                )
                .hint("SHUFFLE_HASH")
            )
            out = out.join(
                ret,
                on=(out["canon_url"] == ret["_r_url"])
                & (out["first_round"] <= ret["_r_after"]),
                how="left_anti",
            )
        return out

    def retries_through(self, r: int) -> DataFrame:
        """Transient-failure retry state ENTERING round r (SEMANTICS.md
        §Transient failures): each still-retryable url's lifetime failure
        count, folded over the per-round deltas < r. ``fails`` is monotone
        per url (success or exhaustion removes the url from the frontier
        before a lower count could ever be written), so the fold is one
        max() agg — no round column, no window. The chain lists one dir
        per knob-on round; rows are bounded by the urls actively retrying
        (≤ K · max_retries alive at once), so the union is delta-sized,
        not corpus-sized. Rows for urls that since succeeded or exhausted
        are stale-but-harmless: those urls sit in seen and never reach the
        status join again."""
        dfs = [
            self.io.read(f"retries/round={i}", schemas.RETRIES, cached=True)
            for i in range(r)
            if self.io.exists(f"retries/round={i}")
        ]
        if not dfs:
            # (canon_url, fails) only — pk stays out so the status join
            # never shadows the emitted frame's own pk column
            return self.io.spark.createDataFrame(
                [], "canon_url string, fails int"
            )
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out.groupBy("canon_url").agg(F.max("fails").alias("fails"))


    def revisit_through(self, r: int) -> DataFrame:
        """Adaptive-recrawl freshness state ENTERING round r (SEMANTICS.md
        §Adaptive recrawl): the latest ``revisit`` row per canon_url over
        rounds < r — newest compacted snapshot + the delta dirs after it,
        reduced with the same deterministic min_by aggregation every other
        dedup uses (max fetched_round per url; a url appears at most once
        per round, so the order is total). Same chain discipline as
        seen_through: without compaction the union lists one dir per round
        forever; with it the read is one snapshot + ≤cadence deltas."""
        base = None
        start = 0
        for upto in sorted(self._revisit_compact_uptos(), reverse=True):
            if upto < r:
                base = self.io.read(
                    f"revisit_compact/upto={upto}", schemas.REVISIT, cached=True
                )
                start = upto + 1
                break
        dfs = ([base] if base is not None else []) + [
            self.io.read(f"revisit/round={i}", schemas.REVISIT, cached=True)
            for i in range(start, r)
            if self.io.exists(f"revisit/round={i}")
        ]
        if not dfs:
            return self.io.spark.createDataFrame([], schemas.REVISIT)
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return dedup_min_by(
            out.withColumn("_neg_round", -F.col("fetched_round")),
            "canon_url",
            ["_neg_round"],
        ).drop("_neg_round")

    def has_revisit_state(self, r: int) -> bool:
        """Driver-side existence probe: any revisit delta/snapshot covering
        rounds < r? Lets the adaptive tick skip all Spark work on the early
        rounds before the first fetch wrote freshness state."""
        if any(u < r for u in self._revisit_compact_uptos()):
            return True
        return any(
            self.io.exists(f"revisit/round={i}") for i in range(r)
        )

    def _revisit_compact_uptos(self) -> list[int]:
        import os

        d = self.io.path("revisit_compact")
        if not os.path.isdir(d):
            return []
        return [
            int(name.split("=")[1])
            for name in os.listdir(d)
            if name.startswith("upto=")
            and self.io.is_complete(f"revisit_compact/{name}")
        ]

    def _compact_uptos(self) -> list[int]:
        import os

        d = self.io.path("seen_compact")
        if not os.path.isdir(d):
            return []
        # only COMPLETE snapshots count (a kill mid-compaction leaves a dir
        # without _SUCCESS; selecting it would corrupt resume, and skipping
        # its rebuild would freeze the corruption in)
        return [
            int(name.split("=")[1])
            for name in os.listdir(d)
            if name.startswith("upto=")
            and self.io.is_complete(f"seen_compact/{name}")
        ]


def _canonicalized(
    df: DataFrame,
    url_col: str = "url",
    strip_tracking: bool = False,
    collapse_www: bool = False,
    sort_query: bool = False,
    strip_session: bool = False,
    prefer_https: bool = False,
    collapse_index: bool = False,
) -> DataFrame:
    return df.withColumn(
        "canon_url",
        make_canonicalize_udf(
            strip_tracking,
            collapse_www,
            sort_query,
            strip_session,
            prefer_https,
            collapse_index,
        )(F.col(url_col)),
    )


def derived_filter_capacity(distinct_urls_est: int, cfg: CrawlConfig) -> int:
    """A4 sizing from A3: per-bucket filter capacity from the corpus
    distinct-URL estimate. Headroom over the estimate because the seen set
    accumulates EVERY emitted url — including discovered ones outside the
    corpus — and geometry is frozen per crawl (bitmap folds never resize).
    Bloom overflow is graceful (FPR rises, the exact backstop absorbs it),
    so 4x suffices; cuckoo overflow is a hard mid-crawl failure (insert
    refusal raises rather than manufacture false negatives, cuckoo_ops.py:38)
    and the table degrades near full occupancy, so the cuckoo derivation
    doubles the headroom to 8x. A crawl expected to discover far beyond that
    must pin cfg.bloom_bucket_capacity explicitly before bootstrap. The
    floor keeps tiny test crawls out of degenerate bitmaps."""
    headroom = 8 if cfg.filter_kind == "cuckoo" else 4
    return max(headroom * distinct_urls_est // max(cfg.num_buckets, 1), 4096)


def bootstrap(
    spark: SparkSession,
    pages: DataFrame,
    seeds: DataFrame,
    robots: DataFrame,
    host_budgets: DataFrame,
    state: CrawlState,
    with_counters: bool = True,
) -> dict:
    """Derive the page store + host counts, seed the round-0 frontier.

    Page store: canonicalize, quarantine rejects, dedup per canon_url keeping
    min (warc_ts, url) — SEMANTICS.md §Page store. At 100 TB this is the one
    full pass over `pages`; everything later touches only emitted slices —
    so quarantine counting is optional (it costs a second canonicalize pass;
    at scale, use .observe instead of re-running the scan).
    """
    from concurrent.futures import ThreadPoolExecutor

    cfg = state.cfg
    tm = _timer()
    # quarantine counters ride observe on the writes below — the 100 TB
    # bootstrap pass happens once, not once per counter (with_counters kept
    # for API compatibility; the counts are free now)
    del with_counters
    pages_obs = Observation()
    pc = (
        _canonicalized(
            pages,
            strip_tracking=cfg.strip_tracking_enabled,
            collapse_www=cfg.collapse_www_enabled,
            sort_query=cfg.sort_query_enabled,
            strip_session=cfg.strip_session_enabled,
            prefer_https=cfg.prefer_https_enabled,
            collapse_index=cfg.collapse_index_enabled,
        )
        .drop("text")
        .observe(
            pages_obs,
            _sum0(F.col("canon_url").isNull()).alias("quarantined"),
            # A3 riding the one full corpus pass: the distinct-URL estimate
            # that sizes the membership filter (see capacity derivation
            # below) — zero extra jobs
            F.approx_count_distinct("canon_url").alias("distinct_urls_est"),
        )
    )
    pc = pc.where(F.col("canon_url").isNotNull())
    # ONE shuffle: key by pk up front, then dedup on (pk, canon_url) — the
    # existing HashPartitioning(pk) satisfies the groupBy's clustering — and
    # write one file per bucket (partitionBy without this repartition fans
    # out to tasks×buckets small files).
    pc = (
        pc.withColumn("host", host_expr("canon_url"))
        .withColumn("pk", pk_expr(host_hash_expr(F.col("host")), cfg.num_buckets))
        .repartition(cfg.num_buckets, "pk")
    )
    store = (
        dedup_min_by(pc, ["pk", "canon_url"], ["warc_ts", "url"])
        .select("canon_url", "host", "pk", "url", "warc_ts", "html", "lang")
        .sortWithinPartitions("canon_url")  # deterministic layout + rowgroup stats
    )
    with _timed(tm, "store_write"):
        state.io.write(store, "page_store", partition_by=["pk"])

    # the tail writes are all small derived tables — one cached host-count
    # agg feeds host_counts, heavy_hosts AND the frontier join (no disk
    # round-trip between them), and the independent writes overlap on a
    # pool: at 100 TB the only serial barrier after the corpus pass is the
    # frontier write itself.
    store_r = state.io.read("page_store", schemas.PAGE_STORE)
    hc = store_r.groupBy("host").agg(F.count("*").alias("host_count")).cache()

    # static skew dimension: hosts over the salt threshold by page count
    # (operators/skew.py — WHICH hosts are salted is purely physical, so a
    # bootstrap-time proxy removes the per-round detection job). Count rides
    # the write via observe — no extra action.
    heavy_obs = Observation()
    heavy = (
        hc.where(F.col("host_count") > cfg.salt_threshold)
        .select("host")
        .observe(heavy_obs, F.count(F.lit(1)).alias("n"))
    )

    pool = ThreadPoolExecutor(max_workers=4)
    try:
        def _w(df, table, label):
            def run():
                with _timed(tm, label):
                    state.io.write(df, table)
            return pool.submit(run)

        # host-dimension size rides the host_counts write (r6): per-round
        # join-strategy selection (broadcast vs SHUFFLE_HASH for the
        # robots / host_counts dimensions) reads it from the manifest —
        # zero extra actions, never a per-round count job
        hosts_obs = Observation()
        hc_obs = hc.observe(hosts_obs, F.count(F.lit(1)).alias("n_hosts"))
        futs = [
            _w(hc_obs, "host_counts", "host_counts_write"),
            _w(heavy, "heavy_hosts", "heavy_write"),
            # unique labels: these two run concurrently on the pool, and a
            # shared label would interleave two read-modify-writes
            _w(robots, "robots", "robots_write"),
            _w(host_budgets, "host_budgets", "budgets_write"),
        ]

        # round-0 frontier from seeds: dedup per canon_url keep min seed_rank
        seeds_obs = Observation()
        sc = _canonicalized(
            seeds,
            strip_tracking=cfg.strip_tracking_enabled,
            collapse_www=cfg.collapse_www_enabled,
            sort_query=cfg.sort_query_enabled,
            strip_session=cfg.strip_session_enabled,
            prefer_https=cfg.prefer_https_enabled,
            collapse_index=cfg.collapse_index_enabled,
        ).observe(
            seeds_obs, _sum0(F.col("canon_url").isNull()).alias("quarantined")
        )
        sc = sc.where(F.col("canon_url").isNotNull()).select(
            "canon_url", "seed_rank"
        )
        sitemap_obs = None
        if cfg.sitemaps_enabled and cfg.robots_enabled:
            # SEMANTICS.md §Sitemaps: robots Sitemap: URLs join the seed
            # list as seed_rank-NULL rows; the dedup below keys on
            # coalesce(seed_rank, INT_MAX) so a URL that is both seed and
            # sitemap keeps its seed row. robots is per-host — one explode,
            # folded into the frontier union, no extra action (the count
            # rides the frontier write via observe).
            from indigo_crawler_spark.functions.udfs import robots_sitemaps_udf

            sitemap_obs = Observation()
            sm = (
                robots.select(
                    F.explode(robots_sitemaps_udf(F.col("robots_txt"))).alias("url")
                )
                .select(
                    make_canonicalize_udf(
                        cfg.strip_tracking_enabled,
                        cfg.collapse_www_enabled,
                        cfg.sort_query_enabled,
                        cfg.strip_session_enabled,
                        cfg.prefer_https_enabled,
                        cfg.collapse_index_enabled,
                    )(
                        F.col("url")
                    ).alias("canon_url")
                )
                .where(F.col("canon_url").isNotNull())
                .observe(sitemap_obs, F.count(F.lit(1)).alias("sitemap_seed_urls"))
                .select("canon_url", F.lit(None).cast("int").alias("seed_rank"))
            )
            sc = sc.unionByName(sm)
        sc = (
            dedup_min_by(
                sc.withColumn(
                    "_sr", F.coalesce(F.col("seed_rank"), F.lit(2**31 - 1))
                ),
                "canon_url",
                ["_sr"],
            )
            .drop("_sr")
            .withColumn("host", host_expr("canon_url"))
        )
        # hc is per-host (frontier-scale) — shuffle join, never broadcast
        frontier0 = (
            sc.join(hc.hint("SHUFFLE_HASH"), on="host", how="left")
            .withColumn("host_count", F.coalesce(F.col("host_count"), F.lit(0)))
            .select(
                "canon_url",
                "host",
                host_hash_expr(F.col("host")).alias("host_hash"),
                pk_expr(host_hash_expr(F.col("host")), cfg.num_buckets).alias("pk"),
                F.lit(0).alias("depth"),
                F.col("seed_rank").cast("int").alias("seed_rank"),
                priority_expr(F.lit(0), F.col("seed_rank"), F.col("host_count")).alias(
                    "priority"
                ),
                F.lit(0).alias("discovered_round"),
            )
        )
        # row count rides the write (r6): round 0's ranker reads it from the
        # manifest to pick the single-partition rank path for small frontiers
        fr_obs = Observation()
        frontier0 = frontier0.observe(
            fr_obs, F.count(F.lit(1)).alias("frontier_rows")
        )
        with _timed(tm, "frontier_write"):
            state.io.write(frontier0, "frontier/round=0")
        for f in futs:
            f.result()
    finally:
        pool.shutdown(wait=True)
    n_heavy = _obs_int(heavy_obs, "n")
    state._heavy_n = n_heavy
    hc.unpersist()

    # A4 sizing from A3: unless the config pins a capacity, the membership
    # filter's per-bucket geometry derives from the corpus distinct-URL
    # estimate observed on the store write (4x headroom for discovered URLs
    # beyond the corpus; floor keeps tiny test crawls out of degenerate
    # bitmaps). Persisted in the bootstrap manifest so every later round —
    # including a resumed one — folds bitmaps with the SAME geometry.
    est = _obs_int(pages_obs, "distinct_urls_est")
    derived_cap = derived_filter_capacity(est, cfg)
    payload = {
        "quarantined_pages": _obs_int(pages_obs, "quarantined"),
        "quarantined_seeds": _obs_int(seeds_obs, "quarantined"),
        "sitemap_seed_urls": (
            _obs_int(sitemap_obs, "sitemap_seed_urls")
            if sitemap_obs is not None
            else 0
        ),
        "n_heavy_hosts": n_heavy,
        "n_hosts": _obs_int(hosts_obs, "n_hosts"),
        "frontier_rows": _obs_int(fr_obs, "frontier_rows"),
        "distinct_urls_est": est,
        # the bucketing every committed table is laid out with — offline
        # tools (export) must use THIS, not whatever config their CLI
        # invocation happened to default to
        "num_buckets": cfg.num_buckets,
        "bloom_bucket_capacity": (
            cfg.bloom_bucket_capacity
            if cfg.bloom_bucket_capacity is not None
            else derived_cap
        ),
        "config_hash": cfg.config_hash(),
    }
    state.io.write_manifest("bootstrap", payload)
    if tm is not None:
        payload = {**payload, "timings": dict(tm)}
    return payload


def run_round(
    spark: SparkSession, state: CrawlState, round_no: int, with_counters: bool = True
) -> dict:
    """Execute round R per SEMANTICS.md; returns the manifest payload.

    Serial-latency discipline (the scaling-efficiency budget — every extra
    driver action is Amdahl serial time at 1000 executors):
      * counters ride ``observe`` on frames that materialize anyway — zero
        extra jobs (``with_counters`` is kept for API compatibility; the
        full counter set is now free and always returned);
      * the gate pass (robots Arrow UDF + budget join) is ONE cached frame;
        allowed/denied/eligible are filters on it — the UDF runs once per
        row per round;
      * skew salting uses the static bootstrap-derived heavy-host dimension
        (no per-round detect job);
      * the emitted-pk pruning list piggybacks on the ranker's offsets
        collect;
      * independent writes (seen delta ∥ extract, membership-filter fold ∥
        discovery, seen digest ∥ frontier write) overlap on a small driver
        thread pool — Spark schedules concurrent jobs into idle task slots,
        which matters exactly in the low-parallelism tail stages.
    """
    from concurrent.futures import ThreadPoolExecutor

    cfg = state.cfg
    io = state.io

    frontier = state.frontier(round_no)
    robots = state.robots_through(round_no)
    budgets = state.budgets(round_no)

    # 1-2. gates — one cached pass; counters observed, not re-counted
    from indigo_crawler_spark.operators.skew import politeness_topk_skew_aware

    # gate precedence (SEMANTICS.md): robots → trap → exclude → ext →
    # allow → cap → backoff. Trap, pattern-excluded, extension-denied,
    # non-allowed-host and host-capped rows leave the frontier permanently
    # (like denied); _trap/_excluded/_ext/_hostdrop/_capped fold to
    # lit(False) with the default-off knobs, keeping the plan unchanged.
    emitted_totals = (
        state.host_emitted(round_no) if cfg.host_page_cap else None
    )
    # r6 physical-plan inputs from the committed manifests — no Spark jobs:
    # the bootstrap host count picks broadcast vs SHUFFLE_HASH for the
    # host-dimension joins, and the committed frontier row count (previous
    # round's frontier_next digest; bootstrap's frontier_rows for round 0)
    # bounds the ranker input to pick the single-partition rank path. A
    # state dir from before these manifest fields, or a round with injected
    # seeds (rows uncounted), falls back to the at-scale plans.
    bm = io.read_manifest("bootstrap") or {}
    n_hosts = bm.get("n_hosts")
    small_host_dim = n_hosts is not None and n_hosts <= _dim_broadcast_max()
    if round_no == 0:
        rank_bound = bm.get("frontier_rows")
    else:
        pm = io.read_manifest(f"round_{round_no - 1:05d}") or {}
        rank_bound = ((pm.get("digests") or {}).get("frontier_next") or {}).get(
            "rows"
        )
    if io.exists(f"injected/round={round_no}"):
        rank_bound = None
    rank_single = rank_bound is not None and rank_bound <= _rank_single_max()
    # Small rounds run ENTIRELY without AQE (r6): every shape in a
    # small-frontier round is fixed and explicitly planned (hinted joins,
    # bounded top-K, coalesced writes), so adaptive re-planning only
    # multiplies the round into extra per-stage driver jobs — measured
    # ~0.3-0.4s/round here. At-scale rounds keep AQE for the
    # variable-shape discovery suffix (skew splits, partition coalescing)
    # exactly as before; the session conf is restored when the round ends.
    _aqe_prev = None
    _shuf_set = False  # the round changed shuffle.partitions
    _shuf_prev = None  # the session's own value; None = never set
    if rank_single:
        _aqe_prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        # small rounds also shrink the reduce-partition count (r6 second
        # pass — guide §2.2 fewer/larger partitions, §6 small files): see
        # _small_round_shuffle. Restored with AQE when the round ends.
        nshuf = _small_round_shuffle()
        if nshuf > 0:
            _shuf_prev = spark.conf.get("spark.sql.shuffle.partitions", None)
            _shuf_set = True
            spark.conf.set("spark.sql.shuffle.partitions", str(nshuf))
    gx = _gate_exprs()
    gate_obs = Observation()
    gated = (
        gate_frontier(
            frontier, robots, budgets, cfg, round_no, emitted_totals,
            small_host_dim=small_host_dim,
        )
        .observe(gate_obs, *gx["metrics"])
        .cache()
    )
    eligible = gated.where(gx["eligible"])
    if cfg.age_weight:
        # priority aging (SEMANTICS.md §Priority aging): the RANK-TIME
        # effective priority, applied on the eligible slice only — the
        # frontier-advance below reads `gated`, so stored priorities stay
        # base and deferral never compounds. Everything downstream (the
        # politeness windows, the domain cap, the global rank, the emitted
        # priority column) uniformly sees the boosted value — exactly the
        # oracle's rank-time copy.
        from indigo_crawler_spark.functions.scoring import aged_priority_expr

        eligible = eligible.withColumn(
            "priority",
            aged_priority_expr(
                F.col("priority"),
                F.col("discovered_round"),
                round_no,
                cfg.age_weight,
            ),
        )

    # frontier-skew fold: per-host candidate counts over THIS round's gate
    # frame become round R+1's salted-host dimension (link-farm hosts heavy
    # only in the frontier get the two-phase window next round — one round of
    # lag, never wrong: salting is purely physical). Round-4 serial-floor
    # shape: ONE single-row stats job on the cached gate frame feeds the
    # manifest counters, and heavy_hosts_frontier is written ONLY when some
    # host actually crossed the threshold — a calm round pays a tiny collect
    # instead of an empty-table write job + file commit every round. Runs on
    # the pool below (gated's cache is populated by the rank collect first).
    tm = _timer()

    def _skew_fold() -> tuple[int, int]:
        with _timed(tm, "skew_fold"):
            counts = gated.groupBy("host").agg(F.count("*").alias("cand_count"))
            row = counts.agg(
                F.coalesce(F.max("cand_count"), F.lit(0)).alias("mx"),
                _sum0(F.col("cand_count") > cfg.salt_threshold).alias("nh"),
            ).collect()[0]
            mx, nh = int(row["mx"]), int(row["nh"])
            if nh:
                io.write(
                    counts.where(F.col("cand_count") > cfg.salt_threshold).select(
                        "host"
                    ),
                    f"heavy_hosts_frontier/round={round_no + 1}",
                )
            return mx, nh

    # 3. per-host politeness top-B (salted for heavy hosts — J4/W2; the heavy
    #    dimension = bootstrap page counts ∪ round R-1's frontier counts)
    # 4. global cap + sequencing (distributed exact rank; the pk set of the
    #    kept rows — a superset of the emitted pks, equal except when the
    #    global cap bites — falls out of the same collect for store pruning)
    with _no_aqe(spark):
        kept = politeness_topk_skew_aware(
            eligible, cfg, state.heavy_hosts(round_no)
        )
        # optional registered-domain shared cap (SEMANTICS.md §Politeness):
        # rides between the host cap and the global cap; host_kept is
        # observed on the intermediate frame so budget_deferred /
        # domain_deferred split without an extra count job
        host_obs = None
        if cfg.domain_budget:
            from indigo_crawler_spark.operators.politeness import domain_topk

            host_obs = Observation()
            kept = domain_topk(
                kept.observe(host_obs, F.count(F.lit(1)).alias("host_kept")),
                cfg.domain_budget,
                cfg.num_salts,
            )
        kept = kept.cache()
        with _timed(tm, "gates_rank_collect"):
            emitted, n_kept, kept_pks, rank_cache = sequence_batches(
                kept, round_no, cfg.round_limit, cfg.batch_size,
                gather_col="pk", single_partition=rank_single,
            )
        n_emitted = min(n_kept, cfg.round_limit)
        from indigo_crawler_spark.operators.feedback import (
            fetch_status_expr,
            retry_exprs,
        )

        # fetch status is SEMANTICS (SEMANTICS.md §Backoff / §Transient
        # failures) — computed at ONE site on the cached emitted frame;
        # fetch_batches, the A7 metrics rollup and the EP3 budget fold
        # below all reuse the same column. With the retry knob on, the
        # url's failure count so far joins first (committed state < R, one
        # small join on the ≤K emitted slice) and salts the outcome draw.
        if cfg.fail_every:
            emitted = (
                emitted.join(
                    state.retries_through(round_no).hint("SHUFFLE_HASH"),
                    on="canon_url",
                    how="left",
                )
                .withColumn("_attempt", F.coalesce(F.col("fails"), F.lit(0)))
                .drop("fails")
            )
            emitted = emitted.withColumn(
                "status", fetch_status_expr(cfg, F.col("_attempt"))
            ).cache()
            rx = retry_exprs(
                F.col("status"), F.col("_attempt"), cfg.max_retries
            )
            # "the url is DONE with the crawl": fetched (ok/banned) or
            # retry-exhausted — the set that enters seen and leaves the
            # frontier; retained failures stay behind for the next round
            emitted_done = emitted.where(~rx["failed"] | rx["exhausted"])
        else:
            emitted = emitted.withColumn(
                "status", fetch_status_expr(cfg)
            ).cache()
            rx = None
            emitted_done = emitted

        fb_obs = Observation()
        fb_metrics = [_sum0(F.col("status") == "banned").alias("banned")]
        if rx is not None:
            fb_metrics.append(_sum0(rx["failed"]).alias("fetch_failed"))
            fb_metrics.append(_sum0(rx["exhausted"]).alias("retry_exhausted"))
        fetch_batches = emitted.select(
            "round", "batch_id", "canon_url", "host", "host_hash", "priority",
            "rank_in_host", "global_rank", "status",
            *(["_attempt"] if rx is not None else []),
        ).observe(fb_obs, *fb_metrics)
        fetch_batches = fetch_batches.drop("_attempt")
    # rank_cache/kept stay persisted until END of round: every consumer of
    # `emitted` (the fetch_batches write below, seen write, digest, metrics,
    # budget fold, the extract join) computes through the caches, and on a
    # real cluster a lost cache block triggers recompute through the ranker
    # — which re-samples range bounds and would produce DIFFERENT ranks
    # than the frozen offsets if rank_cache were already gone (silent
    # divergence between committed tables). While rank_cache lives,
    # recompute replays the exact partition layout the offsets were
    # collected from. Residual (double-loss of both caches mid-round)
    # surfaces as a digest-verify refusal on resume — fail-loud, never
    # silent.
    #
    # K-bounded output sizing (r6 — guide §6 small-files): the emitted-slice
    # tables (fetch_batches, seen delta, retries) inherit the ranker's
    # shuffle-partition count, which writes one near-empty file per
    # partition at small K and is still only a physical layout at large K —
    # derive the file count from the known row bound instead (n_emitted is
    # already on the driver; no extra action). ~200k rows/file keeps
    # production-K rounds at a handful of right-sized files and small
    # rounds at one.
    out_parts = max(1, -(-n_emitted // 200_000))

    pool = ThreadPoolExecutor(max_workers=5)
    try:
        # the fetch_batches write overlaps the (driver-side, lazy) plan
        # construction of the extract/discovery stages below instead of
        # blocking the main thread (r6): its input is the cached ranker
        # output, so concurrent consumers of `emitted` just re-project from
        # rank_cache until the cache fills — deterministic either way.
        def _w_fb():
            with _timed(tm, "fetch_batches_write"):
                io.write(
                    fetch_batches.coalesce(out_parts),
                    f"fetch_batches/round={round_no}",
                )

        f_fb = pool.submit(_w_fb)
        f_skew = pool.submit(_skew_fold)
        # seen takes the DONE slice (SEMANTICS.md §Transient failures):
        # fetched urls plus retry-exhausted give-ups; retained failures
        # stay out of seen so the next round can re-emit them
        seen_delta = emitted_done.select(
            "canon_url",
            url_hash_expr(F.col("canon_url")).alias("url_hash"),
            F.col("pk"),
            F.lit(round_no).alias("first_round"),
        )
        def _w_seen():
            with _timed(tm, "seen_write"):
                io.write(seen_delta.coalesce(out_parts), f"seen/round={round_no}")

        f_seen = pool.submit(_w_seen)

        # A7 engine-side rollup metrics: (host, status) / (host) / () counts
        # over the ≤K emitted rows — tiny cached-input job, off the critical
        # path. The () grand total equals the `emitted` counter; per-host
        # rows are a TABLE (round_metrics/round=R), not manifest JSON — at
        # 50M hosts a manifest-embedded rollup would be absurd.
        metrics = (
            emitted.select("host", "status")
            .rollup("host", "status")
            .agg(F.count("*").alias("n"))
        )
        f_metrics = pool.submit(
            io.write, metrics, f"round_metrics/round={round_no}"
        )

        # (the EP3 budget folds are submitted after the extract below —
        # the thin-host fold reads the extracted slice)

        # 5. fetch: emitted ⋈ page store — broadcast the ≤K emitted urls into
        # the store scan so the 100 TB side never shuffles, and prune store
        # buckets to the pks actually touched (partition pruning: at P=256 a
        # typical round reads a fraction of the store's directories).
        store = state.fetchable_store(kept_pks)
        # strategy switch on the known emitted count: small rounds broadcast
        # the url list into the scan; huge rounds (K in the millions) would
        # serialize a giant broadcast build — shuffle-hash join instead (the
        # store slice shuffles once; never sorted).
        # failed fetches (SEMANTICS.md §Transient failures) yield no page:
        # they never reach the store join, so no text, no links, no
        # discovery — the where folds away when the knob is off
        fetch_src = (
            emitted.where(F.col("status") != "failed")
            if rx is not None
            else emitted
        )
        emitted_sel = fetch_src.select("canon_url", "depth")
        small_round = n_emitted <= 200_000
        if small_round:
            fetched = store.join(
                F.broadcast(emitted_sel), on="canon_url", how="inner"
            )
        else:
            fetched = store.join(
                emitted_sel.hint("SHUFFLE_HASH"), on="canon_url", how="inner"
            )
        ext_obs = Observation()
        ext_metrics = [
            F.count(F.lit(1)).alias("fetched_pages"),
            F.coalesce(F.sum(F.size("links")), F.lit(0)).alias("links_extracted"),
        ]
        if cfg.meta_robots_enabled:
            # links withheld by REP nofollow (SEMANTICS.md §Meta robots) —
            # rides the same observe, zero extra jobs
            ext_metrics.append(
                F.coalesce(
                    F.sum(F.when(F.col("nofollow"), F.size("links")).otherwise(0)),
                    F.lit(0),
                ).alias("nofollow_dropped")
            )
        if cfg.rel_canonical_enabled:
            # pages declaring a canonical target other than themselves
            # (SEMANTICS.md §Canonical link) — the export-time collapse set
            ext_metrics.append(
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("canonical_url").isNotNull()
                            & (F.col("canonical_url") != F.col("canon_url")),
                            1,
                        ).otherwise(0)
                    ),
                    F.lit(0),
                ).alias("canonical_variants")
            )
        if cfg.meta_refresh_enabled:
            # delay-0 pure redirects (SEMANTICS.md §Meta refresh) — the
            # export-time drop set; the appended target already rides links
            ext_metrics.append(
                F.coalesce(
                    F.sum(F.col("redirect").cast("int")), F.lit(0)
                ).alias("refresh_redirects")
            )
        if cfg.anchor_nofollow_enabled:
            # links withheld by anchor-level rel=nofollow (SEMANTICS.md
            # §Anchor nofollow) — dropped at extraction, so links/
            # links_extracted/discovery/link-graph all already exclude them
            ext_metrics.append(
                F.coalesce(F.sum("anchor_dropped"), F.lit(0)).alias(
                    "anchor_nofollow_dropped"
                )
            )
        if cfg.hreflang_enabled:
            # alternate targets appended into links (SEMANTICS.md §Hreflang
            # alternates) — already inside links_extracted; counted
            # separately so operators see the discovery the signal buys
            ext_metrics.append(
                F.coalesce(F.sum("hreflang_added"), F.lit(0)).alias(
                    "hreflang_alternates"
                )
            )
        extracted = (
            extract_pages(
                fetched,
                sitemap_aware=cfg.sitemaps_enabled,
                meta_robots=cfg.meta_robots_enabled,
                rel_canonical=cfg.rel_canonical_enabled,
                meta_refresh=cfg.meta_refresh_enabled,
                anchor_nofollow=cfg.anchor_nofollow_enabled,
                hreflang=cfg.hreflang_enabled,
                strip_tracking=cfg.strip_tracking_enabled,
                collapse_www=cfg.collapse_www_enabled,
                sort_query=cfg.sort_query_enabled,
                strip_session=cfg.strip_session_enabled,
                prefer_https=cfg.prefer_https_enabled,
                collapse_index=cfg.collapse_index_enabled,
            )
            .observe(ext_obs, *ext_metrics)
            .cache()
        )
        # REP nofollow (SEMANTICS.md §Meta robots): a nofollow page's
        # out-links are withheld from BOTH the link graph and discovery —
        # nofollow is an endorsement signal, so the edges pass no rank and
        # the children are not admitted through this page. One lazy filter
        # over the cached frame; folds away when the flag is off.
        followable = (
            extracted.where(~F.col("nofollow"))
            if cfg.meta_robots_enabled
            else extracted
        )
        # under meta_robots / rel_canonical the page-level indexing
        # signals ride the text table so the corpus export can honor
        # them; text bytes are unchanged either way
        text_cols = ["canon_url", "text"]
        if cfg.meta_robots_enabled:
            text_cols.append("noindex")
        if cfg.rel_canonical_enabled:
            text_cols.append("canonical_url")
        if cfg.meta_refresh_enabled:
            text_cols.append("redirect")

        # pooled (r6): the extract write — the Arrow parse pass that fills
        # the `extracted` cache — overlaps the driver-side construction of
        # the discovery plan below. Every OTHER reader of the extracted
        # cache (links, thin-host fold, revisit, the discovery jobs) waits
        # on this future first so exactly one task pays the parse; the pool
        # has a free worker by submission order (at most fb/skew/seen/
        # metrics are in flight, max_workers=5), so the future always
        # RUNS rather than queuing behind its own waiters.
        def _w_extract():
            with _timed(tm, "extract_text_write"):
                io.write(
                    extracted.select(*text_cols),
                    f"fetched_text/round={round_no}",
                )

        f_extract = pool.submit(_w_extract)

        # link-graph edges (SEMANTICS.md §PageRank priority): every fetched
        # page's out-links as (src, dst) rows — extraction facts, recorded
        # BEFORE the depth cap and trap gate (those govern frontier
        # admission, not the graph). Emitted-slice scale (≤K pages × avg
        # out-degree), pooled off the critical path; reads the cached
        # extracted frame, so it costs no second Arrow pass.
        f_links = None
        if cfg.pagerank_every:
            links_edges = followable.select(
                F.col("canon_url").alias("src"),
                F.explode("links").alias("dst"),
            )

            def _w_links() -> None:
                f_extract.result()  # one parse: wait for the cache fill
                with _timed(tm, "links_write"):
                    io.write(links_edges, f"links/round={round_no}")

            f_links = pool.submit(_w_links)

        # EP3 feedback folds into next round's budgets (versioned;
        # deterministic ⇒ replay-safe), off the critical path and composed
        # into ONE write: ban→backoff reads emitted's statuses from cache,
        # thin-content demotion (SEMANTICS.md §Thin-host demotion) reads
        # the cached extracted slice — its demoted-host counter rides the
        # budgets write via Observation (zero extra jobs).
        f_budgets = None
        thin_obs = None
        failhost_obs = None
        failhost_on = bool(cfg.fail_every and cfg.fail_host_threshold)
        if cfg.ban_every or cfg.thin_host_min_words or failhost_on:
            from indigo_crawler_spark.operators.feedback import (
                fold_backoff,
                fold_fail_hosts,
                fold_thin_hosts,
            )

            budgets_next = budgets
            if cfg.ban_every:
                statuses = emitted.select("host", "status")
                budgets_next = fold_backoff(budgets_next, statuses, round_no, cfg)
            if failhost_on:
                # dead-host backoff (SEMANTICS.md §Transient failures):
                # failure-burst hosts pause like banned hosts; the
                # triggered-host counter rides the budgets write. The
                # greatest() fold commutes with fold_backoff's (same
                # until), so ban/fail order is irrelevant.
                failhost_obs = Observation()
                budgets_next = (
                    fold_fail_hosts(
                        budgets_next,
                        emitted.select("host", "status"),
                        round_no,
                        cfg,
                    )
                    .observe(
                        failhost_obs,
                        _sum0(F.col("_failhost")).alias("failhost"),
                    )
                    .drop("_failhost")
                )
            if cfg.thin_host_min_words:
                thin_obs = Observation()
                budgets_next = (
                    fold_thin_hosts(budgets_next, extracted, cfg)
                    .observe(
                        thin_obs,
                        _sum0(F.col("_thin_demoted")).alias("thin"),
                    )
                    .drop("_thin_demoted")
                )
            def _w_budgets() -> None:
                if cfg.thin_host_min_words:
                    f_extract.result()  # thin fold reads the extracted cache
                io.write(budgets_next, f"host_budgets/round={round_no + 1}")

            f_budgets = pool.submit(_w_budgets)

        # lifetime emit-totals fold (SEMANTICS.md §Host page cap): previous
        # totals ∪ this round's per-host emitted counts, ONE hash agg over
        # (host-scale dimension + ≤K cached rows), versioned like the
        # budgets fold — next round's gate clips against it. Deterministic
        # ⇒ replay-safe; pooled off the critical path.
        f_emitcap = None
        if cfg.host_page_cap:
            per_host = emitted.groupBy("host").agg(
                F.count("*").cast("long").alias("emitted_total")
            )
            totals_next = (
                emitted_totals.unionByName(per_host)
                .groupBy("host")
                .agg(F.sum("emitted_total").alias("emitted_total"))
            )
            f_emitcap = pool.submit(
                io.write, totals_next, f"host_emitted/round={round_no + 1}"
            )

        # adaptive-recrawl freshness fold (SEMANTICS.md §Adaptive recrawl):
        # digest the ≤K fetched texts, derive next intervals against the
        # committed revisit state (< round_no — the concurrent writes below
        # never touch it), append revisit/round=R. Counters ride the write's
        # Observation (zero extra jobs); compaction chains INSIDE the same
        # pooled task because the snapshot read includes the delta just
        # written. Same replay story as every versioned table: deterministic
        # content, overwritten bit-exactly on an uncommitted-round re-run.
        f_revisit, rv_obs = None, None
        if cfg.recrawl_after and cfg.recrawl_adaptive:
            from indigo_crawler_spark.operators.recrawl import revisit_delta

            rv_obs = Observation()
            rv_rows = (
                revisit_delta(state, extracted, round_no)
                .observe(
                    rv_obs,
                    _sum0(F.col("_prev_seen") & ~F.col("_changed")).alias(
                        "unchanged"
                    ),
                    _sum0(F.col("_changed")).alias("changed"),
                )
                .drop("_prev_seen", "_changed")
            )

            def _w_revisit() -> None:
                f_extract.result()  # revisit_delta reads the extracted cache
                with _timed(tm, "revisit_write"):
                    io.write(rv_rows, f"revisit/round={round_no}")
                if (
                    cfg.seen_compact_every
                    and (round_no + 1) % cfg.seen_compact_every == 0
                    and not io.is_complete(f"revisit_compact/upto={round_no}")
                ):
                    with _timed(tm, "revisit_compact"):
                        io.write(
                            state.revisit_through(round_no + 1).repartition(
                                cfg.num_buckets, "pk"
                            ),
                            f"revisit_compact/upto={round_no}",
                        )

            f_revisit = pool.submit(_w_revisit)

        # transient-failure retry delta (SEMANTICS.md §Transient failures):
        # the urls that failed THIS round and stay retryable, each with its
        # bumped lifetime failure count — read back (max per url) by round
        # R+1's status join. ≤K rows, pooled, knob-off writes nothing.
        f_retries, retry_rows = None, None
        if rx is not None:
            retry_rows = emitted.where(rx["retained"]).select(
                "canon_url", rx["fails_next"].alias("fails"), "pk"
            )

            def _w_retries() -> None:
                with _timed(tm, "retries_write"):
                    io.write(
                        retry_rows.coalesce(out_parts),
                        f"retries/round={round_no}",
                    )

            f_retries = pool.submit(_w_retries)

        f_seen.result()
        # A4/A6: fold this round's seen delta into the cumulative membership
        # filter (bloom: pure bitwise OR; cuckoo: fingerprint re-insert — the
        # deletable variant). Built from the in-memory delta (content-equal
        # to the just-committed files), overlapped with discovery below.
        prev_filter = f"seen_bloom/round={round_no - 1}"

        def _fold_filter() -> None:
            with _timed(tm, "filter_fold"):
                _fold_filter_inner()

        def _fold_filter_inner() -> None:
            if cfg.filter_kind == "bloom":
                from indigo_crawler_spark.operators.bloom_ops import (
                    bloom_geometry,
                    build_bloom_delta,
                    fold_bloom,
                )

                nbits, k = bloom_geometry(state.filter_capacity(), cfg.bloom_fpr)
                if round_no > 0 and io.exists(prev_filter):
                    # fused build+OR-merge: one cogrouped Python stage and
                    # one pk shuffle of the raw delta instead of the old
                    # build-then-merge pair (bit-identical — OR commutes)
                    io.write(
                        fold_bloom(
                            io.read(prev_filter, schemas.SEEN_BLOOM),
                            seen_delta,
                            nbits,
                            k,
                        ),
                        f"seen_bloom/round={round_no}",
                    )
                    return
                delta_f = build_bloom_delta(seen_delta, nbits, k)
                merge = None
            else:
                from indigo_crawler_spark.operators.cuckoo_ops import (
                    build_cuckoo_delta,
                    cuckoo_geometry,
                    merge_cuckoos,
                )

                nbuckets, _ = cuckoo_geometry(state.filter_capacity())
                delta_f = build_cuckoo_delta(seen_delta, nbuckets)
                merge = merge_cuckoos
            if round_no > 0 and io.exists(prev_filter):
                cumulative = merge(io.read(prev_filter, schemas.SEEN_BLOOM), delta_f)
            else:
                cumulative = delta_f
            io.write(cumulative, f"seen_bloom/round={round_no}")

        f_filter = (
            pool.submit(_fold_filter)
            if cfg.filter_kind in ("bloom", "cuckoo")
            else None
        )

        # compaction: fold the delta chain into one pk-clustered snapshot so
        # the exact-membership read stays O(1 snapshot + few deltas) at any
        # round count. Replay safety: skip if a prior (killed-after-
        # compaction) attempt already committed this snapshot — content is
        # deterministic, and rewriting would read seen_compact/upto=R while
        # overwriting it. A half-written dir (no _SUCCESS) is excluded by
        # _compact_uptos, so the rebuild reads only deltas and safely
        # overwrites it.
        f_compact = None
        if (
            cfg.seen_compact_every
            and (round_no + 1) % cfg.seen_compact_every == 0
            and not io.is_complete(f"seen_compact/upto={round_no}")
        ):
            f_compact = pool.submit(
                lambda: io.write(
                    state.seen_through(round_no + 1).repartition(
                        cfg.num_buckets, "pk"
                    ),
                    f"seen_compact/upto={round_no}",
                )
            )

        # 6. discover children: explode → min-depth dedup → not in seen'/frontier'
        children = followable.where(F.col("depth") + 1 <= cfg.max_depth).select(
            F.explode("links").alias("canon_url"),
            (F.col("depth") + 1).cast("int").alias("depth"),
        )
        # trap / pattern-excluded / extension-denied children never enter
        # the frontier (SEMANTICS.md §Traps / §Exclude patterns /
        # §Extension deny) — dropping an unbounded URL family at discovery
        # beats re-gating it every round; all three exprs fold to
        # lit(False) when their gate is off. Non-allowed-host children
        # likewise (SEMANTICS.md §Host allow-list) — the host expr is
        # recomputed here (children carry no host column yet). All of these
        # trees are round-invariant ⇒ cached (_child_exprs, r6).
        cx = _child_exprs(cfg)
        children = children.where(cx["gate"])
        children = dedup_min_by(children, "canon_url", ["depth"]).withColumn(
            "host", cx["host"]
        )
        # host-capped children never enter the frontier (SEMANTICS.md §Host
        # page cap): the capped set is derived from the SAME totals table
        # the gate used (entering this round), so a host crossing the cap
        # DURING this round still admits this round's children — they leave
        # permanently at the next gate. One host-keyed anti-join, knob-off
        # free.
        if cfg.host_page_cap:
            capped_hosts = emitted_totals.where(
                F.col("emitted_total") >= F.lit(int(cfg.host_page_cap))
            ).select("host")
            children = children.join(
                capped_hosts.hint("SHUFFLE_HASH"), on="host", how="left_anti"
            )
        children = children.withColumn("pk", cx["pk"])

        seen_prev = state.seen_through(round_no)

        # frontier advance off the cached gate frame — denied rows leave by
        # FILTER (no anti-join against a recomputed denied side), emitted
        # rows by one bounded-side join. Join strategy (10^10 scale): emitted
        # is bounded by K → broadcast; frontier/seen/host_counts are
        # frontier-scale → SHUFFLE_HASH (broadcast builds would serialize).
        allowed_rows = gated.where(gx["not_denied"])
        # the frontier sheds the DONE slice only — retained transient
        # failures stay for re-emission (SEMANTICS.md §Transient failures)
        emitted_urls = emitted_done.select("canon_url")
        if not small_round:
            emitted_urls = emitted_urls.hint("SHUFFLE_HASH")
        else:
            emitted_urls = F.broadcast(emitted_urls)
        remaining = allowed_rows.select(
            *[f.name for f in schemas.FRONTIER.fields]
        ).join(emitted_urls, on="canon_url", how="left_anti")

        # children must not already be in seen OR in (remaining ∪ emitted)
        # = allowed. Seen check: Bloom/cuckoo prefilter (A5) in front of
        # the exact anti-join (J1). No false negatives ⇒ only the
        # maybe_seen sliver touches the full seen table; the certainly-new
        # bulk skips it (this is what keeps the 10^10 seen set off the
        # per-round shuffle). Probes round R-1's committed filter —
        # unaffected by the round-R fold running concurrently above.
        # Scale-adaptive (r6, guide §1.2/§3.2): while the committed seen
        # set is small — cheap to count from the round manifests, no Spark
        # job — the probe's two cogrouped Python stages cost more than
        # simply folding seen into the one exact anti-join every child
        # already pays against the not-denied frontier (anti-joins against
        # unioned sides compose: anti(anti(C,A),B) = anti(C, A ∪ B)), so
        # the exact path runs one SHUFFLE_HASH anti-join total. The filter
        # fold above still commits every round either way (resume/state
        # are path-independent); results are identical by the
        # no-false-negative property. Threshold: the probe pays off once
        # scanning+shuffling the seen table dwarfs two fixed Python-stage
        # launches — ~5M rows is conservative on any hardware
        # (SPARK_GRAFT_PROBE_MIN_SEEN overrides for measurement).
        frontier_not_denied = allowed_rows.select("canon_url")
        use_probe = (
            cfg.filter_kind in ("bloom", "cuckoo")
            and round_no > 0
            and io.exists(prev_filter)
            and state.seen_rows_committed(round_no) >= _probe_min_seen()
        )
        if use_probe:
            children_h = children.withColumn(
                "url_hash", url_hash_expr(F.col("canon_url"))
            )
            filters = io.read(prev_filter, schemas.SEEN_BLOOM)
            if cfg.filter_kind == "bloom":
                from indigo_crawler_spark.operators.bloom_ops import probe_split

                certainly_new, maybe_seen = probe_split(children_h, filters)
            else:
                from indigo_crawler_spark.operators.cuckoo_ops import (
                    probe_split_cuckoo,
                )

                certainly_new, maybe_seen = probe_split_cuckoo(children_h, filters)
            survivors = maybe_seen.join(
                seen_prev.select("canon_url"), on="canon_url", how="left_anti"
            )
            children_pre = (
                certainly_new.unionByName(survivors)
                .drop("url_hash")
                .join(
                    frontier_not_denied.hint("SHUFFLE_HASH"),
                    on="canon_url",
                    how="left_anti",
                )
            )
        else:
            barrier = seen_prev.select("canon_url").unionByName(
                frontier_not_denied
            )
            children_pre = children.join(
                barrier.hint("SHUFFLE_HASH"), on="canon_url", how="left_anti"
            )

        hc = io.read("host_counts", schemas.HOST_COUNTS, cached=True)
        hc_side = (
            F.broadcast(hc) if small_host_dim else hc.hint("SHUFFLE_HASH")
        )
        children_full = (
            children_pre
            .join(hc_side, on="host", how="left")
            .withColumn("host_count", cx["host_count0"])
            .select(
                "canon_url",
                "host",
                cx["host_hash"],
                cx["child_pk"],
                "depth",
                cx["seed_rank"],
                cx["priority"],
                F.lit(round_no + 1).alias("discovered_round"),
            )
        )
        frontier_next = remaining.unionByName(children_full)

        # PageRank tick (SEMANTICS.md §PageRank priority): every
        # pagerank_every-th outgoing frontier is re-scored with fixed-point
        # integer ranks over the link graph accumulated through THIS round.
        # The rescored priorities are what frontier/round=R+1 commits, so
        # every downstream consumer — next round's gates, fetch_batches,
        # resume — sees one consistent ordering, and a crash-replay of this
        # round re-derives bit-identical ranks (integer sums are
        # order-independent; kernels/pagerank.py). Tick-cadence cost: one
        # graph pass + two SHUFFLE_HASH joins, never per-round.
        if cfg.pagerank_every and (round_no + 1) % cfg.pagerank_every == 0:
            from indigo_crawler_spark.operators.pagerank import (
                pagerank_int,
                rescore_frontier,
            )

            if f_links is not None:
                f_links.result()
            with _timed(tm, "pagerank_tick"):
                edges = state.links_through(round_no)
                # fold the delta chain into one snapshot when it grows past
                # the compaction cadence (same discipline as seen_compact;
                # physical-only — identical rows, identical ranks). The tick
                # already reads the whole chain, so the fold rides it.
                # Replay-safe: a killed-after-fold re-run sees the complete
                # snapshot and skips; a half-written dir (no _SUCCESS) is
                # ignored by _links_compact_uptos and safely overwritten.
                if (
                    cfg.seen_compact_every
                    and state.links_delta_dirs_after_compact(round_no)
                    >= cfg.seen_compact_every
                    and not io.is_complete(f"links_compact/upto={round_no}")
                ):
                    io.write(edges, f"links_compact/upto={round_no}")
                    edges = state.links_through(round_no)
                pr_ranks = pagerank_int(edges, iters=cfg.pagerank_iters)
                io.write(pr_ranks, f"pagerank/round={round_no + 1}")
                frontier_next = rescore_frontier(
                    frontier_next, pr_ranks, hc, cfg.pagerank_weight
                )

        fn_obs = Observation()
        frontier_next = frontier_next.observe(
            fn_obs,
            _sum0(F.col("discovered_round") == round_no + 1).alias("links_new"),
        ).cache()
        # discovery executes over the extracted cache — ensure the pooled
        # parse finished so the frontier-write job never re-parses
        f_extract.result()
        with _timed(tm, "discover_frontier_write"):
            io.write(frontier_next, f"frontier/round={round_no + 1}")

        # C3 — ONE digest job for BOTH committed tables (round-4 serial-floor
        # cut: previously the seen digest re-read its committed dir and the
        # frontier digest re-read frontier/round=R+1 — two extra scan jobs
        # per round; at a 10^10-row frontier the re-read alone is a full I/O
        # pass). Both frames are in memory — seen_delta projects the cached
        # emitted frame, frontier_next was just materialized by its write —
        # and the writes are deterministic projections of exactly these
        # frames, so digest-of-intent equals digest-of-file; the footer
        # cross-check before the manifest commit (below) catches a write
        # that failed to materialize them, and resume's verify_table
        # re-reads the FILES for full content verification. Round-5
        # serial-floor cut: the digest job overlaps the still-draining
        # filter/compact/budget/metrics futures on the pool instead of
        # sitting serially between the frontier write and the joins — it
        # reads only cached frames, so ordering is free.
        from indigo_crawler_spark.plans.lineage import tables_digest

        def _digest() -> dict:
            frames = {"seen": seen_delta, "frontier_next": frontier_next}
            if retry_rows is not None:
                frames["retries"] = retry_rows
            with _timed(tm, "tables_digest"):
                return tables_digest(frames)

        f_digest = pool.submit(_digest)
        if f_filter is not None:
            f_filter.result()
        if f_compact is not None:
            f_compact.result()
        if f_budgets is not None:
            f_budgets.result()
        if f_links is not None:
            f_links.result()
        if f_revisit is not None:
            f_revisit.result()
        if f_retries is not None:
            f_retries.result()
        if f_emitcap is not None:
            f_emitcap.result()
        f_fb.result()
        f_extract.result()
        f_metrics.result()
        digests = f_digest.result()
        max_host_cand, n_heavy_next = f_skew.result()
    finally:
        pool.shutdown(wait=True)
        if _aqe_prev is not None:
            spark.conf.set("spark.sql.adaptive.enabled", _aqe_prev)
        if _shuf_set:
            if _shuf_prev is None:
                spark.conf.unset("spark.sql.shuffle.partitions")
            else:
                spark.conf.set("spark.sql.shuffle.partitions", _shuf_prev)

    host_kept = _obs_int(host_obs, "host_kept") if host_obs is not None else n_kept
    counters = {
        "candidates": _obs_int(gate_obs, "candidates"),
        "max_host_candidates": max_host_cand,
        "frontier_heavy_hosts_next": n_heavy_next,
        "robots_denied": _obs_int(gate_obs, "robots_denied"),
        "trap_dropped": _obs_int(gate_obs, "trap_dropped"),
        "backoff_skipped": _obs_int(gate_obs, "backoff_skipped"),
        "budget_deferred": _obs_int(gate_obs, "eligible") - host_kept,
        "domain_deferred": host_kept - n_kept,
        "cap_deferred": n_kept - n_emitted,
        "emitted": n_emitted,
        "banned": _obs_int(fb_obs, "banned"),
        "fetched_pages": _obs_int(ext_obs, "fetched_pages"),
        "links_extracted": _obs_int(ext_obs, "links_extracted"),
        "links_new": _obs_int(fn_obs, "links_new"),
    }
    if cfg.thin_host_min_words:
        counters["thin_hosts_demoted"] = _obs_int(thin_obs, "thin")
    if cfg.meta_robots_enabled:
        counters["nofollow_dropped"] = _obs_int(ext_obs, "nofollow_dropped")
    if cfg.rel_canonical_enabled:
        counters["canonical_variants"] = _obs_int(ext_obs, "canonical_variants")
    if cfg.meta_refresh_enabled:
        counters["refresh_redirects"] = _obs_int(ext_obs, "refresh_redirects")
    if cfg.anchor_nofollow_enabled:
        counters["anchor_nofollow_dropped"] = _obs_int(
            ext_obs, "anchor_nofollow_dropped"
        )
    if cfg.hreflang_enabled:
        counters["hreflang_alternates"] = _obs_int(
            ext_obs, "hreflang_alternates"
        )
    if cfg.exclude_patterns:
        counters["pattern_excluded"] = _obs_int(gate_obs, "pattern_excluded")
    if cfg.exclude_extensions:
        counters["ext_excluded"] = _obs_int(gate_obs, "ext_excluded")
    if cfg.allow_hosts:
        counters["host_excluded"] = _obs_int(gate_obs, "host_excluded")
    if cfg.fail_every:
        counters["fetch_failed"] = _obs_int(fb_obs, "fetch_failed")
        counters["retry_exhausted"] = _obs_int(fb_obs, "retry_exhausted")
    if failhost_obs is not None:
        counters["failhost_backoff"] = _obs_int(failhost_obs, "failhost")
    if rv_obs is not None:
        counters["recrawl_unchanged"] = _obs_int(rv_obs, "unchanged")
        counters["recrawl_changed"] = _obs_int(rv_obs, "changed")
    if cfg.host_page_cap:
        counters["host_capped"] = _obs_int(gate_obs, "host_capped")
    if tm is not None:
        import sys

        print(f"ROUND_TIMINGS round={round_no} {tm}", file=sys.stderr)

    # Commit-time materialization cross-check (closes the digest-of-intent
    # gap): the digests fingerprint the in-memory frames; before the manifest
    # publishes the round, verify the files just written actually hold that
    # many rows. Parquet footer metadata only — a driver-side walk, zero
    # Spark jobs — so a torn or short write refuses the commit NOW instead
    # of surfacing at the next resume's file re-read.
    cross_checks = [
        (f"seen/round={round_no}", digests["seen"]["rows"]),
        (f"frontier/round={round_no + 1}", digests["frontier_next"]["rows"]),
        *(
            [(f"retries/round={round_no}", digests["retries"]["rows"])]
            if "retries" in digests
            else []
        ),
        (f"fetch_batches/round={round_no}", n_emitted),
        (f"fetched_text/round={round_no}", counters["fetched_pages"]),
    ]
    if rv_obs is not None:
        # one freshness row per fetched page (SEMANTICS.md §Adaptive recrawl)
        cross_checks.append(
            (f"revisit/round={round_no}", counters["fetched_pages"])
        )
    if cfg.pagerank_every:
        # exploded edge rows == the links_extracted sum riding the extract,
        # minus any links withheld by REP nofollow (meta_robots_enabled)
        cross_checks.append(
            (
                f"links/round={round_no}",
                counters["links_extracted"]
                - counters.get("nofollow_dropped", 0),
            )
        )
    for table, expected in cross_checks:
        on_disk = io.file_row_count(table)
        if on_disk is not None and on_disk != expected:
            raise RuntimeError(
                f"write cross-check failed for {table}: parquet footers hold "
                f"{on_disk} rows but the round observed {expected} — the "
                f"write did not faithfully materialize; refusing to commit "
                f"round {round_no}"
            )

    payload = {
        "round": round_no,
        "counters": counters,
        "digests": digests,
        "config_hash": cfg.config_hash(),
    }
    io.write_manifest(f"round_{round_no:05d}", payload)
    if tm is not None:
        # returned to the caller (bench attribution) but NEVER in the
        # on-disk manifest — wall-clock values have no place in the
        # deterministic commit record
        payload = {**payload, "timings": dict(tm)}

    for df in (gated, emitted, extracted, frontier_next, rank_cache, kept):
        df.unpersist()
    return payload


def fsck(state: CrawlState) -> dict:
    """Offline full-content verification of EVERY committed round (the EP2
    resume check verifies only the anchor round): recompute each round's
    seen / next-frontier lineage digests from the FILES on disk and compare
    to the manifests — all tables in ONE Spark job (tables_digest over a
    tagged union). Returns {round: {"seen": ok, "frontier_next": ok}};
    clean iff no flag is False. A table the cumulative ``gc`` manifest names
    as reclaimed (plans/state_gc.py) is reported as ``"reclaimed"`` — its
    files were deliberately dropped after their content was superseded, so
    there is nothing to re-digest and it is NOT corruption; a missing table
    the GC manifest does not name still fails its digest check. This is the
    operator tool for suspected storage faults — at a 10^10-row frontier it
    re-reads the whole committed chain, so it is on-demand, never a
    per-round step (the per-round protection is the commit-time footer
    cross-check + the resume anchor verify)."""
    from indigo_crawler_spark.plans.lineage import tables_digest

    reclaimed = set((state.io.read_manifest("gc") or {}).get("reclaimed", []))
    expected: dict[int, dict] = {}
    frames: dict[str, DataFrame] = {}
    for name in state.io.list_manifests():
        if not name.startswith("round_"):
            continue
        r = int(name.split("_")[1])
        d = (state.io.read_manifest(name) or {}).get("digests") or {}
        if not d:
            continue
        expected[r] = d
        if f"seen/round={r}" not in reclaimed:
            frames[f"seen_{r}"] = state.io.read(f"seen/round={r}", schemas.SEEN)
        if f"frontier/round={r + 1}" not in reclaimed:
            frames[f"frontier_{r}"] = state.io.read(
                f"frontier/round={r + 1}", schemas.FRONTIER
            )
        if "retries" in d and f"retries/round={r}" not in reclaimed:
            frames[f"retries_{r}"] = state.io.read(
                f"retries/round={r}", schemas.RETRIES
            )
    got = tables_digest(frames) if frames else {}
    return {
        r: {
            "seen": (
                got[f"seen_{r}"] == d["seen"]
                if f"seen_{r}" in got
                else "reclaimed"
            ),
            "frontier_next": (
                got[f"frontier_{r}"] == d["frontier_next"]
                if f"frontier_{r}" in got
                else "reclaimed"
            ),
            **(
                {
                    "retries": (
                        got[f"retries_{r}"] == d["retries"]
                        if f"retries_{r}" in got
                        else "reclaimed"
                    )
                }
                if "retries" in d
                else {}
            ),
        }
        for r, d in expected.items()
    }


def last_complete_round(state: CrawlState) -> int | None:
    """EP2 resume anchor: max round with a committed manifest, else None."""
    rounds = [
        int(m.split("_")[1]) for m in state.io.list_manifests() if m.startswith("round_")
    ]
    return max(rounds) if rounds else None


def run_rounds(
    spark: SparkSession,
    state: CrawlState,
    n_rounds: int,
    with_counters: bool = True,
    gc_every: int = 0,
) -> list[dict]:
    """Run/resume rounds up to n_rounds (EP2). A round whose manifest exists
    is skipped (its outputs are committed); a partially-written round —
    killed after some data writes but before its manifest — is recomputed
    from its committed inputs and overwritten, bit-exactly, because every
    operator is deterministic (SEMANTICS.md §Round, tie-breaks total).

    Before resuming, the anchor round's lineage digests are re-verified
    (C3): corrupted/half-written committed state fails loudly instead of
    silently diverging.

    ``gc_every=N`` reclaims superseded versioned state (plans/state_gc.py)
    after every Nth committed round — the months-long-crawl mode where
    storage must track the live set, not the round count. Between rounds
    nothing is in flight, so the offline-tool caveat doesn't apply: the
    protected set is exactly the next round's inputs plus the anchor, and
    a kill inside the GC itself just leaves more tables for the next pass
    (deletes are idempotent; the gc manifest is written atomically after).
    """
    from indigo_crawler_spark.plans.lineage import verify_table

    done = last_complete_round(state)
    start = 0 if done is None else done + 1
    if done is not None:
        m = state.io.read_manifest(f"round_{done:05d}") or {}
        digests = m.get("digests", {})
        if digests:
            ok_seen = verify_table(
                state.io.read(f"seen/round={done}", schemas.SEEN), digests["seen"]
            )
            ok_frontier = verify_table(
                state.io.read(f"frontier/round={done + 1}", schemas.FRONTIER),
                digests["frontier_next"],
            )
            ok_retries = (
                verify_table(
                    state.io.read(f"retries/round={done}", schemas.RETRIES),
                    digests["retries"],
                )
                if "retries" in digests
                else True
            )
            if not (ok_seen and ok_frontier and ok_retries):
                raise RuntimeError(
                    f"lineage digest mismatch at resume anchor round {done}; "
                    "committed state is corrupt — refusing to resume"
                )
        # accepted hashes: the current scheme, plus the legacy pre-capacity-
        # exclusion scheme reconstructed with the capacity the bootstrap
        # manifest pinned (a state dir committed under the old scheme must
        # stay resumable — the capacity exclusion cannot change semantics)
        bm = state.io.read_manifest("bootstrap") or {}
        accepted = {
            None,
            state.cfg.config_hash(),
            state.cfg.config_hash_legacy(bm.get("bloom_bucket_capacity")),
        }
        if m.get("config_hash") not in accepted:
            raise RuntimeError(
                "config_hash mismatch: resuming with different semantics is not allowed"
            )
    out = []
    for r in range(start, n_rounds):
        # age-based refresh (SEMANTICS.md §Recrawl): re-open round r-A's
        # emitted urls before round r runs. Committed rounds never reach
        # here (start skips them), so a resumed crawl re-ticks only the
        # uncommitted round — idempotently (retire no-ops on unseen urls,
        # inject skips pending rows).
        if state.cfg.recrawl_after:
            if state.cfg.recrawl_adaptive:
                # change-rate-adaptive variant (SEMANTICS.md §Adaptive
                # recrawl): due = latest revisit row says
                # fetched_round + interval <= r
                from indigo_crawler_spark.operators.recrawl import adaptive_tick

                adaptive_tick(state, r)
            else:
                from indigo_crawler_spark.operators.recrawl import recrawl_tick

                recrawl_tick(state, r)
        out.append(run_round(spark, state, r, with_counters=with_counters))
        if gc_every and (r + 1) % gc_every == 0 and r + 1 < n_rounds:
            from indigo_crawler_spark.plans.state_gc import gc_state

            gc_state(state)
    return out
