"""Per-layer metrics of the traced run, built from the spans that
``harness.Probe`` recorded around each public engine call.

Layer names follow the repository's modules; ``perfbench/README.md`` maps
each metric to the end-to-end metric and workload it should move.
"""

from __future__ import annotations

import statistics

# round phases of the engine's SPARK_GRAFT_TIMINGS map reported per round
ROUND_PHASES = (
    "gates_rank_collect", "skew_fold", "tables_digest", "extract_text_write",
    "filter_fold", "discover_frontier_write", "fetch_batches_write", "seen_write",
)
BOOTSTRAP_PHASES = ("store_write", "frontier_write")


def _spark(span, key: str) -> float:
    return float(span.attrs["spark"][key]) if span is not None else 0.0


def _spill(span) -> float:
    return _spark(span, "memoryBytesSpilled") + _spark(span, "diskBytesSpilled")


def _tio(span, method: str) -> tuple[int, float]:
    return (span.attrs["table_io_calls"].get(method, 0),
            span.attrs["table_io_s"].get(method, 0.0))


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def round_row(x: dict, cpus: int) -> dict:
    """Per-layer figures of one traced round."""
    s, wall = x["span"], x["wall_s"]
    task_s = _spark(s, "executorRunTime") / 1000.0
    io_calls = lambda m: _tio(s, m)[0]  # noqa: E731
    io_secs = lambda m: _tio(s, m)[1]  # noqa: E731
    row = {
        "round.spark_jobs": _spark(s, "jobs"),
        "round.stages": _spark(s, "stages"),
        "round.tasks": _spark(s, "tasks"),
        "round.py4j_calls": float(s.attrs["py4j_calls"]),
        "round.task_s": task_s,
        "round.slot_busy_share": task_s / (wall * cpus),
        "round.driver_serial_share": s.attrs["driver_self_s"] / wall,
        "round.input_bytes": _spark(s, "inputBytes"),
        "round.input_rows_per_url": _spark(s, "inputRecords") / max(1, x["emitted"]),
        "round.shuffle_write_bytes": _spark(s, "shuffleWriteBytes"),
        "round.shuffle_read_bytes": _spark(s, "shuffleReadBytes"),
        "round.spill_bytes": _spill(s),
        "round.output_bytes": _spark(s, "outputBytes"),
        "table_io.write_calls": float(io_calls("write")),
        "table_io.write_s": io_secs("write"),
        "table_io.read_calls": float(io_calls("read")),
        "table_io.read_s": io_secs("read"),
        "table_io.manifest_calls": float(
            sum(io_calls(m) for m in ("write_manifest", "read_manifest", "list_manifests"))
        ),
        "table_io.files_per_round": float(x["files"]),
        "table_io.bytes_per_round": float(x["bytes"]),
    }
    for p in ROUND_PHASES:
        row[f"round.phase.{p}_s"] = float(x["timings"].get(p, 0.0))
    return row


def per_layer(rounds, cpus, bspan, churn, resume_span, resumes, gcr, gc_s) -> dict:
    """Per-layer metrics of a traced run, keyed by their BENCHMARK.json names
    (the run adds ``bootstrap_s``, ``resume_s``, ``peak_rss_mb`` and the
    kernel microbench)."""
    rows = [round_row(x, cpus) for x in rounds]
    out = {k: _median(row[k] for row in rows) for k in rows[0]}
    out["round.samples"] = float(len(rows))
    plain = _median(resumes[False])
    out["trace.overhead_share"] = (_median(resumes[True]) - plain) / plain
    btm = bspan.attrs.get("timings") or {}
    out.update({
        "bootstrap.spark_jobs": _spark(bspan, "jobs"),
        "bootstrap.py4j_calls": float(bspan.attrs["py4j_calls"]),
        "bootstrap.task_s": _spark(bspan, "executorRunTime") / 1000.0,
        "bootstrap.shuffle_write_bytes": _spark(bspan, "shuffleWriteBytes"),
        "bootstrap.spill_bytes": _spill(bspan),
        "bootstrap.output_bytes": _spark(bspan, "outputBytes"),
    })
    for p in BOOTSTRAP_PHASES:
        out[f"bootstrap.phase.{p}_s"] = float(btm.get(p, 0.0))
    rs = churn["retire_spans"]
    ex = churn["export_span"]
    # rounds never rewrite a table; retire and inject do
    mutations = rs + [churn["inject_span"], ex]
    out.update({
        "table_io.rewrite_calls": float(sum(_tio(s, "rewrite")[0] for s in mutations)),
        "table_io.rewrite_s": sum(_tio(s, "rewrite")[1] for s in mutations),
        "retire_s.p50": _median(churn["retire_s"]),
        "retire.spark_jobs": _median(_spark(s, "jobs") for s in rs),
        "retire.table_io_rewrites": _median(_tio(s, "rewrite")[0] for s in rs),
        "inject.spark_jobs": _spark(churn["inject_span"], "jobs"),
        "inject.round_s": churn["inject_round_s"],
        "export_s": churn["export_s"],
        "export.spark_jobs": _spark(ex, "jobs"),
        "export.task_s": _spark(ex, "executorRunTime") / 1000.0,
        "export.input_bytes": _spark(ex, "inputBytes"),
        "export.pks_rewritten": float(churn["export"]["pks_rewritten"]),
        "resume.spark_jobs": _spark(resume_span, "jobs"),
        "resume.input_bytes": _spark(resume_span, "inputBytes"),
        "gc.tables_reclaimed": float(len(gcr["reclaimed"])),
        "gc.bytes_reclaimed": float(gcr["bytes_reclaimed"]),
        "gc_s": gc_s,
    })
    return out


def coverage(rounds) -> list[dict]:
    """Where each traced round's wall went, by layer self time: Spark jobs
    (``operators.*`` execution, the union of job intervals) and the
    driver's own time between and around them (``plans.round``
    orchestration), of which ``sources.table_io`` calls are a part."""
    out = []
    for x in rounds:
        s = x["span"]
        if s is None:
            continue
        wall, driver = x["wall_s"], s.attrs["driver_self_s"]
        tio = sum(s.attrs["table_io_s"].values())
        out.append({
            "round": x["round"],
            "wall_s": wall,
            "spark_jobs_s": s.duration - driver,
            "driver_self_s": driver,
            "table_io_s": tio,
            "phase_sum_s": sum(x["timings"].values()),
        })
    return out
