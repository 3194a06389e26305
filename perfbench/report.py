"""Per-layer numbers from a traced run.

Works on the tracer's spans plus what the Spark status store said about
the jobs fired inside them. Values are per pass, so runs that fit a
different number of passes stay comparable.
"""

from __future__ import annotations

from collections import defaultdict

from .stats import fail_ratio
from .tracer import Span, exec_summary, job_ids, outermost, self_times
from .weatherdocs import TABLES

# name -> unit of the per-layer metrics printed by ``--trace 1``; each is
# nonzero on at least one workload
PER_LAYER_UNITS = {
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "schemas.load_table_calls": "count",
    "schemas.load_table_s": "s",
    "catalyst.plan_s": "s",
    "exec.s": "s",
    "exec.idle_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.cpu_s": "s",
    "exec.run_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.output_bytes": "bytes",
    "operators.dedup_s": "s",
    "operators.similarity_s": "s",
    "operators.graph_s": "s",
    "caching.persist_calls": "count",
    "caching.checkpoint_s": "s",
    "caching.release_s": "s",
    "group.queries_s": "s",
    "group.operators_s": "s",
    "group.drains_s": "s",
    "sources.extract_s": "s",
    "sources.read_raw_s": "s",
    "pipeline.transform_s": "s",
    "pipeline.transform_jobs": "count",
    "pipeline.load_s": "s",
    **{f"load.{t}_s": "s" for t in TABLES},
    "upsert.calls": "count",
    "upsert.s": "s",
    "upsert.audit_s": "s",
    "load.rows_staged": "count",
    "load.rows_changed": "count",
    "load.useful_ratio": "ratio",
    "storage.curated_bytes": "bytes",
    "storage.warehouse_bytes": "bytes",
    "write_amp": "ratio",
    "space_amp": "ratio",
}

# operation group -> name of its wall-time share
GROUPS = {
    "query": "group.queries_s",
    "operator": "group.operators_s",
    "drain": "group.drains_s",
    "tick": "group.ticks_s",  # the whole wall of etl_daily: trace file only
}


def _inclusive(spans: list[Span], name: str) -> tuple[int, float, set[int]]:
    top = outermost(spans, name)
    return len(top), sum(sp.duration for sp in top), job_ids(top)


def layer_table(spans: list[Span]) -> dict[str, dict]:
    """name -> calls, inclusive seconds (outermost spans only) and self
    seconds, for every span name."""
    selfs = self_times(spans)
    table: dict[str, dict] = defaultdict(lambda: {"calls": 0, "self_s": 0.0})
    for sp in spans:
        row = table[sp.name]
        row["calls"] += 1
        row["self_s"] += selfs[sp.sid]
    for name, row in table.items():
        row["inclusive_s"] = _inclusive(spans, name)[1]
    return dict(table)


def coverage(spans: list[Span], wall_s: float) -> float:
    """Share of the timed wall covered by top-level spans."""
    top = [sp for sp in spans if sp.parent is None]
    return sum(sp.duration for sp in top) / wall_s if wall_s > 0 else 0.0


def per_layer(
    spans: list[Span],
    jobs: dict,
    stages: dict,
    passes: int,
    extra: dict,
) -> tuple[dict[str, float], dict[str, float]]:
    """(metrics printed by ``--trace 1``, every named layer number).

    ``extra`` carries what spans cannot: attempted/failed counts and the
    ETL byte and row tallies. The second dict adds the numbers that are
    0 on every workload of a correct build (spill, failed tasks,
    fail_ratio) and the tick group, which is the whole ETL wall."""
    ops = [sp for sp in spans if sp.name == "op"]
    ex = exec_summary(job_ids(ops), jobs, stages)
    pp = 1.0 / max(1, passes)

    def secs(name: str) -> float:
        return _inclusive(spans, name)[1] * pp

    def calls(name: str) -> float:
        return len(outermost(spans, name)) * pp

    def jobs_of(name: str) -> float:
        return len(_inclusive(spans, name)[2]) * pp

    staged = sum(sp.attrs.get("rows", 0) for sp in outermost(spans, "pipeline.transform"))
    changed = extra.get("rows_changed", 0)
    payload = extra.get("payload_bytes", {})
    tick_payload = payload.get("ticks", 0)
    all_payload = tick_payload + payload.get("backfill", 0)
    stored = extra.get("curated_bytes", 0) + extra.get("warehouse_bytes", 0)
    named = {
        "plans.build_s": secs("plans.build"),
        "plans.build_jobs": jobs_of("plans.build"),
        "schemas.load_table_calls": calls("schemas.load_table"),
        "schemas.load_table_s": secs("schemas.load_table"),
        "catalyst.plan_s": secs("catalyst.plan"),
        "exec.s": ex["s"] * pp,
        "exec.idle_s": sum(sp.duration for sp in ops) * pp - ex["s"] * pp,
        "exec.jobs": ex["jobs"] * pp,
        "exec.stages": ex["stages"] * pp,
        "exec.tasks": ex["tasks"] * pp,
        "exec.cpu_s": ex["cpu_ns"] / 1e9 * pp,
        "exec.run_s": ex["run_ms"] / 1e3 * pp,
        "exec.gc_s": ex["gc_ms"] / 1e3 * pp,
        "exec.shuffle_write_bytes": ex["shuffle_write_bytes"] * pp,
        "exec.shuffle_read_bytes": ex["shuffle_read_bytes"] * pp,
        "exec.output_bytes": ex["output_bytes"] * pp,
        "exec.spill_bytes": (ex["disk_spill_bytes"] + ex["memory_spill_bytes"]) * pp,
        "exec.failed_tasks": ex["failed_tasks"] * pp,
        "operators.dedup_s": secs("operators.dedup"),
        "operators.similarity_s": secs("operators.similarity"),
        "operators.graph_s": secs("operators.graph"),
        "caching.persist_calls": calls("caching.persist"),
        "caching.checkpoint_s": secs("caching.checkpoint"),
        "caching.release_s": secs("caching.release"),
        "sources.extract_s": secs("sources.extract"),
        "sources.read_raw_s": secs("sources.read_raw"),
        "pipeline.transform_s": secs("pipeline.transform"),
        "pipeline.transform_jobs": jobs_of("pipeline.transform"),
        "pipeline.load_s": secs("pipeline.load"),
        **{f"load.{t}_s": 0.0 for t in TABLES},
        "upsert.calls": calls("upsert.upsert_path"),
        "upsert.s": secs("upsert.upsert_path"),
        "upsert.audit_s": secs("upsert.audit"),
        "load.rows_staged": staged * pp,
        "load.rows_changed": changed * pp,
        "load.useful_ratio": changed / staged if staged else 0.0,
        "storage.curated_bytes": extra.get("curated_bytes", 0),
        "storage.warehouse_bytes": extra.get("warehouse_bytes", 0),
        "write_amp": ex["output_bytes"] / tick_payload if tick_payload else 0.0,
        "space_amp": stored / all_payload if all_payload else 0.0,
        "fail_ratio": fail_ratio(extra["attempted"], extra["failed"]),
    }
    for sp in outermost(spans, "load.table"):
        named[f"load.{sp.attrs['table']}_s"] += sp.duration * pp
    for group, key in GROUPS.items():
        named[key] = sum(sp.duration for sp in ops if sp.attrs.get("group") == group) * pp
    printed = {k: named[k] for k in PER_LAYER_UNITS}
    return printed, named
