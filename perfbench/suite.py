"""``query_suite``: manifest queries at default confs.

Each warm rep of an entry is its builder (including any eager actions it
takes) plus a noop write of the plan it returns. Passes visit the entries
in a seed-shuffled order. Every entry is compared once per run with its
DuckDB oracle, in the untimed cold pass.
"""

from __future__ import annotations

import random

import tracing
from common import cpu_s, iterations, measure, median, now, quantile
from fixtures import TABLES

#: (manifest entry, package) — a subset of the 43-entry r12 headline:
#: every package and the main operator families, sized so that several
#: warm passes fit in one run
ENTRIES = (
    ("q01_parquet_scan_checksum", "relational"),  # scan + agg
    ("q07_broadcast_join", "relational"),  # broadcast hash join
    ("q08_sortmerge_join", "relational"),  # fact-fact sort-merge join
    ("q17_count_distinct", "relational"),
    ("q21_sort_limit", "relational"),  # top-K
    ("q71_tpch_q6_forecast_revenue", "relational"),  # pushdown scan-agg
    ("limeqo_wl_topk_improvement", "relational"),  # the steering select step
    ("text_quality_score", "pipeline"),
    ("text_fingerprint", "pipeline"),
    ("corpus_mix_quota_sample", "pipeline"),  # training-mix curation
    ("cdc_scd2_history", "pipeline"),  # changelog -> validity intervals
    ("q44a_stream_tumbling", "streaming"),
)
#: nominal wall of one warm pass over ``ENTRIES``
PASS_S = 5.0


def _oracle(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _reset(spark) -> None:
    from limeqo_spark.relational.registry import release_retained

    release_retained()
    spark.catalog.clearCache()


def run(spark, sf_dir: str, seed: int, seconds: float, tracer=None, install=None) -> dict:
    from limeqo_spark import plans
    from limeqo_spark.manifest import REGISTRY
    from limeqo_spark.testing import compare_frames

    specs = {name: REGISTRY[name] for name, _ in ENTRIES}
    package = dict(ENTRIES)
    rng = random.Random(seed)
    order = [name for name, _ in ENTRIES]
    errors: list[str] = []

    # cold pass: first execution of every entry, checked against its oracle
    con = _oracle(sf_dir)
    cold_s = 0.0
    cold_cpu = cpu_s()[0]
    rng.shuffle(order)
    for name in order:
        spec = specs[name]
        t = now()
        try:
            got = spec.builder(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001 — recorded as a failed op
            errors.append(f"{name}: {e!r}")
            continue
        finally:
            cold_s += now() - t
            _reset(spark)
        if spec.check == "hash":
            ok, msg = compare_frames(got, con.execute(spec.oracle).fetchdf())
            if not ok:
                errors.append(f"{name}: oracle mismatch: {msg}")
        elif got.empty:
            errors.append(f"{name}: property entry returned no rows")
    con.close()
    cold_cpu = cpu_s()[0] - cold_cpu

    #: per entry, (build wall, exec wall, CPU seconds) of each warm rep
    reps: dict[str, list[tuple[float, float, float]]] = {n: [] for n in order}
    traced_reps: dict[str, list[tuple[float, float, float]]] = {n: [] for n in order}
    sc = spark.sparkContext
    rep_no = [0]
    jit = [0.0]

    def one_pass(store, traced: bool) -> None:
        rng.shuffle(order)
        rep_no[0] += 1
        for name in order:
            if traced:
                sc.setJobGroup(f"pb:{name}:{rep_no[0]}:build", name)
            c0, j0 = cpu_s()
            t0 = now()
            df = specs[name].builder(spark, sf_dir)
            t1 = now()
            if traced:
                plans.explain_formatted(df)  # the planning share, traced runs only
                sc.setJobGroup(f"pb:{name}:{rep_no[0]}:exec", name)
                t1b = now()
            else:
                t1b = t1
            df.write.format("noop").mode("overwrite").save()
            t2 = now()
            c1, j1 = cpu_s()
            store[name].append((t1 - t0, t2 - t1b, c1 - c0))
            jit[0] += j1 - j0
            _reset(spark)
        if traced:
            sc.setJobGroup("pb:idle", "idle")

    passes = iterations(seconds, PASS_S, 2)
    measure(passes, lambda traced: one_pass(traced_reps if traced else reps, traced), tracer, install)

    totals = [b + e for n in order for b, e, _ in reps[n]]
    cpus = [c for n in order for _, _, c in reps[n]]
    entry_medians = {n: median([b + e for b, e, _ in reps[n]]) for n in order}
    entry_cpu = {n: median([c for _, _, c in reps[n]]) for n in order}
    out = {
        "cold_s": cold_s,
        "cold_cpu_s": cold_cpu,
        "wall_s": sum(entry_medians.values()),
        "cpu_s": sum(entry_cpu.values()),
        "named": {
            "suite_total_s": (sum(entry_medians.values()), "s"),
            "query_p50_s": (median(totals), "s"),
            "query_p90_s": (quantile(totals, 0.9), "s"),
            "suite_cpu_s": (sum(entry_cpu.values()), "s"),
            "query_cpu_p50_s": (median(cpus), "s"),
            "jit_cpu_s": (jit[0], "s"),
        },
        "detail": {"entry_median_s": entry_medians, "entry_cpu_s": entry_cpu,
                   "reps": reps},
        "samples": {"passes": len(totals) // len(order), "executions": len(totals)},
        "attempted": len(order) + len(totals) + sum(len(r) for r in traced_reps.values()),
        "errors": errors,
    }
    if tracer is not None:
        traced_median = sum(median([b + e for b, e, _ in traced_reps[n]]) for n in order)
        out["trace_overhead_s"] = traced_median - out["wall_s"]
        out["traced_reps"] = traced_reps
        out["package"] = package
    return out


def layer_metrics(tracer, groups: dict, result: dict) -> dict[str, float]:
    """Per-package totals over the traced passes: median build and exec
    wall per entry, and the event-log counts per rep, summed by package."""
    from layers import PACKAGE_FIELDS, PACKAGES

    out = {f"{p}.{f}": 0.0 for p in PACKAGES for f in PACKAGE_FIELDS}
    for name, reps in result["traced_reps"].items():
        pkg = result["package"][name]
        n = len(reps)
        out[f"{pkg}.build_s"] += median([b for b, _, _ in reps])
        out[f"{pkg}.exec_s"] += median([e for _, e, _ in reps])
        build = tracing.sum_groups(groups, lambda g: g.startswith(f"pb:{name}:") and g.endswith(":build"))
        both = tracing.sum_groups(groups, lambda g: g.startswith(f"pb:{name}:"))
        out[f"{pkg}.build_jobs"] += build["jobs"] / n
        out[f"{pkg}.exec_jobs"] += (both["jobs"] - build["jobs"]) / n
        for f in ("stages", "tasks", "executor_run_s", "gc_s", "shuffle_write_bytes", "spill_bytes"):
            out[f"{pkg}.{f}"] += both[f] / n
    return out
