"""Per-layer tracing of the engine: which functions are wrapped, and the
layer metrics computed from their spans and from the event log.

A layer is an engine module. Each per-layer metric names the end-to-end
metric and workload it should move (``MOVES``); the result file of a
traced run carries that table next to the values.
"""

from __future__ import annotations

import numpy as np

from common import median, quantile
from tracing import Tracer, sum_groups

#: job-group prefix of the engine's steered runs (``steer.run_steered``)
STEER_GROUP_PREFIX = "limeqo-steer-"

#: per-layer metric -> (end-to-end metric it should move, workload)
MOVES: dict[str, tuple[str, str]] = {}


def _moves(names: list[str], e2e: str, workload: str) -> None:
    for n in names:
        MOVES[n] = (e2e, workload)


_moves(["session.start_s"], "setup_s", "query_suite, live_steer")
_moves(["io.table_calls", "io.table_s"], "cpu_s", "live_steer (query_suite slightly)")
_moves(["hints.applied_calls", "hints.applied_s"], "cpu_s", "live_steer (none on query_suite)")
_moves(
    ["plans.explain_calls", "plans.explain_s", "plans.plan_hash_calls", "plans.plan_hash_s",
     "plans.canonicalize_s"],
    "cpu_s", "live_steer (plans.explain_s: planning share of query_suite cpu_s)",
)
_moves(
    ["steer.runs", "steer.run_s", "steer.run_p50_s", "steer.run_p90_s", "steer.censored",
     "steer.censored_ratio", "steer.cancel_s", "steer.jobs", "steer.tasks",
     "steer.shuffle_write_bytes"],
    "cpu_s", "live_steer",
)
_moves(
    ["live.bootstrap_s", "live.explore_s", "live.self_s", "live.cells_measured",
     "live.cells_inherited", "live.inherited_ratio"],
    "cpu_s", "live_steer",
)
_moves(["workloads.build_calls", "workloads.build_s"], "cpu_s", "live_steer")
_moves(["live.adopted_hints", "live.adopted_losing"], "steered_workload_s (record)", "live_steer")
_moves(["complete.fit_calls", "complete.fit_s", "complete.fit_p50_s"], "cpu_s",
       "sim_explore (under 0.1% of live_steer: no change there)")
_moves(["tcnn.fit_calls", "tcnn.fit_s", "tcnn.predict_s"], "cpu_s", "sim_explore")
_moves(["strategies.rounds", "strategies.rank_s", "strategies.self_s"], "cpu_s", "sim_explore")
_moves(["strategies.cells_explored", "strategies.censored_ratio", "strategies.useful_ratio"],
       "sim_*_final_ratio (record)", "sim_explore")
PACKAGES = ("relational", "pipeline", "streaming")
PACKAGE_FIELDS = (
    "build_s", "build_jobs", "exec_s", "exec_jobs", "stages", "tasks",
    "executor_run_s", "gc_s", "shuffle_write_bytes", "spill_bytes",
)
for _pkg in PACKAGES:
    _moves([f"{_pkg}.{f}" for f in PACKAGE_FIELDS], "cpu_s", "query_suite")
_moves(["trace.overhead_s", "trace.spans"], "-", "all")


def install(tracer: Tracer, steer_runs: list | None = None) -> None:
    """Wrap every traced layer function. ``steer_runs`` collects
    ``(span, SteeredRun)`` for each hinted execution."""
    from limeqo_spark import complete, hints, io, plans, steer, strategies, tcnn

    tracer.patch_function(io.table, "io.table")
    tracer.patch_function(plans.canonicalize, "plans.canonicalize")
    tracer.patch_function(plans.explain_formatted, "plans.explain")
    tracer.patch_function(plans.plan_hash, "plans.plan_hash")
    tracer.patch_context(hints.applied, "hints.apply", "hints.restore")
    tracer.patch_function(
        steer.run_steered, "steer.run",
        on_result=lambda rec, args, out: steer_runs.append((rec, out)) if steer_runs is not None else None,
    )
    tracer.patch_function(complete.als_complete, "complete.fit")
    tracer.patch_method(tcnn.NumpyTCNN, "fit", "tcnn.fit")
    tracer.patch_method(tcnn.NumpyTCNN, "predict", "tcnn.predict")
    tracer.patch_function(strategies.rank_cells_by_improvement, "strategies.rank")

    orig = strategies.SimState.reveal_or_censor

    def reveal_or_censor(state, i, j, tolerance):
        row = np.where(state.mask[i] > 0, state.wl.matrix[i], np.inf)
        before = row.min()
        revealed = orig(state, i, j, tolerance)
        c = tracer.counters
        c["strategies.attempts"] += 1
        if not revealed:
            c["strategies.censored"] += 1
        elif state.wl.matrix[i, j] < before:
            c["strategies.useful"] += 1
        return revealed

    tracer.patch_attr(strategies.SimState, "reveal_or_censor", reveal_or_censor)


def _total(tracer: Tracer, name: str) -> float:
    return float(sum(tracer.durations(name)))


def common_metrics(tracer: Tracer, groups: dict | None, steer_runs: list) -> dict[str, float]:
    """Metrics of the layers every workload can reach: io, hints, plans,
    steer, complete and tcnn."""
    runs = tracer.durations("steer.run")
    censored = [(rec, out) for rec, out in steer_runs if out.latency is None]
    cancel = 0.0
    for rec, out in censored:
        cancel += max(0.0, (rec[2] - rec[1]) - tracer.child_time(rec) - out.censor_cutoff)
    steer_ev = (
        sum_groups(groups, lambda g: g.startswith(STEER_GROUP_PREFIX)) if groups else {}
    )
    fits = tracer.durations("complete.fit")
    return {
        "io.table_calls": len(tracer.durations("io.table")),
        "io.table_s": _total(tracer, "io.table"),
        "hints.applied_calls": len(tracer.durations("hints.apply")),
        "hints.applied_s": _total(tracer, "hints.apply") + _total(tracer, "hints.restore"),
        "plans.explain_calls": len(tracer.durations("plans.explain")),
        "plans.explain_s": _total(tracer, "plans.explain"),
        "plans.plan_hash_calls": len(tracer.durations("plans.plan_hash")),
        "plans.plan_hash_s": _total(tracer, "plans.plan_hash"),
        "plans.canonicalize_s": _total(tracer, "plans.canonicalize"),
        "steer.runs": len(runs),
        "steer.run_s": float(sum(runs)),
        "steer.run_p50_s": median(runs) if runs else 0.0,
        "steer.run_p90_s": quantile(runs, 0.9) if runs else 0.0,
        "steer.censored": len(censored),
        "steer.censored_ratio": len(censored) / len(runs) if runs else 0.0,
        "steer.cancel_s": cancel,
        "steer.jobs": steer_ev.get("jobs", 0.0),
        "steer.tasks": steer_ev.get("tasks", 0.0),
        "steer.shuffle_write_bytes": steer_ev.get("shuffle_write_bytes", 0.0),
        "complete.fit_calls": len(fits),
        "complete.fit_s": float(sum(fits)),
        "complete.fit_p50_s": median(fits) if fits else 0.0,
        "tcnn.fit_calls": len(tracer.durations("tcnn.fit")),
        "tcnn.fit_s": _total(tracer, "tcnn.fit"),
        "tcnn.predict_s": _total(tracer, "tcnn.predict"),
        "trace.spans": len(tracer.spans),
    }
