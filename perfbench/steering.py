"""``live_steer``: LimeQO over real hinted Spark executions.

After an untimed warm-up session, each iteration runs one
``LiveSteeringSession`` (censored-ALS model) over shapes of the engine's
steering workload (``workloads.steering_workload``) and all 49 hint
sets: ``bootstrap()`` then ``explore(rounds, k)``. After
the sessions, a confirmation pass runs every query under hint 0 and under
the hint the last session adopted (``best_hints()``), reps interleaved,
to measure the workload's latency after steering, and every hint any
session adopted is checked to return hint 0's rows. The seed drives the
generated tables, the session seeds and the query order.
"""

from __future__ import annotations

import random
from contextlib import nullcontext

from common import cpu_s, iterations, measure, median, now

#: steering shapes in each session: two of the engine's twelve, the
#: join-order problem and the sort-merge vs hash decision, so that two
#: sessions fit in one run
QUERIES = ("star_5way", "fact_fact")
EXPLORE_ROUNDS = 2
EXPLORE_K = 2
#: sessions per run at least, whatever ``--seconds`` says
MIN_SESSIONS = 2
#: nominal wall of one session
SESSION_S = 10.0
CONFIRM_REPS = 2


def _timed_run(spark, build, hint_set) -> tuple[float, float]:
    """Wall and CPU seconds of one hinted execution."""
    from limeqo_spark import hints as H

    c = cpu_s()[0]
    t = now()
    with H.applied(spark, hint_set):
        df = build()
    df.write.format("noop").mode("overwrite").save()
    wall = now() - t
    return wall, cpu_s()[0] - c


def _rows(spark, build, hint_set):
    from limeqo_spark import hints as H

    with H.applied(spark, hint_set):
        df = build()
    return df.toPandas()


def run(spark, sf_dir: str, seed: int, seconds: float, tracer=None, install=None) -> dict:
    from limeqo_spark import hints as H
    from limeqo_spark.live import LiveSteeringSession
    from limeqo_spark.testing import compare_frames
    from limeqo_spark.workloads import steering_workload

    shapes = steering_workload(spark, sf_dir)
    rng = random.Random(seed)
    names = list(QUERIES)
    rng.shuffle(names)
    queries = {n: shapes[n] for n in names}
    default = H.REGISTRY[0]

    # cold pass: each query run once under the default plan, then one
    # whole session; the engine's JVM is still compiling its hot paths
    # then, and each session costs less than the one before it. A traced
    # run leaves the session out: its untraced-traced-traced-untraced
    # order already balances that trend.
    t, c = now(), cpu_s()[0]
    for build in queries.values():
        _timed_run(spark, build, default)
    adopted_pairs: set[tuple[str, int]] = set()
    if tracer is None:
        warm = LiveSteeringSession(spark, dict(queries), seed=seed * 1000 - 1)
        warm.bootstrap()
        warm.explore(rounds=EXPLORE_ROUNDS, k=EXPLORE_K, model="als")
        adopted_pairs.update((q, h) for q, (h, _) in warm.best_hints().items() if h != 0)
    cold_s, cold_cpu = now() - t, cpu_s()[0] - c

    sessions: list[dict] = []

    def iteration(traced: bool) -> None:
        i = len(sessions)
        qs = dict(queries)
        if traced:
            qs = {q: tracer.wrap("workloads.build", b) for q, b in qs.items()}
        session = LiveSteeringSession(spark, qs, seed=seed * 1000 + i)
        c0 = cpu_s()[0]
        t0 = now()
        with tracer.span("live.bootstrap") if traced else nullcontext() as boot:
            session.bootstrap()
        t1 = now()
        with tracer.span("live.explore") if traced else nullcontext() as expl:
            session.explore(rounds=EXPLORE_ROUNDS, k=EXPLORE_K, model="als")
        t2 = now()
        cpu = cpu_s()[0] - c0
        best = session.best_hints()
        adopted = {q: best[q][0] for q in queries}
        adopted_pairs.update((q, h) for q, h in adopted.items() if h != 0)
        obs = session.observations
        sessions.append({
            "traced": traced,
            "session_s": t2 - t0,
            "session_cpu_s": cpu,
            "bootstrap_s": t1 - t0,
            "explore_s": t2 - t1,
            "spans": (boot, expl),
            "adopted": adopted,
            "measured": sum(1 for o in obs if o.measured),
            "inherited": sum(1 for o in obs if not o.measured),
        })

    measure(iterations(seconds, SESSION_S, MIN_SESSIONS), iteration, tracer, install)
    plain = [s for s in sessions if not s["traced"]]

    # confirmation of the last untraced session: every query under hint 0
    # and under its adopted hint, reps interleaved
    adopted = plain[-1]["adopted"]
    lat: dict[str, tuple[list, list]] = {q: ([], []) for q in queries}
    for _ in range(CONFIRM_REPS):
        for q, build in queries.items():
            lat[q][0].append(_timed_run(spark, build, default))
            hj = adopted[q]
            lat[q][1].append(
                lat[q][0][-1] if hj == 0 else _timed_run(spark, build, H.REGISTRY[hj])
            )
    default_s = {q: median([w for w, _ in lat[q][0]]) for q in queries}
    steered_s = {q: median([w for w, _ in lat[q][1]]) for q in queries}

    # output check: an adopted hint must not change the query's result
    errors: list[str] = []
    checked = 0
    baseline = {}
    for q, hj in sorted(adopted_pairs):
        if q not in baseline:
            baseline[q] = _rows(spark, queries[q], default)
        ok, msg = compare_frames(_rows(spark, queries[q], H.REGISTRY[hj]), baseline[q])
        checked += 1
        if not ok:
            errors.append(f"{q} under hint {hj}: {msg}")

    # every confirmation execution once (an adopted hint 0 reuses the
    # default run)
    runs = [r for q in queries for r in lat[q][0]]
    runs += [r for q in queries if adopted[q] != 0 for r in lat[q][1]]
    session_s = median([s["session_s"] for s in plain])
    # the cheaper session: a burst of host contention inflates the CPU a
    # session needs (caches and cores shared with other tenants, and the
    # censoring cutoffs follow measured walls), and with two sessions a
    # median would keep half of one such burst
    session_cpu = min(s["session_cpu_s"] for s in plain)
    out = {
        "cold_s": cold_s,
        "cold_cpu_s": cold_cpu,
        "wall_s": session_s,
        "cpu_s": session_cpu,
        "named": {
            "steer_session_s": (session_s, "s"),
            "steer_session_cpu_s": (session_cpu, "s"),
            "hinted_run_p50_s": (median([w for w, _ in runs]), "s"),
            "hinted_run_cpu_p50_s": (median([c for _, c in runs]), "s"),
            "steered_workload_s": (sum(steered_s.values()), "s"),
            "default_workload_s": (sum(default_s.values()), "s"),
        },
        "detail": {
            "adopted": [s["adopted"] for s in sessions],
            "confirmed_default_s": default_s,
            "confirmed_steered_s": steered_s,
            "session_s": [s["session_s"] for s in sessions],
            "session_cpu_s": [s["session_cpu_s"] for s in sessions],
        },
        "samples": {"sessions": len(plain), "confirm_runs": len(runs),
                    "hint_checks": checked},
        "attempted": len(sessions) + checked,
        "errors": errors,
    }
    if tracer is not None:
        traced = [s for s in sessions if s["traced"]]
        out["trace_overhead_s"] = median([s["session_s"] for s in traced]) - session_s
        out["traced_sessions"] = traced
        out["confirmed"] = (default_s, steered_s)
    return out


def layer_metrics(tracer, result: dict) -> dict[str, float]:
    """live.* over the traced sessions."""
    traced = result["traced_sessions"]
    wall = sum(s["session_s"] for s in traced)
    children = 0.0
    for s in traced:
        for rec in s["spans"]:
            children += tracer.child_time(rec)
    measured = sum(s["measured"] for s in traced)
    inherited = sum(s["inherited"] for s in traced)
    adopted = [q for q, hj in traced[-1]["adopted"].items() if hj != 0]
    default_s, steered_s = result["confirmed"]
    return {
        "workloads.build_calls": len(tracer.durations("workloads.build")),
        "workloads.build_s": sum(tracer.durations("workloads.build")),
        "live.bootstrap_s": sum(s["bootstrap_s"] for s in traced),
        "live.explore_s": sum(s["explore_s"] for s in traced),
        "live.self_s": wall - children,
        "live.cells_measured": measured,
        "live.cells_inherited": inherited,
        "live.inherited_ratio": inherited / (measured + inherited) if measured + inherited else 0.0,
        # adoption of the last traced session; losing is judged by the
        # confirmation pass of the last untraced session
        "live.adopted_hints": len(adopted),
        "live.adopted_losing": sum(1 for q in steered_s if steered_s[q] > default_s[q]),
    }
