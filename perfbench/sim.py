"""``sim_explore``: the reference's offline mode, without Spark.

For each of ``PAIRS`` matrix pairs, LimeQO (censored ALS) explores a
CEB-shaped 3133x49 matrix, then LimeQO+ with the numpy tree-CNN
(``net_seed`` pinned) explores a DSB-shaped 964x49 matrix; each stops
after a fixed number of rounds. The matrices come from
``fixtures.workload_matrix``. A leg's final total must lie between its
matrix's optimum and default totals with column 0 still observed, and a
leg explored again must end at the same total.
"""

from __future__ import annotations

import time
from contextlib import nullcontext
from dataclasses import asdict

import fixtures
from common import iterations, measure, median, now, quantile

CEB = fixtures.MatrixParams(n_queries=3133)
DSB = fixtures.MatrixParams(n_queries=964)
#: matrix pairs (one CEB-shaped, one DSB-shaped) explored in a run: the
#: work of an exploration follows the matrix (how many cells censor, when
#: the TCNN refits), so a run explores several and reports their total
PAIRS = 5
#: exploration budget of each leg, in rounds: a budget in simulated
#: seconds buys a seed-dependent number of rounds, and the wall of a leg
#: follows the number of rounds
LIMEQO_ROUNDS = 3
LIMEQO_PLUS_ROUNDS = 4
SETUP_REPEATS = 3
#: pairs each step of a traced run explores: a traced run makes four
#: steps (``common.measure``), and spans of two pairs are enough
TRACED_PAIRS = 2
#: nominal wall of one exploration pass over the pairs
PASS_S = 11.0


def _limeqo(rounds: list[float] | None):
    """``LimeQOStrategy`` that, given a list, appends to it the CPU
    seconds of each round's decision (model fit plus cell selection)."""
    from limeqo_spark.strategies import LimeQOStrategy

    class TimedLimeQO(LimeQOStrategy):
        def fit(self) -> None:
            self._cpu0 = time.process_time()
            super().fit()

        def select(self):
            cells = super().select()
            if rounds is not None:
                rounds.append(time.process_time() - self._cpu0)
            return cells

    return TimedLimeQO


def _pair_seed(seed: int, p: int) -> int:
    return seed * PAIRS + p


def _workloads(seed: int):
    """The run's matrix pairs, each with the seed of its strategies."""
    from limeqo_spark.workload import Workload

    pairs = []
    for p in range(PAIRS):
        s = _pair_seed(seed, p)
        ceb = Workload(*fixtures.workload_matrix(CEB, 2 * s))
        dsb = Workload(*fixtures.workload_matrix(DSB, 2 * s + 1))
        pairs.append((s, ceb, dsb))
    return pairs


def _set_up(seed: int):
    """Make the matrices and run one censored-ALS round: the first round
    in a process runs slower (allocator and BLAS warm-up), and it belongs
    to set-up, not to exploration. No TCNN round: when its first fit stops
    early depends on the matrix, which would make set-up follow the seed."""
    from limeqo_spark.strategies import LimeQOStrategy

    pairs = _workloads(seed)
    s, ceb, _ = pairs[0]
    LimeQOStrategy(ceb, k=8, seed=s, max_rounds=1).run()
    return pairs


def _legs(s: int, ceb, dsb, strategy_cls):
    from limeqo_spark.strategies import LimeQOPlusStrategy

    return (
        ("limeqo", strategy_cls(ceb, k=8, seed=s, max_rounds=LIMEQO_ROUNDS)),
        ("limeqo_plus", LimeQOPlusStrategy(
            dsb, seed=s, model="tcnn", net_seed=s, max_rounds=LIMEQO_PLUS_ROUNDS)),
    )


def _check(name: str, strategy, records: list[dict], errors: list[str]) -> tuple[float, float]:
    """Output checks of one leg; returns its (final, default) totals."""
    wl, st = strategy.wl, strategy.state
    final = float(records[-1]["total_latency"])
    if not (wl.opt_time - 1e-6 <= final <= wl.default_time + 1e-6):
        errors.append(
            f"{name}: final total {final} outside [{wl.opt_time}, {wl.default_time}]"
        )
    if not (st.mask[:, 0] > 0).all():
        errors.append(f"{name}: column 0 lost its observations")
    return final, float(wl.default_time)


def run(seed: int, seconds: float, tracer=None, install=None) -> dict:
    setups, setup_walls = [], []
    for _ in range(SETUP_REPEATS):
        t, c = now(), time.process_time()
        pairs = _set_up(seed)
        setups.append(time.process_time() - c)
        setup_walls.append(now() - t)

    errors: list[str] = []
    #: per-round decision CPU (fit + select) of the censored-ALS explorer;
    #: the TCNN's rounds are left out, they differ in kind (a cold 800-epoch
    #: fit, then early-stopped refits) and a pooled percentile would sit
    #: on the seam between the two
    rounds: list[float] = []
    #: per pass, each leg's (final, default) totals in pair order
    finals: list[tuple] = []
    legs: list = []
    walls: dict[bool, list[float]] = {False: [], True: []}
    cpus: list[float] = []
    leg_walls: dict[str, list[float]] = {"limeqo": [], "limeqo_plus": []}

    def explore(traced: bool) -> None:
        t, c = now(), time.process_time()
        totals = []
        timed = _limeqo(None if traced else rounds)
        for s, ceb, dsb in pairs:
            for name, strategy in _legs(s, ceb, dsb, timed):
                t_leg = now()
                with tracer.span(f"strategies.run.{name}") if traced else nullcontext() as rec:
                    records = strategy.run()
                if traced:
                    legs.append((rec, strategy, records))
                else:
                    leg_walls[name].append(now() - t_leg)
                totals.append(_check(name, strategy, records, errors))
        finals.append(tuple(totals))
        walls[traced].append(now() - t)
        if not traced:
            cpus.append(time.process_time() - c)

    if tracer is not None:
        pairs = pairs[:TRACED_PAIRS]
    measure(iterations(seconds, PASS_S, 1), explore, tracer, install)

    # repeatability: the first leg explored again must end where it did
    s, ceb, dsb = pairs[0]
    name, strategy = _legs(s, ceb, dsb, _limeqo(None))[0]
    again = _check(name, strategy, strategy.run(), errors)
    if len(set(finals)) > 1 or again != finals[0][0]:
        errors.append(f"identical explorations ended at different totals: {finals}, {again}")

    wall_s = median(walls[False])
    ratio = {
        name: sum(f for f, _ in finals[0][i::2]) / sum(d for _, d in finals[0][i::2])
        for i, name in enumerate(("limeqo", "limeqo_plus"))
    }
    out = {
        "setup_s": median(setups),
        "cpu_s": median(cpus),
        "named": {
            "sim_explore_s": (wall_s, "s"),
            "sim_explore_cpu_s": (median(cpus), "s"),
            "round_cpu_p50_s": (median(rounds), "s"),
            "round_cpu_p90_s": (quantile(rounds, 0.9), "s"),
            "setup_wall_s": (median(setup_walls), "s"),
            "sim_limeqo_final_ratio": (ratio["limeqo"], "ratio"),
            "sim_limeqo_plus_final_ratio": (ratio["limeqo_plus"], "ratio"),
        },
        "detail": {"leg_s": leg_walls, "final_default_totals": finals[0]},
        "samples": {"passes": len(walls[False]), "rounds": len(rounds), "setups": len(setups)},
        "params": {
            "ceb": asdict(CEB), "dsb": asdict(DSB), "pairs": PAIRS,
            "matrix_seeds": [[2 * s, 2 * s + 1] for s, _, _ in pairs],
            "limeqo_rounds": LIMEQO_ROUNDS, "limeqo_k": 8,
            "limeqo_plus_rounds": LIMEQO_PLUS_ROUNDS, "limeqo_plus_k": 16,
        },
        "attempted": sum(len(f) for f in finals) + 1,
        "errors": errors,
    }
    if tracer is not None:
        out["trace_overhead_s"] = median(walls[True]) - wall_s
        out["layers"] = _layers(tracer, legs)
    return out


def _layers(tracer, spans) -> dict[str, float]:
    c = tracer.counters
    run_s = sum(rec[2] - rec[1] for rec, _, _ in spans)
    solver = sum(
        sum(tracer.durations(n, within=rec))
        for rec, _, _ in spans
        for n in ("complete.fit", "tcnn.fit", "tcnn.predict", "strategies.rank")
    )
    attempts = c["strategies.attempts"]
    return {
        "strategies.rounds": sum(len(records) for _, _, records in spans),
        "strategies.rank_s": sum(tracer.durations("strategies.rank")),
        "strategies.self_s": run_s - solver,
        "strategies.cells_explored": sum(s.state.cells_explored for _, s, _ in spans),
        "strategies.censored_ratio": c["strategies.censored"] / attempts if attempts else 0.0,
        "strategies.useful_ratio": c["strategies.useful"] / attempts if attempts else 0.0,
    }
