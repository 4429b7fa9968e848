"""Seeded CP query streams and their exact oracle.

The program under test only ever sees query *texts*. This module makes
them: for a workload name and a seed it returns the same list of
:class:`CPQuery` every time, each carrying the rows the engine must
return.

The oracle is a NumPy transliteration of ``workloads.cp_oracle`` (the
DuckDB SQL oracle of the registry's CP workloads): same candidate set,
same 9-decimal measure stabilisation, same pass rule, same RK / RP
formulas evaluated in the same order, same ``(x, lx)`` tie-break and the
same ``RP <= 1`` admission. It exists because ``cp_oracle`` takes
90-140 s in DuckDB on one 2M-candidate query; ``perfbench/tests`` pins
the two against each other on small queries. ``events.value`` has two
decimals, so every measure is computed in exact integer cents and
rounded to 9 decimals exactly.

One difference: scores are ranked rounded to 9 decimals, the precision
``Engine`` documents and uses (``plans/executor.py``), where
``cp_oracle`` ranks on 6. Two candidates whose scores differ by less
than 1e-6 tie under ``cp_oracle`` and fall to the ``(x, lx)`` tie-break,
while the engine (and the raw-score order) keeps them apart, so the two
can pick different rows at the cut. ``perfbench/tests`` pins such a
case.
"""

from __future__ import annotations

import math
import random
from collections import Counter
from dataclasses import dataclass, field

import numpy as np

WINDOW_MAX_OFFSETS = 64  # operators.candidates.WINDOW_STRATEGY_MAX_OFFSETS

_FN = {
    "avg": "avg_amp()",
    "median": "median_amp()",
    "left": "max_amp_excess_left({w})",
    "right": "max_amp_excess_right({w})",
}


@dataclass(frozen=True)
class Con:
    kind: str  # 'avg' | 'median' | 'left' | 'right'
    w: int | None
    lo: float
    hi: float
    target: str  # 'MAX' | 'MIN'
    lo_text: str = field(compare=False)
    hi_text: str = field(compare=False)

    def term(self) -> str:
        fn = _FN[self.kind].format(w=self.w)
        return f"{fn} in [{self.lo_text}, {self.hi_text}] {self.target}"


@dataclass(frozen=True)
class CPQuery:
    x0: int
    x1: int
    l0: int
    l1: int
    cons: tuple[Con, ...]
    k: int | None
    refined: bool
    action: str  # the ExecutionInfo.action the engine must take
    n_passing: int
    expected: tuple[tuple[int, int], ...]  # sorted (time_id, offset)

    @property
    def text(self) -> str:
        lines = [
            f"SELECT time_id, offset IN_DOMAIN [{self.x0}, {self.x1}], [{self.l0}, {self.l1}]",
            "FROM events_series.y",
            "WHERE " + " and ".join(c.term() for c in self.cons),
        ]
        if self.k is not None:
            lines.append(f"LIMIT {'REFINED ' if self.refined else ''}{self.k}")
        return "\n".join(lines)

    @property
    def inputs(self) -> tuple:
        """What determines the candidate frame: domains and measure set
        (bounds, targets and k do not)."""
        return (
            self.x0, self.x1, self.l0, self.l1,
            tuple(sorted((c.kind, c.w or 0) for c in self.cons)),
        )

    @property
    def n_candidates(self) -> int:
        return (self.x1 - self.x0 + 1) * (self.l1 - self.l0 + 1)

    @property
    def strategy(self) -> str:
        """The strategy ``operators.candidates.pick_strategy`` chooses."""
        if any(c.kind == "median" for c in self.cons):
            return "pandas"
        return "window" if self.l1 - self.l0 + 1 <= WINDOW_MAX_OFFSETS else "sparse"

    def check(self, rows) -> bool:
        """True when ``rows`` (an iterable of (time_id, offset)) is a
        correct answer. Unrefined ``LIMIT k`` may return any
        min(k, n) passing rows; every other form has one answer."""
        got = sorted((int(r[0]), int(r[1])) for r in rows)
        if self.action == "limit":
            distinct = set(got)
            return (
                len(distinct) == len(got) == min(self.k, self.n_passing)
                and distinct <= set(self.expected)
            )
        return got == list(self.expected)


# ---------------------------------------------------------------------------
# measures in exact integer arithmetic
# ---------------------------------------------------------------------------


class Series:
    """The CP series ``time_id -> y`` (``time_id = event_id + 1``) held
    as integer cents, with a prefix sum and a sparse max table."""

    def __init__(self, cents: np.ndarray):
        self.cents = np.asarray(cents, dtype=np.int64)
        self.n = len(self.cents)
        self.prefix = np.concatenate(([0], np.cumsum(self.cents)))
        levels = [self.cents]
        while (1 << len(levels)) <= self.n:
            prev, h = levels[-1], 1 << (len(levels) - 1)
            levels.append(np.maximum(prev[:-h], prev[h:]))
        self._max = levels

    def range_max(self, a: np.ndarray, b: np.ndarray) -> np.ndarray:
        """Max cents over time_id ranges [a, b] (inclusive, 1-based)."""
        a = a - 1
        length = b - a
        j = np.floor(np.log2(length)).astype(np.int64)
        out = np.empty(len(a), dtype=np.int64)
        for lv in np.unique(j):
            m = j == lv
            tab = self._max[lv]
            out[m] = np.maximum(tab[a[m]], tab[b[m] - (1 << lv)])
        return out

    def measure(self, kind: str, w: int | None, x, lx, t0: int, t1: int) -> np.ndarray:
        """9-decimal measure values for candidates (x, lx), exactly as
        the engine stabilises them; ``[t0, t1]`` is the segment."""
        end = x + lx
        if kind == "avg":
            s = self.prefix[end] - self.prefix[x - 1]
            n = lx + 1
            # round-half-up of s / (100 n) at 9 decimals, in integers
            q = (2 * s * 10**7 + n) // (2 * n)
            return q / 1e9
        if kind == "median":
            out = np.empty(len(x))
            for lv in np.unique(lx):
                m = lx == lv
                idx = x[m][:, None] - 1 + np.arange(lv + 1)[None, :]
                win = np.sort(self.cents[idx], axis=1)
                lo, hi = win[:, lv // 2], win[:, (lv + 1) // 2]
                out[m] = (lo + hi) / 200.0
            return out
        win_max = self.range_max(x, end)
        if kind == "right":
            nbr = self.range_max(end, end + np.minimum(w, t1 - end))
        elif kind == "left":
            nbr = self.range_max(x - np.minimum(w, x - t0), x)
        else:
            raise ValueError(kind)
        return (win_max - nbr) / 100.0


RANK_DECIMALS = 9  # Engine._dispatch orders on F.round(score, 9)


def _round_sql(v: np.ndarray, digits: int) -> np.ndarray:
    """SQL ``round(double, d)``: scale, round half away from zero."""
    p = 10.0**digits
    return np.sign(v) * np.floor(np.abs(v * p) + 0.5) / p


def _grid(x0, x1, l0, l1):
    x = np.repeat(np.arange(x0, x1 + 1, dtype=np.int64), l1 - l0 + 1)
    lx = np.tile(np.arange(l0, l1 + 1, dtype=np.int64), x1 - x0 + 1)
    return x, lx


def _measures(series: Series, x0, x1, l0, l1, cons):
    t0, t1 = max(x0, 1), min(x1 + l1, series.n)
    x, lx = _grid(x0, x1, l0, l1)
    keep = (x >= t0) & (x + lx <= t1)
    x, lx = x[keep], lx[keep]
    return x, lx, [series.measure(c.kind, c.w, x, lx, t0, t1) for c in cons]


def _passes(vals, cons) -> np.ndarray:
    ok = np.ones(len(vals[0]), dtype=bool)
    for v, c in zip(vals, cons):
        ok &= (v >= c.lo) & (v <= c.hi)
    return ok


def answer(series: Series, x0, x1, l0, l1, cons, k, refined, measured=None):
    """(action, n_passing, sorted rows) per the ``cp_oracle`` semantics;
    for unrefined ``LIMIT k`` the rows are the whole passing set.
    ``measured`` is a precomputed ``(x, lx, values)`` for ``cons``."""
    x, lx, vals = measured or _measures(series, x0, x1, l0, l1, cons)
    ok = _passes(vals, cons)
    n = int(ok.sum())

    def rows(mask_or_idx):
        return tuple(sorted(zip(x[mask_or_idx].tolist(), lx[mask_or_idx].tolist())))

    if not refined:
        return ("all" if k is None else "limit"), n, rows(ok)
    if n == k:
        return "exact", n, rows(ok)
    w_c = 1.0 / len(cons)
    if n > k:
        total = None
        for v, c in zip(vals, cons):
            a, b = float(c.lo), float(c.hi)
            num = (b - v) if c.target == "MAX" else (a - v)
            term = w_c * (num / (b - a))
            total = term if total is None else total + term
        rk = _round_sql(1.0 - total, RANK_DECIMALS)
        idx = np.flatnonzero(ok)
        order = np.lexsort((lx[idx], x[idx], -rk[idx]))[:k]
        return "tighten", n, rows(idx[order])
    rds, viol = [], np.zeros(len(x))
    for v, c in zip(vals, cons):
        mn, mx = v.min(), v.max()
        rd = np.zeros(len(x))
        above, below = v > c.hi, v < c.lo
        rd[above] = (v[above] - c.hi) / (mx - c.hi)
        rd[below] = (c.lo - v[below]) / (c.lo - mn)
        rds.append(rd)
        viol += ~((v >= c.lo) & (v <= c.hi))
    rd = rds[0] if len(rds) == 1 else np.maximum.reduce(rds)
    rp = 0.5 * rd + 0.5 * (viol / float(len(cons)))
    idx = np.flatnonzero(~ok & (rp <= 1.0))
    order = np.lexsort((lx[idx], x[idx], _round_sql(rp[idx], RANK_DECIMALS)))[: k - n]
    chosen = np.concatenate((np.flatnonzero(ok), idx[order]))
    return "relax", n, rows(chosen)


# ---------------------------------------------------------------------------
# query streams
# ---------------------------------------------------------------------------


def _make_con(kind, w, vals, qa, qb, target) -> Con:
    lo_v, hi_v = np.quantile(vals, [qa, qb], method="inverted_cdf")
    lo_t = f"{math.floor(float(lo_v) * 1e4) / 1e4:.4f}000005"
    hi_t = f"{math.floor(float(hi_v) * 1e4) / 1e4:.4f}000005"
    lo, hi = float(lo_t), float(hi_t)
    if hi <= lo:
        hi_t = f"{math.floor(float(hi_v) * 1e4) / 1e4 + 0.0001:.4f}000005"
        hi = float(hi_t)
    return Con(kind, w, lo, hi, target, lo_t, hi_t)


def _query(series, rng, x0, x1, l0, l1, kinds, action) -> CPQuery:
    """One query over the given inputs whose oracle action is ``action``."""
    x, lx, vals = _measures(series, x0, x1, l0, l1, [Con(k, w, 0, 0, "MAX", "", "") for k, w in kinds])
    c = len(kinds)
    if action == "relax":
        # narrow bands: few rows pass, the rest comes from relaxation
        width = (rng.uniform(5, 150) / len(x)) ** (1.0 / c)
    else:
        width = rng.uniform(0.25, 0.35) ** (1.0 / c)
    for _ in range(50):
        cons = []
        for (kind, w), v in zip(kinds, vals):
            qa = rng.uniform(0.0, 1.0 - width)
            cons.append(_make_con(kind, w, v, qa, qa + width, rng.choice(("MAX", "MIN"))))
        cons = tuple(cons)
        n = int(_passes(vals, cons).sum())
        if action == "all" and n >= 1:
            k, refined = None, False
        elif action == "limit" and n >= 1:
            k, refined = rng.randint(5, 50), False
        elif action == "tighten" and n > 50:
            k, refined = rng.randint(5, 50), True
        elif action == "exact" and n >= 1:
            k, refined = n, True
        elif action == "relax" and n < 200:
            k, refined = n + rng.randint(5, 30), True
        else:
            if action == "relax":
                width *= 0.5
            continue
        got, n_pass, rows = answer(
            series, x0, x1, l0, l1, cons, k, refined, (x, lx, vals)
        )
        if got != action or n_pass != n:
            raise RuntimeError(f"oracle took {got} for a {action} query")
        return CPQuery(x0, x1, l0, l1, cons, k, refined, action, n, rows)
    raise RuntimeError(f"no {action} query found for {(x0, x1, l0, l1, kinds)}")


# refine_interactive: drill-down chains. Each chain fixes the inputs and
# walks every action once, tightening twice. (With one tighten, 40% of
# the queries are the fast exact/limit kind and the median falls into
# the gap between the fast and slow clusters, where it is unstable.)
# Chain shapes cycle through a fixed schedule (the seed picks positions,
# widths and bounds), so every run of the same length carries the same
# candidate volume and strategy mix.
CHAIN_ACTIONS = ("all", "tighten", "tighten", "relax", "exact", "limit")
# (start positions, offsets, measures); window widths w are seeded.
# The 80-offset shape takes the sparse strategy (more than
# WINDOW_MAX_OFFSETS offsets); the median shape takes the pandas path.
CHAIN_SCHEDULE = (
    (1000, 16, ("avg", "left", "right")),
    (200, 8, ("median", "avg")),
    (150, 80, ("right",)),
)


def _kinds(rng, kinds) -> list[tuple[str, int | None]]:
    return [(k, rng.randint(2, 8) if k in ("left", "right") else None) for k in kinds]


def interactive_stream(series: Series, seed: int, n_chains: int) -> list[CPQuery]:
    rng = random.Random(f"refine_interactive:{seed}")
    out: list[CPQuery] = []
    for ch in range(n_chains):
        nx, nl, kinds = CHAIN_SCHEDULE[ch % len(CHAIN_SCHEDULE)]
        l0 = rng.randint(2, 30)
        l1 = l0 + nl - 1
        x0 = rng.randint(1, series.n - nx - l1)
        kinds = _kinds(rng, kinds)
        for action in CHAIN_ACTIONS:
            out.append(_query(series, rng, x0, x0 + nx - 1, l0, l1, kinds, action))
    return out


# Warm-up before timing: one refined query per shape whose strategy the
# set-up's window query does not warm, on inputs of its own, so the
# pandas path's Python worker start and each strategy's first code
# generation fall outside the timed stream. (A longer warm-up, a whole
# window chain besides, lowered the JIT share of the timed CPU but not
# its run-to-run spread.)
def warm_stream(series: Series, seed: int) -> list[CPQuery]:
    rng = random.Random(f"refine_interactive:warm:{seed}")
    out: list[CPQuery] = []
    for nx, nl, kinds in CHAIN_SCHEDULE:
        if "median" not in kinds and nl <= WINDOW_MAX_OFFSETS:
            continue
        l0 = rng.randint(2, 30)
        l1 = l0 + nl - 1
        x0 = rng.randint(1, series.n - nx - l1)
        out.append(_query(series, rng, x0, x0 + nx - 1, l0, l1, _kinds(rng, kinds), "tighten"))
    return out


def stream_profile(queries: list[CPQuery]) -> dict:
    """Action and strategy shares, and the share of queries whose
    candidate inputs repeat the previous query's."""
    n = len(queries)
    acts = Counter(q.action for q in queries)
    strats = Counter(q.strategy for q in queries)
    repeats = sum(1 for a, b in zip(queries, queries[1:]) if a.inputs == b.inputs)
    return {
        "queries": n,
        "action_share": {a: round(acts[a] / n, 4) for a in sorted(acts)},
        "strategy_share": {s: round(strats[s] / n, 4) for s in sorted(strats)},
        "repeat_inputs_share": round(repeats / n, 4),
        "candidates": sum(q.n_candidates for q in queries),
    }
