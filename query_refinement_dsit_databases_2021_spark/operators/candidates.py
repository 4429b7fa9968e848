"""Candidate generation: the distributed "UDF map".

The reference materializes a Python dict ``"x+lx" -> {constraint ->
value}`` by a double loop over both decision domains
(reference:src/server.py:291-351). Here that matrix is a DataFrame
``(x, lx, m_<constraint>, ...)`` built by one of two declarative
strategies (chosen by a cost rule, SURVEY §4 O11):

**W — per-lx window frames.** For each offset value ``lx`` compute
``agg(y) OVER (ORDER BY time_id RANGE BETWEEN ...)`` columns, then
unpivot (explode) to candidate rows. Work is O(N · Σ frame width);
optimal when the offset domain is small.

**S — prefix sums + sparse table (doubling RMQ).** One pass builds
inclusive prefix sums; ⌈log2 L⌉ passes build doubling-max levels
``M_j[t] = max(y[t .. t+2^j−1])``; each candidate measure is then two
O(1) lookups realized as equi-joins. Work is O(N log L + C); the scale
path for large offset domains.

Both strategies avoid a single-partition global sort: the segment is
range-partitioned into blocks of ``partition_rows`` and rows within
each block's *halo reach* are duplicated into the neighbouring block,
so window frames / lead() never cross a partition boundary while edge
clamping still happens only at the true segment edges (SURVEY §4 O14).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from query_refinement_dsit_databases_2021_spark.errors import QueryError
from query_refinement_dsit_databases_2021_spark.operators.measures import (
    REGISTRY,
    SparseCtx,
)
from query_refinement_dsit_databases_2021_spark.plans.spec import QuerySpec

# Auto strategy: W while the offset domain stays small (every committed
# reference query has <= 46 offsets), else S.
WINDOW_STRATEGY_MAX_OFFSETS = 64

# Sparse-path scratch pre-flight (r08 verdict item 5). Measured on the
# third-decade runs (BASELINE.md "Third decade"): the candidate shuffle
# stays in memory through ~34M candidates on local[32] and past that
# spills ~0.45 GB of scratch per million candidates at this operator
# shape; the 194M attempt died `No space left on device` mid-shuffle
# (46 GB of spill, 25 GB free). So when the candidate-count upper
# bound crosses the measured spill onset, compare the estimated spill
# against free scratch BEFORE dispatch and fail typed instead of
# mid-job. 536 B/candidate ≈ the BASELINE sizing rule's 0.5 GB/M
# (measured 0.45 + headroom).
SPARSE_SPILL_ONSET_CANDIDATES = 34_000_000
SPARSE_SCRATCH_BYTES_PER_CANDIDATE = 536
# Rows per range-partition block of the series segment. Halo overhead
# is O(reach/block); 64k keeps it <1% for reference-sized reaches while
# giving a 32-way local executor real parallelism. On a 1000-executor
# cluster raise via Engine(partition_rows=...) to ~2-16M so block count
# tracks executor count at 100 TB.
DEFAULT_PARTITION_ROWS = 1 << 16


def _dedup_constraints(spec: QuerySpec):
    """Unique (measure, args) pairs keyed by output column name."""
    seen: dict[str, tuple] = {}
    for con in spec.constraints:
        if con.name not in REGISTRY:
            raise QueryError(f"ERROR at constraint variable name: {con.name}")
        if con.column not in seen:
            seen[con.column] = (REGISTRY[con.name], con.args)
    return seen


def _free_scratch_bytes(spark) -> int:
    """Free bytes on the first configured Spark scratch dir (where
    shuffle spill lands). Returns -1 when unknowable — the pre-flight
    then skips rather than false-positives."""
    import shutil
    import tempfile

    try:
        local_dir = spark.conf.get("spark.local.dir", None)
    except Exception:
        local_dir = None
    path = (local_dir or tempfile.gettempdir()).split(",")[0]
    try:
        return shutil.disk_usage(path).free
    except OSError:
        return -1


def sparse_scratch_preflight(
    est_candidates: int, free_bytes: int
) -> int:
    """Pure decision core (unit-testable without a filesystem): given
    the candidate-count upper bound and the free scratch bytes, return
    the estimated spill bytes, raising :class:`ScratchSpaceError` when
    the job would plausibly die ENOSPC mid-shuffle. Below the measured
    spill onset the sparse shuffle stays in memory and the estimate is
    0; an unknown probe (free_bytes < 0) skips the check."""
    from query_refinement_dsit_databases_2021_spark.errors import (
        ScratchSpaceError,
    )

    if est_candidates <= SPARSE_SPILL_ONSET_CANDIDATES:
        return 0
    need = est_candidates * SPARSE_SCRATCH_BYTES_PER_CANDIDATE
    if 0 <= free_bytes < need:
        raise ScratchSpaceError(
            f"sparse-path pre-flight: ~{est_candidates:,} candidates "
            f"would spill ~{need / 1e9:.1f} GB of shuffle scratch but "
            f"only {free_bytes / 1e9:.1f} GB is free on the Spark "
            "local dir (measured rule: ~0.5 GB per million candidates "
            "past the 34M spill onset — BASELINE.md 'Third decade'). "
            "Free scratch space, point spark.local.dir at a larger "
            "volume, or shrink the decision domains."
        )
    return need


def pick_strategy(spec: QuerySpec) -> str:
    # a non-native measure (e.g. median_amp, PythonKernelMeasure)
    # forces the Arrow/pandas escape hatch; otherwise pick the native
    # strategy by offset-domain size
    for con in spec.constraints:
        mdef = REGISTRY.get(con.name)
        if mdef is not None and not mdef.native:
            return "pandas"
    l0, l1 = spec.lx_domain
    return "window" if (l1 - l0 + 1) <= WINDOW_STRATEGY_MAX_OFFSETS else "sparse"


def _require_native(measures: dict, strategy: str) -> None:
    for col_name, (mdef, _args) in measures.items():
        if not mdef.native:
            raise QueryError(
                f"ERROR: measure {mdef.name!r} has no native "
                f"{strategy}-strategy form; use strategy='pandas' (auto "
                "picks it when the measure appears in a query)"
            )


def build_candidates(
    segment: DataFrame,
    spec: QuerySpec,
    t_start: int,
    t_end: int,
    strategy: str = "auto",
    partition_rows: int | None = None,
) -> DataFrame:
    """segment: DataFrame[time_id long, y double], dense over
    [t_start, t_end] (already range-filtered to [x0, x1+l1] ∩ data).

    Returns DataFrame[x long, lx int, m_* double] with one row per
    in-data candidate: x ∈ [x0, x1] ∩ [t_start, ..], x+lx <= t_end.
    (Candidates whose window would leave the data are dropped; the
    reference crashes on them — documented divergence.)
    """
    l0, l1 = spec.lx_domain
    if l0 is None or l1 is None or not spec.resolved:
        raise QueryError("ERROR: domains must be resolved before planning")
    if l0 < 0:
        raise QueryError("ERROR: offset domain must be non-negative")
    if l1 < l0 or spec.x_domain[1] < spec.x_domain[0]:
        raise QueryError("ERROR: empty decision domain")

    if strategy == "auto":
        strategy = pick_strategy(spec)
    if strategy == "window":
        out = _build_window(segment, spec, t_start, t_end, partition_rows)
    elif strategy == "sparse":
        out = _build_sparse(segment, spec, t_start, t_end, partition_rows)
    elif strategy == "pandas":
        out = _build_pandas(segment, spec, t_start, t_end, partition_rows)
    else:
        raise QueryError(f"unknown strategy: {strategy}")
    # Stabilize measures to 9 dp: the physical strategies (and, on a
    # cluster, different partitionings of the SAME strategy) sum floats
    # in different orders, so a candidate whose true measure sits
    # exactly on a constraint bound would otherwise pass under one plan
    # and fail under another (last-bit noise around `between`). The
    # declarative contract is real arithmetic; 9 dp >> the ~1e-14
    # noise and makes pass/fail and ranking plan-invariant. The
    # generated DuckDB oracle applies the same rounding.
    meas = [c for c in out.columns if c not in ("x", "lx")]
    return out.select(
        "x", "lx", *[F.round(F.col(c), 9).alias(c) for c in meas]
    )


# ---------------------------------------------------------------------------
# halo partitioning
# ---------------------------------------------------------------------------

def _halo_partition(
    segment: DataFrame,
    t_start: int,
    t_end: int,
    block: int,
    reach_fwd: int,
    reach_bwd: int,
) -> tuple[DataFrame, "F.Column"]:
    """Assign each row a block id ``wpid`` and duplicate rows within
    the halo reach into the neighbouring block. Returns (exploded df,
    true-pid expression) — filter ``wpid == true_pid`` after windowing
    to drop halo evaluation rows."""
    n_blocks = (t_end - t_start) // block + 1
    pid = ((F.col("time_id") - F.lit(t_start)) / F.lit(block)).cast("long")
    off = (F.col("time_id") - F.lit(t_start)) % F.lit(block)

    targets = [pid]
    if reach_fwd > 0:
        # rows at the head of block p also serve block p-1's frames
        targets.append(F.when((off < F.lit(reach_fwd)) & (pid > 0), pid - 1))
    if reach_bwd > 0:
        targets.append(
            F.when(
                (off >= F.lit(block - reach_bwd)) & (pid < F.lit(n_blocks - 1)),
                pid + 1,
            )
        )
    pids = F.array_compact(F.array(*targets)) if len(targets) > 1 else F.array(*targets)
    out = segment.select(
        F.explode(pids).alias("wpid"), "time_id", "y"
    )
    return out, pid


def _block_size(partition_rows: int | None, reach_fwd: int, reach_bwd: int) -> int:
    block = partition_rows or DEFAULT_PARTITION_ROWS
    # halo must fit inside one neighbouring block
    return max(block, 2 * (reach_fwd + reach_bwd + 1))


# Superblock fan-in for strategy S's exclusive prefix over block totals:
# bounds the rows crossing the single-partition window stage to
# n_blocks / FAN (see _build_sparse).
SPARSE_OFFSET_FAN = 4096


# ---------------------------------------------------------------------------
# strategy W: per-lx window frames
# ---------------------------------------------------------------------------

def _build_window(
    segment: DataFrame,
    spec: QuerySpec,
    t_start: int,
    t_end: int,
    partition_rows: int | None,
) -> DataFrame:
    x0, x1 = spec.x_domain
    l0, l1 = spec.lx_domain
    measures = _dedup_constraints(spec)
    _require_native(measures, "window")

    reach_fwd, reach_bwd = 0, 0
    for mdef, args in measures.values():
        f, b = mdef.w_reach(l1, args)
        reach_fwd, reach_bwd = max(reach_fwd, f), max(reach_bwd, b)

    block = _block_size(partition_rows, reach_fwd, reach_bwd)
    seg2, true_pid = _halo_partition(
        segment, t_start, t_end, block, reach_fwd, reach_bwd
    )

    # The projection is SQL text (r09): a scale-domain query builds
    # dozens of frame columns and per-lx structs; assembling them
    # through the Column API measured ~4,000 py4j round trips (~1.8 s
    # of pure driver time per build at 36 offsets), while the text
    # parses JVM-side in two calls.
    # deduplicated base frame columns across measures and lx values
    frame_cols: dict[str, str] = {}
    for lx in range(l0, l1 + 1):
        for mdef, args in measures.values():
            for fr in mdef.w_frames(lx, args):
                if fr.name not in frame_cols:
                    frame_cols[fr.name] = fr.sql()

    computed = seg2.selectExpr(
        "wpid",
        "time_id",
        *[f"{sql} AS {n}" for n, sql in frame_cols.items()],
    )
    # drop halo evaluation rows; keep candidate starts only
    computed = computed.where(
        (F.col("wpid") == true_pid) & F.col("time_id").between(x0, x1)
    )

    struct_sqls = []
    for lx in range(l0, l1 + 1):
        fields = [f"CAST({lx} AS INT) AS lx"]
        for col_name, (mdef, args) in measures.items():
            fields.append(
                f"CAST({mdef.w_expr_sql(lx, args)} AS DOUBLE) AS {col_name}"
            )
        struct_sqls.append("struct(" + ", ".join(fields) + ")")
    exploded = F.explode(F.expr("array(" + ", ".join(struct_sqls) + ")"))

    out = computed.select(
        F.col("time_id").alias("x"), exploded.alias("c")
    ).select("x", "c.*")
    # complete-window guard: window must not leave the data
    return out.where(F.col("x") + F.col("lx") <= F.lit(t_end))


# ---------------------------------------------------------------------------
# strategy S: prefix sums + doubling max ("sparse table")
# ---------------------------------------------------------------------------

def _build_sparse(
    segment: DataFrame,
    spec: QuerySpec,
    t_start: int,
    t_end: int,
    partition_rows: int | None,
) -> DataFrame:
    spark = segment.sparkSession
    x0, x1 = spec.x_domain
    l0, l1 = spec.lx_domain
    measures = _dedup_constraints(spec)
    _require_native(measures, "sparse")

    # scratch pre-flight: candidate-count UPPER bound (per-lx end
    # clipping only removes rows) × the measured per-candidate spill
    # rule, vs free space where shuffle spill lands — fail typed now,
    # not ENOSPC after minutes of shuffle
    n_x = min(x1, t_end) - max(x0, t_start) + 1
    if n_x > 0:
        sparse_scratch_preflight(
            n_x * (l1 - l0 + 1), _free_scratch_bytes(spark)
        )

    # sparse-table depth: longest max/min interval any measure queries
    longest_max, longest_min = 1, 1
    for mdef, args in measures.values():
        longest_max = max(longest_max, mdef.s_max_interval(l1, args))
        longest_min = max(longest_min, mdef.s_min_interval(l1, args))
    jmax = int(math.floor(math.log2(longest_max))) if longest_max > 1 else 0
    jmin = int(math.floor(math.log2(longest_min))) if longest_min > 1 else 0
    need_min = any(
        mdef.s_min_interval(l1, args) > 0 for mdef, args in measures.values()
    )
    reach_fwd = max(
        (1 << jmax) - 1 if jmax > 0 else 0, (1 << jmin) - 1 if jmin > 0 else 0
    )

    block = _block_size(partition_rows, reach_fwd, 0)
    seg2, true_pid = _halo_partition(segment, t_start, t_end, block, reach_fwd, 0)
    w = Window.partitionBy("wpid").orderBy("time_id")

    # doubling-max levels: M_j[t] = max(y[t .. t+2^j-1]); doubling-min
    # Mn_j likewise, built only when a measure queries min intervals
    helper = seg2.withColumn("M_0", F.col("y"))
    for j in range(1, jmax + 1):
        step = 1 << (j - 1)
        prev = F.col(f"M_{j-1}")
        helper = helper.withColumn(
            f"M_{j}", F.greatest(prev, F.coalesce(F.lead(prev, step).over(w), prev))
        )
    if need_min:
        helper = helper.withColumn("Mn_0", F.col("y"))
        for j in range(1, jmin + 1):
            step = 1 << (j - 1)
            prev = F.col(f"Mn_{j-1}")
            helper = helper.withColumn(
                f"Mn_{j}", F.least(prev, F.coalesce(F.lead(prev, step).over(w), prev))
            )
    helper = helper.where(F.col("wpid") == true_pid)

    # distributed inclusive prefix sum: per-block cumsum + block offsets
    wc = Window.partitionBy("wpid").orderBy("time_id")
    helper = helper.withColumn(
        "S_local", F.sum("y").over(wc.rowsBetween(Window.unboundedPreceding, 0))
    )
    totals = helper.groupBy("wpid").agg(F.sum("y").alias("tot"))
    # Two-level exclusive prefix over block totals: a flat
    # Window.orderBy("wpid") funnels every block-total row through ONE
    # partition — fine to ~1e6 blocks, a straggler beyond. Fold blocks
    # into superblocks of SPARSE_OFFSET_FAN: the within-superblock scan
    # distributes on the superblock id, and only n_blocks/FAN rows
    # cross the remaining single-partition stage (cliff pushed to
    # ~FAN*1e6 blocks; the same fold applies recursively if a third
    # level is ever warranted).
    t1 = totals.withColumn(
        "sb", F.expr(f"CAST(wpid AS BIGINT) div {SPARSE_OFFSET_FAN}")
    )
    sb_tot = t1.groupBy("sb").agg(F.sum("tot").alias("sb_t"))
    w_sb = Window.orderBy("sb").rowsBetween(Window.unboundedPreceding, -1)
    sb_off = sb_tot.select(
        "sb", F.coalesce(F.sum("sb_t").over(w_sb), F.lit(0.0)).alias("sb_off")
    )
    w_in = (
        Window.partitionBy("sb")
        .orderBy("wpid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        t1.join(F.broadcast(sb_off), "sb")
        .select(
            "wpid",
            (
                F.coalesce(F.sum("tot").over(w_in), F.lit(0.0))
                + F.col("sb_off")
            ).alias("S_off"),
        )
    )
    arrays = [F.array(*[F.col(f"M_{j}") for j in range(jmax + 1)]).alias("M")]
    if need_min:
        arrays.append(
            F.array(*[F.col(f"Mn_{j}") for j in range(jmin + 1)]).alias("Mn")
        )
    helper = (
        helper.join(F.broadcast(offsets), "wpid")
        .select(
            "time_id",
            "y",
            (F.col("S_local") + F.col("S_off")).alias("S"),
            *arrays,
        )
    )
    helper = helper.persist()

    # candidate enumeration: x range × offset sequence (no crossJoin shuffle)
    cand = (
        spark.range(max(x0, t_start), x1 + 1)
        .select(
            F.col("id").alias("x"),
            F.explode(F.sequence(F.lit(l0), F.lit(l1))).alias("lx"),
        )
        .where(F.col("x") + F.col("lx") <= F.lit(t_end))
        .select("x", F.col("lx").cast("int").alias("lx"))
    )

    ctx = SparseCtx(
        x=F.col("x"), lx=F.col("lx").cast("long"), t_start=t_start, t_end=t_end
    )
    measure_exprs = {
        col_name: mdef.s_expr(ctx, args).cast("double")
        for col_name, (mdef, args) in measures.items()
    }

    # one equi-join per distinct lookup position
    out = cand
    for key, (pos, fields) in ctx.lookups.items():
        name = ctx._names[key]
        side = helper.select(
            F.col("time_id").alias(f"{name}_t"),
            *[F.col(f).alias(f"{name}_{f}") for f in sorted(fields)],
        )
        out = out.join(side, pos == F.col(f"{name}_t"), "inner").drop(f"{name}_t")

    out = out.select("x", "lx", *[e.alias(n) for n, e in measure_exprs.items()])
    return out


# ---------------------------------------------------------------------------
# strategy P: Arrow-batched Python kernels (the UDF escape hatch)
# ---------------------------------------------------------------------------

def _build_pandas(
    segment: DataFrame,
    spec: QuerySpec,
    t_start: int,
    t_end: int,
    partition_rows: int | None,
) -> DataFrame:
    """Evaluate measures through their ``py_kernel`` — the reference's
    own UDF contract ``f(series, x, lx, args) -> float``
    (reference:src/server.py:960-1016) — with ``applyInPandas`` over
    halo-complete blocks. This is the compatibility path for measures
    the native strategies can't express (median, user Python kernels);
    it distributes the reference's single-process UDF-map build
    (reference:src/server.py:291-351) across block partitions, at
    Python-kernel cost per candidate. Prefer W/S when expressible.

    Scale shape: one Arrow exchange of the (haloed) segment, then
    embarrassingly parallel per-block NumPy; no driver collect, state
    per task = one block + halo."""
    import pandas as pd

    x0, x1 = spec.x_domain
    l0, l1 = spec.lx_domain
    measures = _dedup_constraints(spec)
    meas_items = list(measures.items())  # [(col_name, (mdef, args))]

    reach_fwd, reach_bwd = 0, 0
    for mdef, args in measures.values():
        f, b = mdef.w_reach(l1, args)
        reach_fwd, reach_bwd = max(reach_fwd, f), max(reach_bwd, b)

    block = _block_size(partition_rows, reach_fwd, reach_bwd)
    seg2, _true_pid = _halo_partition(
        segment, t_start, t_end, block, reach_fwd, reach_bwd
    )

    schema = "x long, lx int, " + ", ".join(
        f"{name} double" for name in measures
    )
    out_cols = ["x", "lx", *measures.keys()]

    def compute(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("time_id")
        y = pdf["y"].to_numpy()
        t0b = int(pdf["time_id"].iloc[0])
        wpid = int(pdf["wpid"].iloc[0])
        # true block bounds (halo rows only feed neighbouring windows)
        blk_lo = t_start + wpid * block
        blk_hi = min(blk_lo + block - 1, t_end)
        rows = []
        for x in range(max(blk_lo, x0), min(blk_hi, x1) + 1):
            i = x - t0b
            left_gap = x - t_start
            for lx in range(l0, l1 + 1):
                if x + lx > t_end:  # complete-window guard (as W/S)
                    break
                right_gap = t_end - (x + lx)
                rows.append(
                    (x, lx)
                    + tuple(
                        mdef.py_kernel(y, i, lx, args, left_gap, right_gap)
                        for _n, (mdef, args) in meas_items
                    )
                )
        return pd.DataFrame(rows, columns=out_cols)

    return seg2.groupBy("wpid").applyInPandas(compute, schema)
