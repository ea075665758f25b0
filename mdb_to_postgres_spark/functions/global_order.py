"""Clustered global-order primitives — global ROW_NUMBER / running sum /
NTILE without a single-partition window AND without a double scan.

`Window.orderBy(...)` with no partitionBy collapses the whole input into
ONE task: correct, and fine on aggregate-sized input (a vocabulary, B
bootstrap replicates), but a non-starter on corpus-sized input at 100 TB.

The round-7 substrate decomposed the problem with `repartitionByRange` +
`spark_partition_id()`, but that shape had three measured defects
(ADVICE r7): the local-window branch and the per-partition-totals branch
were two independent lineages (double scan — 9 Exchanges, 0
ReusedExchange in x_eval_auc), the sampled range boundaries could legally
differ between those lineages under task retry / speculative execution
(silent mis-ranking hazard), and `Window.partitionBy(pid)` forced a
SECOND full-data hash exchange because RangePartitioning does not satisfy
a hash-clustered requirement.

This version replaces the sampled range exchange with a DETERMINISTIC
bucket id computed from collected quantile boundaries, which fixes all
three at once:

  pass 1 (build time): approx quantiles of the leading order column →
          num_buckets-1 boundary literals. Column-pruned scan, tiny
          driver result, Greenwald-Khanna single pass — scales.
  pass 2 (build time): exact per-bucket SUM(value) via groupBy on the
          bucket expression (map-side partial agg; shuffles only
          ~num_buckets rows per input partition). Collected — at most
          num_buckets rows — and turned into a cumulative-offset ARRAY
          LITERAL plus a grand-total literal. This mirrors the repo's
          O(1)-row driver probes (JDBC bounds, components fixpoint).
  final plan: ONE scan → bucket projection → ONE hash exchange on the
          bucket id (which SATISFIES Window.partitionBy(bucket), so no
          second exchange) → local sort + window running sum →
          global value = element_at(offsets, bucket + 1) + local sum.

The bucket id is a pure function of the row and frozen literals — no
`spark_partition_id()`, no sampling inside the final plan — so retries,
speculation, and AQE re-planning cannot disagree about placement. Rows
with equal leading keys always share a bucket (indicator comparisons are
strict), so any tie-breaking suffix of the order stays bucket-local and
the cumsum is exact for every total order.

CONTRACT: `order_by` is a list of (column_name, "asc"|"desc") pairs and
must describe a TOTAL order for rank semantics (callers append a unique
id tiebreak, or group to distinct keys first — see x_eval_auc). The
LEADING order column must be a numeric (or numeric-castable) physical
column, non-NaN; NULLs follow Spark's default placement (asc → first,
desc → last). Boundary skew mirrors range partitioning: a single hot key
value lands in one bucket either way.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_B = "__go_bucket"

# Bucket count for the clustered exchange. More buckets than shuffle
# partitions (32 in the local harness) keeps hash placement smooth; on a
# real cluster raise this with parallelism — the per-call cost is one
# num_buckets-long literal array (constant-folded once) and one
# higher-order filter whose codegen size is CONSTANT in num_buckets.
_DEFAULT_BUCKETS = 64

# Session-scoped memo for the two build-time actions (quantile boundaries;
# per-bucket totals). Without it every invocation of a substrate-backed
# query re-runs both jobs even when the plan is identical — the whole
# round-8 sf0.1 regression. Keyed by (applicationId, df.semanticHash(),
# call signature); a hit is confirmed EXACTLY with df.sameSemantics()
# against the stored frame (semanticHash alone could collide), so a hit
# can never serve artifacts for a different input. Stale-session keys are
# evicted like the substrate store's (cache_registry).
_BUILD_CACHE: dict = {}
_BUILD_MISSES = 0  # test hook: asserts warm calls skip the build jobs
# LRU bound: each entry pins its input DataFrame (and through it the JVM
# plan + any localCheckpoint blocks) for the session, so an unbounded memo
# in a long-lived session sweeping many distinct (input, spec) pairs grows
# driver memory without limit (round-9 ADVICE). 64 covers every substrate
# the registry reaches several times over; an eviction costs one rebuild.
_BUILD_CACHE_MAX = 64


def _expr_str(c: Column) -> str:
    """Stable textual form of an (unresolved) Column for cache keys. Two
    different expressions never stringify identically, so key equality is
    sound; at worst an exotic repr causes a cache MISS, never a wrong hit."""
    try:
        return c._jc.toString()
    except Exception:  # pragma: no cover - Connect or repr changes
        return str(c)


def _build_memo(df: DataFrame, tag: tuple, build):
    """Memoize `build()` (the two driver-side build actions) per session
    and per (input plan, call signature). Assumes the plan's SOURCES are
    immutable within a session (true for the parquet corpus and every
    substrate; the same assumption the T() catalog cache makes) — a
    caller that overwrites an input path mid-session must construct a
    semantically different plan (e.g. a fresh localCheckpoint) to miss."""
    global _BUILD_MISSES
    app = df.sparkSession.sparkContext.applicationId
    for k in [k for k in _BUILD_CACHE if k[0] != app]:
        del _BUILD_CACHE[k]
    key = (app, df.semanticHash(), tag)
    hit = _BUILD_CACHE.pop(key, None)  # pop + re-insert = LRU move-to-end
    if hit is not None and df.sameSemantics(hit[0]):
        _BUILD_CACHE[key] = hit
        return hit[1]
    _BUILD_MISSES += 1
    artifact = build()
    _BUILD_CACHE[key] = (df, artifact)
    while len(_BUILD_CACHE) > _BUILD_CACHE_MAX:
        del _BUILD_CACHE[next(iter(_BUILD_CACHE))]
    return artifact


def _bucket_expr(
    key: Column, descending: bool, bounds: list, codegen: bool = False
) -> Column:
    """Deterministic bucket id: the count of quantile boundaries strictly
    below (asc) / above (desc) the key — monotone in the sort order, and
    equal keys always collide into one bucket.

    Computed as size(filter(<bounds literal array>, b -> b < key)): the
    array literal constant-folds once and the lambda is ONE expression
    regardless of num_buckets. Two measured reasons this beats the
    num_buckets-term when()-chain, not one: (a) the chain hit a Janino
    codegen cliff once inlined into wide plans (2.9 s -> 42 s on
    win_rfm_segmentation at 3 x 64 terms, round 8), and (b) even a SAFE
    chain pays per-call whole-stage-codegen compilation on every fresh
    plan — a same-session A/B at sf0.1 measured the chain form 2x slower
    warm on the cache-hit substrate queries (rfm 3.3 s vs 1.5 s, pareto
    2.4 vs 1.4, ks 1.7 vs 0.8) because compile latency repeats per call
    while the HOF's interpreted eval is tiny next to it. The HOF's
    per-row O(B) interpreted cost only shows when a BUILD job evaluates
    the bucket over a full fact table — which the session memo runs once
    per (input, spec), not per call."""
    if not bounds:
        return F.lit(0)
    # Compare through a double cast — monotone nondecreasing for every
    # numeric type (incl. decimal), so bucket placement stays consistent
    # with the sort order; cast collisions only merge buckets, never split
    # equal keys.
    k = key.cast("double")
    null_bucket = len(bounds) if descending else 0  # asc: NULLS FIRST; desc: LAST
    if codegen:
        # Round 12 (guide §1.2): flat indicator SUM — whole-stage-codegen
        # compiles it, so the per-row cost drops from O(B) interpreted
        # lambda evals to B fused compares. Same value as the HOF count
        # (count of boundaries strictly below/above the key). Opt-IN per
        # call site: measured 1.57 -> 1.08 s on sort_zorder_cluster
        # (bucket over the 600k-row fact substrate every call) but 0.51
        # -> 1.45 s on win_rfm_segmentation (3 x 64 terms inlined into a
        # wide plan — the round-8 Janino cliff), so the default stays
        # interpreted and thin-plan/large-substrate consumers opt in.
        terms = [
            ((F.lit(float(b)) > k) if descending else (F.lit(float(b)) < k)).cast(
                "int"
            )
            for b in bounds
        ]
        cnt = terms[0]
        for t in terms[1:]:
            cnt = cnt + t
    else:
        arr = F.array(*[F.lit(float(b)) for b in bounds])
        cnt = F.size(
            F.filter(arr, (lambda b: b > k) if descending else (lambda b: b < k))
        )
    return F.when(k.isNull(), F.lit(null_bucket)).otherwise(cnt)


def _sort_cols(order_by: list[tuple[str, str]]) -> list[Column]:
    return [F.asc(c) if d == "asc" else F.desc(c) for c, d in order_by]


def _normalize(nums: list):
    """Give F.array one coercible literal family (int/float/Decimal)."""
    if any(isinstance(v, float) for v in nums):
        return [float(v) for v in nums]
    if any(isinstance(v, Decimal) for v in nums):
        return [Decimal(v) for v in nums]
    return nums


def global_cumsum_multi(
    df: DataFrame,
    order_by: list[tuple[str, str]],
    values: list[tuple[Column, str]],
    *,
    inclusive: bool = False,
    total_col: str | None = None,
    num_buckets: int = _DEFAULT_BUCKETS,
    rel_err: float = 0.001,
    bucket_key: Column | None = None,
    codegen_bucket: bool = False,
) -> DataFrame:
    """Append one global running sum column per (value, out) pair over the
    SHARED total order `order_by` (exclusive of the current row by
    default) — all sums ride ONE bucket exchange and ONE WindowExec.
    `total_col` (if set) names a grand-total column for the FIRST value.

    `bucket_key` overrides the bucketing expression for orders whose
    LEADING column is too low-cardinality to spread buckets (e.g. a
    3-value op class): pass any numeric expression that is
    ASCENDING-monotone in the total order (a composite like
    class * 2^42 + id). Bucketing never changes results — only balance —
    because equal bucket keys always share a bucket and the window still
    sorts by the full order inside it.

    Final plan shape (asserted in tests/test_global_order.py): one scan,
    ONE hash Exchange on the deterministic bucket id, one WindowExec —
    no range exchange, no SinglePartition exchange, no join. Two
    column-pruned auxiliary actions run at build time (quantile
    boundaries; exact per-bucket totals, ≤ num_buckets rows collected).
    """
    if bucket_key is None:
        key, direction = order_by[0]
        bkey, descending = F.col(key), direction == "desc"
    else:
        bkey, descending = bucket_key, False

    def _build():
        probs = [i / num_buckets for i in range(1, num_buckets)]
        bounds = df.select(bkey.cast("double").alias("__go_key")).stat.approxQuantile(
            "__go_key", probs, rel_err
        )
        b_expr = _bucket_expr(bkey, descending, bounds)
        sums = [F.sum(v).alias(f"s{i}") for i, (v, _) in enumerate(values)]
        rows = {
            r["b"]: tuple(r[f"s{i}"] for i in range(len(values)))
            for r in df.groupBy(b_expr.alias("b")).agg(*sums).collect()
        }
        return bounds, rows

    tag = (
        "cumsum",
        _expr_str(bkey),
        descending,
        tuple(order_by),
        num_buckets,
        rel_err,
        tuple(_expr_str(v) for v, _ in values),
    )
    bounds, rows = _build_memo(df, tag, _build)
    bucket = _bucket_expr(bkey, descending, bounds, codegen=codegen_bucket)
    upper = 0 if inclusive else -1
    w = (
        Window.partitionBy(_B)
        .orderBy(*_sort_cols(order_by))
        .rowsBetween(Window.unboundedPreceding, upper)
    )
    res = df.withColumn(_B, bucket)
    for i, (value, out) in enumerate(values):
        offs, run = [], 0
        for b in range(num_buckets):
            offs.append(run)
            r = rows.get(b)
            if r is not None and r[i] is not None:
                run = run + r[i]
        norm = _normalize(offs + [run])
        offs, grand = norm[:-1], norm[-1]
        off_at = F.element_at(F.array(*[F.lit(o) for o in offs]), F.col(_B) + 1)
        res = res.withColumn(
            out, F.coalesce(F.sum(value).over(w), F.lit(0)) + off_at
        )
        if i == 0 and total_col is not None:
            res = res.withColumn(total_col, F.lit(grand))
    return res.drop(_B)


def global_cumsum(
    df: DataFrame,
    order_by: list[tuple[str, str]],
    value: Column,
    out: str,
    *,
    inclusive: bool = False,
    total_col: str | None = None,
    num_buckets: int = _DEFAULT_BUCKETS,
    rel_err: float = 0.001,
    bucket_key: Column | None = None,
    codegen_bucket: bool = False,
) -> DataFrame:
    """Single-value form of `global_cumsum_multi` (see its docstring for
    the plan contract and the `bucket_key` escape hatch)."""
    return global_cumsum_multi(
        df,
        order_by,
        [(value, out)],
        inclusive=inclusive,
        total_col=total_col,
        num_buckets=num_buckets,
        rel_err=rel_err,
        bucket_key=bucket_key,
        codegen_bucket=codegen_bucket,
    )


def global_running_max(
    df: DataFrame,
    order_by: list[tuple[str, str]],
    value: Column,
    out: str,
    *,
    inclusive: bool = False,
    num_buckets: int = _DEFAULT_BUCKETS,
    rel_err: float = 0.001,
    bucket_key: Column | None = None,
) -> DataFrame:
    """Append `out` = global running MAX of `value` over the total order
    `order_by` (exclusive of the current row by default — the watermark
    shape). Same single-exchange clustered plan as `global_cumsum_multi`:
    per-bucket maxes collect as a literal array of prefix maxes (NULL for
    'no prior bucket', exactly the empty-frame window semantics), and the
    global value is greatest(local running max, prior-bucket max)."""
    if bucket_key is None:
        key, direction = order_by[0]
        bkey, descending = F.col(key), direction == "desc"
    else:
        bkey, descending = bucket_key, False

    def _build():
        probs = [i / num_buckets for i in range(1, num_buckets)]
        bounds = df.select(bkey.cast("double").alias("__go_key")).stat.approxQuantile(
            "__go_key", probs, rel_err
        )
        b_expr = _bucket_expr(bkey, descending, bounds)
        maxes = {
            r["b"]: r["m"]
            for r in df.groupBy(b_expr.alias("b")).agg(F.max(value).alias("m")).collect()
            if r["m"] is not None
        }
        return bounds, maxes

    tag = (
        "runmax",
        _expr_str(bkey),
        descending,
        tuple(order_by),
        num_buckets,
        rel_err,
        _expr_str(value),
    )
    bounds, maxes = _build_memo(df, tag, _build)
    bucket = _bucket_expr(bkey, descending, bounds)
    offs, run = [], None
    for b in range(num_buckets):
        offs.append(run)
        m = maxes.get(b)
        if m is not None:
            run = m if run is None else max(run, m)
    non_null = _normalize([o for o in offs if o is not None])
    it = iter(non_null)
    typed = [next(it) if o is not None else None for o in offs]
    # NullType literals coerce to the array's common type; an all-None
    # array (every frame empty) stays array<null> and element_at yields
    # NULL, which greatest() ignores — the empty-frame window semantics.
    arr = F.array(*[F.lit(o) for o in typed])
    upper = 0 if inclusive else -1
    w = (
        Window.partitionBy(_B)
        .orderBy(*_sort_cols(order_by))
        .rowsBetween(Window.unboundedPreceding, upper)
    )
    off_at = F.element_at(arr, F.col(_B) + 1)
    res = df.withColumn(_B, bucket).withColumn(
        out, F.greatest(F.max(value).over(w), off_at)
    )
    return res.drop(_B)


def global_row_number(
    df: DataFrame,
    order_by: list[tuple[str, str]],
    out: str = "rn",
    *,
    total_col: str | None = None,
    num_buckets: int = _DEFAULT_BUCKETS,
    bucket_key: Column | None = None,
    codegen_bucket: bool = False,
) -> DataFrame:
    """Append `out` = ROW_NUMBER() OVER (ORDER BY order_by) — 1-based —
    computed via the clustered-bucket cumsum. Requires `order_by` to be a
    total order."""
    return global_cumsum(
        df,
        order_by,
        F.lit(1),
        out,
        inclusive=True,
        total_col=total_col,
        num_buckets=num_buckets,
        bucket_key=bucket_key,
        codegen_bucket=codegen_bucket,
    )


def global_row_number_specs(
    df: DataFrame,
    specs: list,
    *,
    total_col: str | None = None,
    num_buckets: int = _DEFAULT_BUCKETS,
    rel_err: float = 0.001,
) -> DataFrame:
    """Append one global ROW_NUMBER column per (order_by, out) spec —
    INDEPENDENT total orders over the same rows (the RFM shape: rank the
    same entity table by recency, frequency and monetary separately).

    Independent orders cannot share a window exchange (each needs its own
    clustering), but they CAN share the two build-time actions that
    `global_row_number` pays per call: this computes every spec's quantile
    boundaries in ONE multi-column approxQuantile pass and every spec's
    per-bucket counts in ONE aggregate job (num_specs x num_buckets
    conditional sums, map-side partial), then chains the per-spec
    clustered windows. For S specs that is 2 + S data passes instead of
    3S: at 100 TB, S-1 fewer full scans and S-1 fewer count jobs; locally
    it collapses the fixed per-action latency.

    A spec is (order_by, out) or (order_by, out, bucket_key): the optional
    third element is the same escape hatch `global_cumsum_multi` takes —
    an ASCENDING-monotone numeric expression to bucket on when the spec's
    LEADING column is too low-cardinality to spread buckets (e.g. an order
    count clustered in a handful of values). Bucketing never changes
    results — equal bucket keys always share a bucket and the window still
    sorts by the full order inside it — only balance.

    `total_col` (if set) carries COUNT(*) — identical for every spec."""
    norm = []  # (order_by, out, bucket_key_col, descending)
    for s in specs:
        order_by, out = s[0], s[1]
        bk = s[2] if len(s) > 2 else None
        if bk is None:
            norm.append((order_by, out, F.col(order_by[0][0]), order_by[0][1] == "desc"))
        else:
            norm.append((order_by, out, bk, False))

    def _build():
        probs = [i / num_buckets for i in range(1, num_buckets)]
        keyed = df.select(
            *[bk.cast("double").alias(f"__go_k{i}") for i, (_, _, bk, _) in enumerate(norm)]
        )
        all_bounds = keyed.stat.approxQuantile(
            [f"__go_k{i}" for i in range(len(norm))], probs, rel_err
        )
        b_exprs = [
            _bucket_expr(bk, desc, all_bounds[i])
            for i, (_, _, bk, desc) in enumerate(norm)
        ]
        # Counts for ALL specs in one pass: posexplode the per-spec bucket
        # ids into (spec, bucket) rows and group — each bucket expression
        # is evaluated ONCE per input row. (A flat num_specs x num_buckets
        # conditional-sum aggregate evaluates every bucket expression per
        # sum term: ~12k codegen nodes at 3 x 64, measured 2.9 s -> 42 s on
        # win_rfm_segmentation before this shape.)
        counts = {
            (r["spec"], r["b"]): r["c"]
            for r in df.select(
                F.posexplode(F.array(*b_exprs)).alias("spec", "b")
            )
            .groupBy("spec", "b")
            .agg(F.count("*").alias("c"))
            .collect()
        }
        return all_bounds, counts

    tag = (
        "specs",
        tuple((_expr_str(bk), desc, tuple(ob)) for ob, _, bk, desc in norm),
        num_buckets,
        rel_err,
    )
    all_bounds, counts = _build_memo(df, tag, _build)
    buckets = [
        _bucket_expr(bk, desc, all_bounds[i]) for i, (_, _, bk, desc) in enumerate(norm)
    ]
    res, grand = df, 0
    for i, (order_by, out, _, _) in enumerate(norm):
        offs, run = [], 0
        for bb in range(num_buckets):
            offs.append(run)
            run += counts.get((i, bb), 0)
        grand = run
        w = (
            Window.partitionBy(_B)
            .orderBy(*_sort_cols(order_by))
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        off_at = F.element_at(F.array(*[F.lit(o) for o in offs]), F.col(_B) + 1)
        res = (
            res.withColumn(_B, buckets[i])
            .withColumn(out, F.sum(F.lit(1)).over(w) + off_at)
            .drop(_B)
        )
    if total_col is not None:
        res = res.withColumn(total_col, F.lit(grand))
    return res


def ntile_from_rn(rn: str, n: str, k: int) -> Column:
    """SQL-standard NTILE(k) from a 1-based global row number column `rn`
    and a total-count column `n` (both BIGINT column NAMES), as exact
    integer arithmetic (no double division anywhere — front-loaded
    remainder per the standard: the first n%k tiles get one extra row)."""
    base = f"({n} div {k})"
    rem = f"({n} % {k})"
    head = f"(({base} + 1) * {rem})"  # rows covered by the fat tiles
    return F.expr(
        f"CASE WHEN {rn} <= {head} THEN ({rn} + {base}) div ({base} + 1) "
        f"ELSE {rem} + (({rn} - {head} + {base} - 1) div {base}) END"
    ).cast("int")
