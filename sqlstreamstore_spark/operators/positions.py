"""Dense 0-based global ordering (the `position` column).

The reference gets this from a DB sequence (PgSqlScripts/Tables.sql:29-31).
In Spark a global `row_number() OVER (ORDER BY ...)` funnels ALL rows
through a single partition — fine at test scale, fatal at 100 TB. The
scalable strategy here is the classic two-phase ranking:

  1. range-repartition + sort within partitions on the order key
     (a single shuffle — the same one any global sort needs),
  2. count rows per partition (cheap aggregate over the cached layout),
  3. broadcast the per-partition cumulative offsets,
  4. per-partition `row_number` (distributed window, partitioned by
     spark_partition_id) + offset.

Every phase is distributed; no single-partition funnel. The persist
between phases pins the partition layout so the counts match the ranked
pass exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# ---------------------------------------------------------------- pins
# Every offsets-strategy call persists its range-partitioned input (the
# load-bearing layout barrier — see with_global_cumsum's docstring).
# Unpersisting BEFORE the caller's downstream action is never safe: a
# re-execution draws a new RangePartitioner seed and the collected
# offset map goes stale. So pins are tracked here and released by the
# REPEATED callers (bench.py, tools/driver_sim.py) via release_pins()
# AFTER each query's action completes — repeated invocations no longer
# accumulate session-lifetime cached partitions (ADVICE r9 #4); one-off
# callers may simply never release and keep the old behavior.
#
# Round-11 ownership + safety rules (ADVICE r10 #3):
#   - dense_global_index_pinned's frames are NOT registered — its
#     documented contract hands unpersist ownership to the caller, and
#     a harness release_pins() firing between that caller's actions
#     would drop the layout barrier mid-use (a later re-collection
#     would re-draw the RangePartitioner sample against the already-
#     collected offset map → silently wrong indexes).
#   - registry mutation is guarded by a lock (streaming foreachBatch
#     threads may append while the driver loop releases); release
#     swaps the list out atomically before unpersisting.
#   - library callers that loop over the LAZY convenience wrappers
#     (with_dense_global_index / with_global_cumsum and the pipeline
#     ops built on them) scope their pins with :func:`pin_scope`.
import threading

_PIN_LOCK = threading.Lock()
_PIN_REGISTRY: list[DataFrame] = []


def _track_pin(df: DataFrame) -> DataFrame:
    with _PIN_LOCK:
        _PIN_REGISTRY.append(df)
    return df


def release_pins() -> int:
    """Unpersist every layout pin created since the last release. Call
    ONLY at a quiescent point: after the downstream action on every
    frame built from these pins has run, with no later re-collection
    of those frames (a re-execution after release recomputes the range
    exchange under a new partitioner seed). Returns the pin count.
    Frames returned by :func:`dense_global_index_pinned` are caller-
    owned and never touched here."""
    with _PIN_LOCK:
        drained = list(_PIN_REGISTRY)
        _PIN_REGISTRY.clear()
    for df in drained:
        try:
            df.unpersist()
        except Exception:
            pass
    return len(drained)


def cache_pin(df: DataFrame) -> DataFrame:
    """Lazy shared-subtree cache (r12 optimization): ``persist()`` the
    frame and register it with the pin registry so the repeated-caller
    harnesses (bench / driver sim) free it at their per-query quiescent
    points via :func:`release_pins`.

    Use this — not ``localCheckpoint`` — when a frame is referenced by
    several branches of ONE downstream action: persist lets the branches
    share the first materialization without inserting a sequential job
    boundary (localCheckpoint materializes every upstream stage at
    build, serializing work the scheduler would otherwise overlap),
    while still collapsing the duplicated subtree in the compiled plan.
    Unlike the layout pins, releasing a cache_pin mid-use is harmless —
    a re-execution recomputes the same values, just slower."""
    with _PIN_LOCK:
        _PIN_REGISTRY.append(df.persist())
    return df


class pin_scope:
    """Context manager giving a library caller exact ownership of the
    layout pins its own code creates::

        with pin_scope():
            batches = curriculum_order(docs, ...)
            batches.collect()        # the action that needs the pins
        # pins created inside the block are now released; pins owned
        # by other threads / outer scopes are untouched

    Exit releases ONLY the registry entries added after entry that are
    still present (identity-compared under the lock), so concurrent
    scopes and a global release_pins() compose safely. The quiescence
    rule still applies inside the block: don't re-collect a frame
    after its scope closed."""

    def __enter__(self) -> "pin_scope":
        with _PIN_LOCK:
            self._before = {id(df) for df in _PIN_REGISTRY}
        return self

    def __exit__(self, *exc) -> None:
        with _PIN_LOCK:
            mine = [df for df in _PIN_REGISTRY if id(df) not in self._before]
            _PIN_REGISTRY[:] = [df for df in _PIN_REGISTRY if id(df) in self._before]
        for df in mine:
            try:
                df.unpersist()
            except Exception:
                pass


def with_dense_global_index(
    df: DataFrame,
    order_cols: list[str | Column],
    index_col: str = "position",
    strategy: str = "auto",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add ``index_col`` = dense 0-based rank of rows by ``order_cols``.

    strategy:
      - "window": single-partition global window. Simplest plan; only
        for small inputs.
      - "offsets": the scalable two-phase plan described above.
      - "auto": "offsets" (scale-safe default).

    The offsets plan pins (persists) the repartitioned input. The pin
    is tracked in the module registry: repeated callers free
    accumulated pins at quiescent points via :func:`release_pins` (the
    bench/gate harness) or scope them with :func:`pin_scope` (library
    loops); call ``dense_global_index_pinned`` instead when you want
    per-call unpersist ownership (those frames are NOT registered —
    the caller alone releases them).
    """
    out, pinned = dense_global_index_pinned(
        df, order_cols, index_col=index_col, strategy=strategy, num_partitions=num_partitions
    )
    if pinned is not None:
        _track_pin(pinned)
    return out


def with_global_cumsum(
    df: DataFrame,
    order_cols: list[str | Column],
    value_col: str,
    out_col: str = "cumsum",
    num_partitions: int | None = None,
    result_type: str = "long",
) -> DataFrame:
    """Running total of ``value_col`` over the global ``order_cols``
    order, without a single-partition window — the same two-phase shape
    as the dense index: range-partition + in-partition cumsum, then add
    broadcast per-partition prefix totals. Inclusive (the row's own
    value is counted, like ``SUM() OVER (... ROWS UNBOUNDED
    PRECEDING)``). ``result_type="double"`` keeps a float running sum
    (callers must round downstream: the partition-offset regrouping is
    not bit-identical to a strict sequential fold).

    Fully LAZY (round 8, ADVICE r7 #3): the per-partition prefix
    offsets used to be a driver collect at construction time, which
    executed the caller's whole upstream chain the moment the plan was
    BUILT. They are now a broadcast-joined frame whose running prefix
    comes from a window over the n_partitions-row totals — bounded by
    the partition count, never the data — so building the cumsum runs
    NOTHING (verified by a statusTracker gate in tests).

    Layout agreement between the totals pass and the ranked pass is
    GUARANTEED by a lazy ``persist()`` barrier on the partitioned
    input (round 9, ADVICE r8 #1): both subtrees resolve to the SAME
    InMemoryRelation, so the range exchange is planned and sampled
    exactly once and the broadcast ``__offset`` join can never key on
    a recomputed repartitionByRange whose reservoir sample saw a
    different shuffle-read order (a multi-executor hazard AQE's
    opportunistic exchange reuse does not foreclose; two separate
    executions also draw DIFFERENT RangePartitioner seeds — they are
    keyed by rddId). Recomputation of a lost cached partition replays
    the same captured partitioner, so boundaries stay fixed. persist
    marks the plan without running it — unlike localCheckpoint
    (eager=False), whose toRdd forces AQE to materialize every
    upstream stage at build — keeping the no-jobs-at-build contract.
    Cost: one cached copy of the partitioned input per call, held
    until session end or eviction (MEMORY_AND_DISK — spills, never
    recomputes-with-new-bounds); callers that loop over many cumsum
    builds in one session scope each iteration's pins with
    :func:`pin_scope` (or run the harness-level :func:`release_pins`
    at quiescent points)."""
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    parted = (
        df.repartitionByRange(n, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    _track_pin(parted)
    zero = F.lit(0.0) if result_type == "double" else F.lit(0).cast("long")
    # the totals window runs over ONE ROW PER PARTITION (bounded by the
    # partition count, never the data). NOTE (round 9, VERDICT r8 #7):
    # Catalyst constant-folds a literal partition key away, so
    # WindowExec still logs its "No Partition Defined" warning here —
    # that warning is HARMLESS on this input (the window sees
    # n_partitions rows total, never the data), not a funnel.
    wp = (
        Window.partitionBy(F.lit(0))
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        parted.groupBy("__pid")
        .agg(F.sum(value_col).alias("__ptot"))
        .select(
            "__pid",
            F.coalesce(F.sum("__ptot").over(wp), zero).alias("__offset"),
        )
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        parted.join(F.broadcast(offsets), "__pid")
        .withColumn(
            out_col,
            (F.sum(value_col).over(w) + F.col("__offset")).cast(result_type),
        )
        .drop("__pid", "__offset")
    )


def with_global_cummax(
    df: DataFrame,
    order_cols: list[str | Column],
    value_col: str,
    out_col: str = "cummax",
    exclusive: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """Running MAX of ``value_col`` over the global ``order_cols``
    order — the monotone-frontier primitive (skyline, watermark sweep)
    — with the same two-phase shape as :func:`with_global_cumsum`:
    range partition + in-partition window max, then fold in the
    broadcast max-so-far of all PRECEDING partitions (max is a monoid,
    so prefix composition is greatest(), not +).

    ``exclusive=True`` gives the strictly-before frontier
    (``ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING``): NULL for
    the global first row — exactly the "best seen at a strictly lower
    key" test a sort-based skyline needs."""
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    parted = (
        df.repartitionByRange(n, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )
    totals = {
        r["__pid"]: r["m"]
        for r in parted.groupBy("__pid").agg(F.max(value_col).alias("m")).collect()
    }
    prefix: dict[int, object] = {}
    best = None
    for pid in sorted(totals):
        prefix[pid] = best
        m = totals[pid]
        if m is not None and (best is None or m > best):
            best = m
    prefix_pairs = [x for pid, v in prefix.items() if v is not None for x in (pid, v)]
    prefix_expr = (
        F.element_at(
            F.create_map(*[F.lit(x) for x in prefix_pairs]), F.col("__pid")
        )
        if prefix_pairs
        else F.lit(None)
    )
    hi = -1 if exclusive else Window.currentRow
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, hi)
    )
    local = F.max(value_col).over(w)
    return (
        parted.withColumn(out_col, F.greatest(local, prefix_expr))
        .drop("__pid")
    )


def with_global_cumsums(
    df: DataFrame,
    order_cols: list[str | Column],
    value_cols: dict[str, str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Multi-column form of ``with_global_cumsum``: running totals of
    SEVERAL value columns over one global order in a SINGLE two-phase
    pass (one range partition, one totals collect, one window) —
    callers that need cumulative counts per side (e.g. the exact KS
    CDFs) pay one shuffle instead of one per column.
    ``value_cols`` maps value column → output column."""
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    parted = (
        df.repartitionByRange(n, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )
    totals_rows = (
        parted.groupBy("__pid")
        .agg(*[F.sum(v).alias(v) for v in value_cols])
        .collect()
    )
    per_col_offsets: dict[str, dict[int, int]] = {}
    for v in value_cols:
        acc = 0
        offs: dict[int, int] = {}
        for r in sorted(totals_rows, key=lambda r: r["__pid"]):
            offs[r["__pid"]] = acc
            acc += r[v] or 0
        per_col_offsets[v] = offs
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = parted
    for v, out_col in value_cols.items():
        offs = per_col_offsets[v]
        offset_expr = (
            F.element_at(
                F.create_map(*[F.lit(x) for kv in offs.items() for x in kv]),
                F.col("__pid"),
            )
            if offs
            else F.lit(0)
        )
        out = out.withColumn(out_col, (F.sum(v).over(w) + offset_expr).cast("long"))
    return out.drop("__pid")


def dense_global_index_pinned(
    df: DataFrame,
    order_cols: list[str | Column],
    index_col: str = "position",
    strategy: str = "auto",
    num_partitions: int | None = None,
    collect_distinct: str | None = None,
    group_counts: str | None = None,
) -> tuple[DataFrame, DataFrame | None] | tuple[DataFrame, DataFrame | None, set] | tuple[DataFrame, DataFrame | None, list]:
    """Like with_dense_global_index but also returns the persisted
    intermediate (or None for the window strategy) so the caller can
    ``unpersist()`` once its downstream action has run. The frame is
    deliberately NOT registered with the module pin registry (ADVICE
    r10 #3): the caller owns it exclusively, so a concurrent
    ``release_pins()`` can never drop the layout barrier between this
    caller's actions.

    ``collect_distinct="col"`` additionally returns the column's
    distinct values as a third element, gathered as a bounded
    ``collect_set`` INSIDE the partition-counts job (r12, guide §5.3:
    bulk_append paid a whole extra delta-lineage pass for its
    distinct-stream check; the set is O(#streams), the same bound the
    manifest already holds driver-side).

    ``group_counts="col"`` (r13, VERDICT r12 #4 — mutually exclusive
    with ``collect_distinct``) instead returns, as the third element,
    the per-(partition, col) row counts as a sorted list of
    ``(pid, value, count)`` tuples, gathered INSIDE the same
    partition-counts job (the per-pid offsets are their sums, so the
    job count is unchanged). When ``col`` is a PREFIX of
    ``order_cols``, each value's rows occupy one contiguous index
    block, so a caller can derive every per-group first-index / count
    / head aggregate driver-side instead of paying follow-up jobs —
    bulk_append's whole heads read-back job folds into this one."""
    if collect_distinct is not None and group_counts is not None:
        raise ValueError(
            "collect_distinct and group_counts are mutually exclusive"
        )
    if strategy == "window":
        w = Window.orderBy(*order_cols)
        out = df.withColumn(index_col, F.row_number().over(w) - F.lit(1))
        if collect_distinct is not None:
            vals = {r[0] for r in df.select(collect_distinct).distinct().collect()}
            return out, None, vals
        if group_counts is not None:
            rows = [
                (0, r[0], r[1])
                for r in df.groupBy(group_counts).agg(F.count("*")).collect()
            ]
            return out, None, _sorted_group_counts(rows)
        return out, None

    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    parted = (
        df.repartitionByRange(n, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    if group_counts is not None:
        grp_rows = (
            parted.groupBy("__pid", group_counts)
            .agg(F.count("*").alias("cnt"))
            .collect()
        )
        counts: dict[int, int] = {}
        for r in grp_rows:
            counts[r["__pid"]] = counts.get(r["__pid"], 0) + r["cnt"]
        stat_rows = None
    else:
        aggs = [F.count("*").alias("cnt")]
        if collect_distinct is not None:
            aggs.append(F.collect_set(collect_distinct).alias("__vals"))
        stat_rows = parted.groupBy("__pid").agg(*aggs).collect()
        counts = {r["__pid"]: r["cnt"] for r in stat_rows}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    offset_expr = F.element_at(
        F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv]),
        F.col("__pid"),
    ) if offsets else F.lit(0)
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    out = (
        parted.withColumn(
            index_col,
            (F.row_number().over(w) - F.lit(1) + offset_expr).cast("long"),
        )
        .drop("__pid")
    )
    if group_counts is not None:
        return out, parted, _sorted_group_counts(
            [(r["__pid"], r[group_counts], r["cnt"]) for r in grp_rows]
        )
    if collect_distinct is not None:
        vals: set = set()
        for r in stat_rows:
            vals.update(r["__vals"])
        return out, parted, vals
    return out, parted


def _sorted_group_counts(rows: list) -> list:
    """(pid, value, count) tuples in GLOBAL index order: ascending pid,
    then ascending value within the pid (rows inside a partition are
    sorted by the order columns, whose first column is the group key).
    NULLs sort first, matching Spark's NULLS FIRST default; non-null
    string values compare identically in Python (code-point order) and
    Spark (UTF-8 byte order — UTF-8 preserves code-point order)."""
    return sorted(rows, key=lambda r: (r[0], r[1] is not None, r[1]))


def with_global_last_carry(
    df: DataFrame,
    order_specs: list[tuple[Column, bool]],
    carry_col: str,
    out_col: str = "carried",
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-row LAST non-null ``carry_col`` over the global order given
    by ``order_specs`` — ``(column, ascending)`` pairs — inclusive of
    the current row: the global as-of / gap-fill primitive, without a
    single-partition window. Same two-phase shape as
    ``with_global_cumsum``: range partition + in-partition
    last(ignorenulls); a row whose partition holds no earlier non-null
    takes the nearest PRECEDING partition's final carried value, shipped
    back as a broadcast ``__pid → value`` map (one small collect of at
    most one row per partition, never the data).

    Order columns must be NUMERIC and non-null: the per-partition final
    carry is extracted with max_by over a struct, and a descending spec
    is realized by negating the column inside it (structs can't hold
    SortOrder expressions). Pass a descending axis to carry the NEXT
    value instead of the previous one.
    """
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    order_cols = [c.asc() if asc else c.desc() for c, asc in order_specs]
    parted = (
        df.repartitionByRange(n, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )
    # deterministic per-partition FINAL non-null carry: max_by over the
    # (sign-adjusted) order tuple among non-null rows — agg-order-
    # independent, unlike a bare last() in an aggregate
    order_tuple = F.struct(*[(c if asc else -c) for c, asc in order_specs])
    finals = {
        r["__pid"]: r["v"]
        for r in parted.filter(F.col(carry_col).isNotNull())
        .groupBy("__pid")
        .agg(F.max_by(F.col(carry_col), order_tuple).alias("v"))
        .collect()
    }
    fills: dict[int, object] = {}
    last_seen = None
    for pid in range(parted.rdd.getNumPartitions()):
        fills[pid] = last_seen
        if finals.get(pid) is not None:
            last_seen = finals[pid]
    fill_pairs = [x for pid, v in fills.items() if v is not None for x in (pid, v)]
    fill_expr = (
        F.element_at(
            F.create_map(*[F.lit(x) for x in fill_pairs]), F.col("__pid")
        )
        if fill_pairs
        else F.lit(None)
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        parted.withColumn(
            out_col,
            F.coalesce(F.last(F.col(carry_col), ignorenulls=True).over(w), fill_expr),
        )
        .drop("__pid")
    )


def with_global_rank_and_cumsum(
    df: DataFrame,
    order_cols: list[str | Column],
    value_col: str,
    rank_col: str = "ix",
    cum_col: str = "cumsum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Dense 0-based global rank AND inclusive running total of
    ``value_col`` over ONE global order, in a SINGLE two-phase pass:
    one range partition + sort, one totals collect that gathers BOTH
    per-partition row counts and value sums, one window pass emitting
    both columns. Callers that need rank and cumsum on the same order
    (coverage curves, Pareto cuts) pay one localCheckpoint and one
    shuffle instead of two of each."""
    spark = df.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism
    parted = (
        df.repartitionByRange(n, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )
    stats = {
        r["__pid"]: (r["c"], r["s"])
        for r in parted.groupBy("__pid")
        .agg(F.count("*").alias("c"), F.sum(value_col).alias("s"))
        .collect()
    }
    cnt_off, sum_off = {}, {}
    acc_c, acc_s = 0, 0
    for pid in sorted(stats):
        cnt_off[pid], sum_off[pid] = acc_c, acc_s
        c, s = stats[pid]
        acc_c += c or 0
        acc_s += s or 0
    def _map(d):
        pairs = [x for kv in d.items() for x in kv]
        return (
            F.element_at(F.create_map(*[F.lit(x) for x in pairs]), F.col("__pid"))
            if pairs
            else F.lit(0)
        )
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        parted.withColumn(
            rank_col,
            (F.row_number().over(w) - 1 + _map(cnt_off)).cast("long"),
        )
        .withColumn(cum_col, (F.sum(value_col).over(wf) + _map(sum_off)).cast("long"))
        .drop("__pid")
    )
