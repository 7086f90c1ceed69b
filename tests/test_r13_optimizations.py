"""Round-13 optimization pins: bulk_append's folded commit jobs,
the group_counts stats mode, and the grouping-sets functional_deps."""

from __future__ import annotations

import math
import os
import uuid

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _n_jobs(spark) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup())


# ------------------------------------------------ positions.group_counts


def test_group_counts_mode_matches_index_and_counts(spark):
    from sqlstreamstore_spark.operators import positions as P

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "source"
    )
    out, pinned, rows = P.dense_global_index_pinned(
        docs, ["source", "doc_id"], index_col="__i", group_counts="source"
    )
    got = out.select("source", "__i").collect()
    if pinned is not None:
        pinned.unpersist()
    # the tuples arrive in global index order: running total = each
    # group's first index; counts sum to the row count
    first, count, acc = {}, {}, 0
    for _pid, src, c in rows:
        if src not in first:
            first[src] = acc
        count[src] = count.get(src, 0) + c
        acc += c
    assert acc == len(got)
    by_src_min = {}
    by_src_n = {}
    for r in got:
        by_src_min[r.source] = min(by_src_min.get(r.source, 1 << 60), r["__i"])
        by_src_n[r.source] = by_src_n.get(r.source, 0) + 1
    assert by_src_min == first
    assert by_src_n == count
    # contiguity: max index = first + count - 1 per group
    by_src_max = {}
    for r in got:
        by_src_max[r.source] = max(by_src_max.get(r.source, -1), r["__i"])
    assert by_src_max == {s: first[s] + count[s] - 1 for s in first}


@pytest.mark.parametrize("strategy", ["auto", "window"])
def test_collect_distinct_and_group_counts_are_exclusive(spark, strategy):
    from sqlstreamstore_spark.operators import positions as P

    df = spark.createDataFrame([("a", 1), ("b", 2)], "g string, k int")
    with pytest.raises(ValueError, match="mutually exclusive"):
        P.dense_global_index_pinned(
            df, ["g", "k"], strategy=strategy,
            collect_distinct="g", group_counts="g",
        )


# ------------------------------------------------- bulk_append job fold


def _mk_batch(spark, streams: list[tuple[str, int]], base: int):
    rows = []
    k = base
    for sid, n in streams:
        for _ in range(n):
            rows.append(
                (sid, str(uuid.UUID(int=k + 1)), "t", '{"x":1}', None,
                 "2024-01-01 00:00:00", k)
            )
            k += 1
    return spark.createDataFrame(
        rows,
        "stream_id string, message_id string, type string, json_data string,"
        " json_metadata string, created_utc string, seq long",
    )


def test_bulk_append_heads_match_written_data(spark, tmp_path):
    """The driver-derived heads (r13: no read-back job) must equal a
    recompute over the actually-written rows, across two commits with
    version continuation and interleaved stream order."""
    from sqlstreamstore_spark.store import SparkParquetStreamStore

    store = SparkParquetStreamStore(spark, str(tmp_path / "store"))
    b1 = _mk_batch(spark, [("b", 3), ("a", 2), ("c", 1)], 0)
    n1, head1 = store.bulk_append(b1, order_col="seq")
    assert (n1, head1) == (6, 5)
    b2 = _mk_batch(spark, [("a", 2), ("d", 1)], 100)
    n2, head2 = store.bulk_append(b2, order_col="seq", allow_existing=True)
    assert (n2, head2) == (3, 8)

    # recompute heads from the store's own read surface
    truth = {
        r.stream_id: r
        for r in store.log_df()
        .groupBy("stream_id")
        .agg(
            F.max("stream_version").alias("v"),
            F.max("position").alias("p"),
            F.min("position").alias("f"),
            F.count("*").alias("c"),
        )
        .collect()
    }
    assert set(truth) == {"a", "b", "c", "d"}
    for sid, s in store._manifest["streams"].items():
        r = truth[sid]
        assert s["version"] == r.v, sid
        assert s["position"] == r.p, sid
        assert s["first_position"] == r.f, sid
        assert s["count"] == r.c, sid
    # versions are dense 0..v per stream and positions dense globally
    log = store.log_df().orderBy("position").collect()
    assert [r.position for r in log] == list(range(9))
    for sid in "abcd":
        vs = [r.stream_version for r in log if r.stream_id == sid]
        assert vs == sorted(vs) and vs[0] == 0 and len(set(vs)) == len(vs)


def test_bulk_append_job_budget(spark, tmp_path):
    """r13 (VERDICT r12 #4): the per-stream min aggregate and the heads
    READ-BACK job are folded into the layout/stats job — a bulk commit
    submits ≤8 Spark jobs (range-sampling + AQE stage jobs included);
    the r12 code paid 13-14 on the same workload (A/B in
    OPTIMIZATION_r13.md)."""
    from sqlstreamstore_spark.store import SparkParquetStreamStore

    store = SparkParquetStreamStore(spark, str(tmp_path / "store"))
    b = _mk_batch(spark, [("s1", 5), ("s2", 5)], 0)
    j0 = _n_jobs(spark)
    store.bulk_append(b, order_col="seq")
    assert _n_jobs(spark) - j0 <= 8
    b2 = _mk_batch(spark, [("s1", 5), ("s3", 5)], 100)
    j0 = _n_jobs(spark)
    store.bulk_append(b2, order_col="seq", allow_existing=True)
    assert _n_jobs(spark) - j0 <= 8


def test_bulk_append_rejects_existing_without_flag(spark, tmp_path):
    from sqlstreamstore_spark.store import SparkParquetStreamStore

    store = SparkParquetStreamStore(spark, str(tmp_path / "store"))
    store.bulk_append(_mk_batch(spark, [("s", 2)], 0), order_col="seq")
    with pytest.raises(ValueError, match="existing streams"):
        store.bulk_append(_mk_batch(spark, [("s", 1)], 10), order_col="seq")


# --------------------------------------------- functional_deps grouping sets


def test_functional_deps_matches_reference_groupbys(spark):
    """The grouping-sets rewrite must produce the identical doubles the
    per-set groupBy implementation produced (sorted fold over the same
    count multisets)."""
    from sqlstreamstore_spark.analytics.quality import functional_deps

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    got = {
        (r.x_col, r.y_col): r for r in functional_deps(docs).collect()
    }
    # reference: plain per-set groupBys + the same sorted ln-fold
    axes = {
        "lang": F.col("lang").cast("string"),
        "source": F.col("source").cast("string"),
        "len_bucket": (F.col("n_chars") - F.col("n_chars") % 100).cast("string"),
    }
    base = docs.select(*[e.alias(n) for n, e in axes.items()]).cache()
    n = base.count()

    def s_of(cols):
        cs = sorted(
            r["c"]
            for r in base.groupBy(*cols)
            .agg(F.count("*").cast("long").alias("c"))
            .collect()
        )
        acc = 0.0
        for c in cs:
            acc = acc + float(c) * math.log(float(c))
        return acc

    names = list(axes)
    singles = {x: s_of([x]) for x in names}
    joints = {}
    for i, x in enumerate(names):
        for y in names[i + 1 :]:
            joints[(x, y)] = s_of([x, y])
    base.unpersist()
    assert len(got) == 6
    for x in names:
        for y in names:
            if x == y:
                continue
            sxy = joints.get((x, y), joints.get((y, x)))
            h_y_given_x = (singles[x] - sxy) / n
            h_y = math.log(n) - singles[y] / n
            fd = 1.0 - h_y_given_x / h_y if h_y > 0 else 1.0
            r = got[(x, y)]
            assert r.n == n
            assert r.h_y_given_x == round(h_y_given_x, 6), (x, y)
            assert r.h_y == round(h_y, 6), (x, y)
            assert r.fd_strength == round(fd, 6), (x, y)


def test_functional_deps_plan_collapsed(spark):
    """Plan pin: the six pair branches read the ONE barriered sums row
    (ExistingRDD leaves, zero parquet scans) and the final plan carries
    ≤2 exchanges — the r12 shape re-aggregated per set (38 exchanges).
    The grouping-sets Expand runs once at construction, behind the
    barrier."""
    from sqlstreamstore_spark.analytics.quality import functional_deps

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = functional_deps(docs)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert plan.count("Scan parquet") == 0
    assert plan.count("Exchange") <= 2
