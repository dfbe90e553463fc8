"""A refresh cycle reads only the partitions its window touches: range
replacement and the incremental Gold refresh list partition directories on
the driver instead of scanning whole tables, delete stale partitions by
their listed paths, and run a pinned number of Spark jobs."""

import datetime as dt
import os

import pytest

from poc_juma_etl_spark.operators.range_replace import (
    list_partitions,
    overwrite_table,
    read_table,
    replace_range,
)

TS = dt.datetime


def _events(spark, rows):
    return spark.createDataFrame(rows, "id long, ts timestamp, v double")


def _lineitem(spark, ship_days):
    rows = [
        (i, 1, 1, "N", "O", 1.0, 10.0, 0.0, d) for i, d in enumerate(ship_days, start=1)
    ]
    return spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_returnflag string, "
        "l_linestatus string, l_quantity double, l_extendedprice double, "
        "l_discount double, l_shipdate timestamp",
    )


def test_list_partitions_decodes_timestamp_directories(spark, tmp_path):
    out = str(tmp_path / "g")
    df = spark.createDataFrame([(1, TS(1995, 2, 1))], "id long, m timestamp")
    df.write.partitionBy("m").parquet(out)
    assert [d for d in os.listdir(out) if d.startswith("m=")] == ["m=1995-02-01 00%3A00%3A00"]
    assert list(list_partitions(spark, out, "m")) == ["1995-02-01 00:00:00"]
    assert list_partitions(spark, str(tmp_path / "missing"), "m") == {}


@pytest.mark.parametrize(
    "granularity, rows, garbage_dir, start, end",
    [
        (
            "day",
            [(1, TS(2024, 1, 1, 5), 1.0), (2, TS(2024, 1, 2, 5), 2.0), (3, TS(2024, 1, 3, 5), 3.0)],
            "p_date=2024-01-03",
            "2024-01-02",
            "2024-01-02",
        ),
        (
            "month",
            [(1, TS(2024, 1, 5), 1.0), (2, TS(2024, 1, 15), 2.0), (3, TS(2024, 3, 10), 3.0)],
            "p_date=2024-03-01",
            "2024-01-10",
            "2024-01-20",
        ),
    ],
)
def test_replace_range_never_reads_untouched_partitions(
    spark, tmp_path, granularity, rows, garbage_dir, start, end
):
    """A corrupt file in a partition outside the range must not be opened
    (reading the whole table failed here with FAILED_READ_FILE)."""
    p = str(tmp_path / "t")
    overwrite_table(_events(spark, rows), p, "ts", granularity=granularity)
    garbage = tmp_path / "t" / garbage_dir / "part-99999-garbage.parquet"
    garbage.write_bytes(b"not a parquet file")
    new = _events(spark, [(20, TS(2024, 1, 2, 11), 20.0), (21, TS(2024, 1, 16), 21.0)])
    replace_range(spark, p, new, "ts", start, end, granularity=granularity)
    assert garbage.read_bytes() == b"not a parquet file"  # left in place
    garbage.unlink()
    got = {r.id for r in read_table(spark, p).collect()}
    if granularity == "day":
        assert got == {1, 20, 3}
    else:
        assert got == {1, 21, 3}


def test_gold_refresh_deletes_stale_timestamp_partition(spark, tmp_path):
    """``ship_month`` is a TIMESTAMP, so its directory is
    ``ship_month=1995-02-01 00%3A00%3A00``; a delete path built from the
    unescaped value missed it and Gold kept rows the view no longer has."""
    from poc_juma_etl_spark.plans import gold

    wh = str(tmp_path / "wh")
    _lineitem(spark, [TS(1995, 1, 15), TS(1995, 2, 15), TS(1995, 3, 15)]).createOrReplaceTempView(
        "lineitem"
    )
    gold.define_gold_view(spark, "vw_lineitem_pricing")
    out = gold.materialize(spark, "vw_lineitem_pricing", wh)
    # every February row leaves RAW; refresh January-February
    _lineitem(spark, [TS(1995, 1, 15), TS(1995, 3, 15)]).createOrReplaceTempView("lineitem")
    gold.define_gold_view(spark, "vw_lineitem_pricing")
    gold.refresh_incremental(spark, "vw_lineitem_pricing", wh, "1995-01-01", "1995-02-28")
    assert spark.read.parquet(out).count() == spark.table("vw_lineitem_pricing").count() == 2
    assert not [d for d in os.listdir(out) if d.startswith("ship_month=1995-02")]


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_refresh_cycle_job_counts(spark, tmp_path):
    """Job-count pin for one refresh cycle (month-granular replace_range
    touching one partition, then refresh_incremental of one Gold month).
    Reading whole tables, these steps ran 8 and 6 jobs here, and 9 and 7 per
    operation in the benchmark's traced etl_nightly run."""
    from poc_juma_etl_spark.plans import gold

    raw = str(tmp_path / "lineitem")
    base = _lineitem(spark, [TS(1995, m, d) for m in (1, 2, 3) for d in (3, 14, 25)])
    overwrite_table(base, raw, "l_shipdate", granularity="month")
    window = _lineitem(spark, [TS(1995, 2, 12), TS(1995, 2, 16)])
    n_replace = _jobs(
        spark,
        "pin_replace_range",
        lambda: replace_range(
            spark, raw, window, "l_shipdate", "1995-02-10", "1995-02-16", "month"
        ),
    )
    wh = str(tmp_path / "wh")
    read_table(spark, raw).createOrReplaceTempView("lineitem")
    gold.define_gold_view(spark, "vw_lineitem_pricing")
    gold.materialize(spark, "vw_lineitem_pricing", wh)
    n_gold = _jobs(
        spark,
        "pin_refresh_incremental",
        lambda: gold.refresh_incremental(
            spark, "vw_lineitem_pricing", wh, "1995-02-01", "1995-02-28"
        ),
    )
    feb = {r.l_shipdate.day for r in read_table(spark, raw).collect() if r.l_shipdate.month == 2}
    assert feb == {3, 12, 16, 25}
    assert n_replace <= 5, n_replace
    assert n_gold <= 4, n_gold
