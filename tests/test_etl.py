"""M1 — reference-parity ETL operators: normalize (P1/P2), range replacement
(R1/S4/S5/S6/O7), range helpers (O4/O5/O6), orchestration (O1-O3/O8), gold
(S7/S8)."""

import datetime as dt
import re

import pytest
from pyspark.sql import functions as F

from poc_juma_etl_spark.functions.ranges import (
    custom_day_ranges,
    daily_ranges,
    date_spine,
    monthly_ranges,
)
from poc_juma_etl_spark.operators.normalize import (
    ingest_normalize,
    lowercase_columns,
    normalize_dates,
    string_date_between,
)
from poc_juma_etl_spark.operators.range_replace import (
    append_table,
    overwrite_table,
    read_table,
    refresh_recent,
    replace_range,
)

from .conftest import SF_SMOKE


# ---------------------------------------------------------------- normalize


def test_lowercase_columns(spark):
    df = spark.createDataFrame([(1, "x")], ["IDPRODUTO", "DescrProduto"])
    assert lowercase_columns(df).columns == ["idproduto", "descrproduto"]


def test_normalize_dates_coerce_semantics(spark):
    """pd.to_datetime(errors='coerce') parity: parse → format, garbage → null,
    null → null; non-date columns untouched (reference utils.py:301-305)."""
    df = spark.createDataFrame(
        [
            ("2024-03-05 10:20:30", "keep"),
            ("2024-03-05", "keep"),  # date-only input gets midnight time
            ("not a date", "keep"),
            (None, "keep"),
        ],
        ["DTMOVIMENTO", "other"],
    )
    out = ingest_normalize(df, ["dtmovimento"])
    assert out.columns == ["dtmovimento", "other"]
    vals = [r.dtmovimento for r in out.collect()]
    assert vals == ["2024-03-05 10:20:30", "2024-03-05 00:00:00", None, None]
    assert [r.other for r in out.collect()] == ["keep"] * 4


def test_normalize_multiformat_dates(spark):
    """pandas to_datetime infers mixed formats; our deterministic chain
    parses ISO and BR day-first forms, nulls the rest."""
    df = spark.createDataFrame(
        [("2024-03-05 10:20:30",), ("05/03/2024 10:20:30",), ("05/03/2024",), ("31/31/2024",)],
        ["DTEMISSAO"],
    )
    out = ingest_normalize(df, ["dtemissao"])
    vals = [r.dtemissao for r in out.collect()]
    assert vals == [
        "2024-03-05 10:20:30",
        "2024-03-05 10:20:30",
        "2024-03-05 00:00:00",
        None,
    ]


def test_normalize_only_listed_columns(spark):
    df = spark.createDataFrame([("2024-01-01", "2024-01-01")], ["DTCADASTRO", "NOTADATE"])
    out = normalize_dates(df, ["dtcadastro"])
    row = out.first()
    assert row["DTCADASTRO"] == "2024-01-01 00:00:00"
    assert row["NOTADATE"] == "2024-01-01"  # untouched


def test_string_date_between_day_granular(spark):
    """P4: DATE(LOWER(f)) BETWEEN — inclusive at both day bounds regardless
    of time-of-day (reference utils.py:266-269)."""
    df = spark.createDataFrame(
        [("2024-01-01 23:59:59",), ("2024-01-05 00:00:00",), ("2024-01-06 00:00:00",)],
        ["dt"],
    )
    got = df.filter(string_date_between("dt", "2024-01-01", "2024-01-05")).count()
    assert got == 2


# ---------------------------------------------------------------- ranges


def test_monthly_ranges():
    rs = monthly_ranges(dt.date(2024, 1, 15), dt.date(2024, 3, 10))
    assert rs == [
        (dt.date(2024, 1, 15), dt.date(2024, 1, 31)),
        (dt.date(2024, 2, 1), dt.date(2024, 2, 29)),
        (dt.date(2024, 3, 1), dt.date(2024, 3, 10)),
    ]


def test_daily_ranges():
    rs = daily_ranges(dt.date(2024, 1, 1), dt.date(2024, 1, 3))
    assert len(rs) == 3 and rs[0] == (dt.date(2024, 1, 1), dt.date(2024, 1, 1))


def test_custom_day_ranges():
    rs = custom_day_ranges(dt.date(2024, 1, 1), dt.date(2024, 1, 10), 4)
    assert rs == [
        (dt.date(2024, 1, 1), dt.date(2024, 1, 4)),
        (dt.date(2024, 1, 5), dt.date(2024, 1, 8)),
        (dt.date(2024, 1, 9), dt.date(2024, 1, 10)),
    ]


def test_date_spine_matches_daily_ranges(spark):
    n = date_spine(spark, dt.date(2024, 1, 1), dt.date(2024, 2, 15)).count()
    assert n == len(daily_ranges(dt.date(2024, 1, 1), dt.date(2024, 2, 15)))


# ---------------------------------------------------------------- writers/R1


def _mk_events(spark, rows):
    return spark.createDataFrame(rows, "id long, ts timestamp, v double")


TS = dt.datetime


def test_overwrite_and_append(spark, tmp_path):
    p = str(tmp_path / "t")
    overwrite_table(_mk_events(spark, [(1, TS(2024, 1, 1, 5), 1.0)]), p, "ts")
    append_table(_mk_events(spark, [(2, TS(2024, 1, 2, 6), 2.0)]), p, "ts")
    got = read_table(spark, p)
    assert got.count() == 2 and set(got.columns) == {"id", "ts", "v"}
    # S4 re-overwrite fully replaces
    overwrite_table(_mk_events(spark, [(9, TS(2024, 2, 1), 9.0)]), p, "ts")
    assert read_table(spark, p).count() == 1


def test_empty_guard_skips_write(spark, tmp_path):
    p = str(tmp_path / "t")
    overwrite_table(_mk_events(spark, [(1, TS(2024, 1, 1), 1.0)]), p, "ts")
    overwrite_table(_mk_events(spark, []), p, "ts")  # S6: no-op, not a wipe
    assert read_table(spark, p).count() == 1


def test_replace_range_idempotent_and_partition_scoped(spark, tmp_path):
    p = str(tmp_path / "t")
    base = _mk_events(
        spark,
        [
            (1, TS(2024, 1, 1, 10), 1.0),
            (2, TS(2024, 1, 2, 10), 2.0),
            (3, TS(2024, 1, 3, 10), 3.0),
        ],
    )
    overwrite_table(base, p, "ts")
    # replace day 2 with two new rows
    new = _mk_events(spark, [(20, TS(2024, 1, 2, 11), 20.0), (21, TS(2024, 1, 2, 12), 21.0)])
    replace_range(spark, p, new, "ts", "2024-01-02", "2024-01-02")
    got = {r.id for r in read_table(spark, p).collect()}
    assert got == {1, 20, 21, 3}  # day 1 and 3 untouched, day 2 replaced
    # run the same replacement again → identical table (R1 idempotency)
    replace_range(spark, p, new, "ts", "2024-01-02", "2024-01-02")
    assert {r.id for r in read_table(spark, p).collect()} == {1, 20, 21, 3}


def test_replace_range_ignores_rows_outside_range(spark, tmp_path):
    p = str(tmp_path / "t")
    overwrite_table(_mk_events(spark, [(1, TS(2024, 1, 1), 1.0)]), p, "ts")
    stray = _mk_events(spark, [(5, TS(2024, 1, 1), 5.0), (6, TS(2024, 3, 1), 6.0)])
    replace_range(spark, p, stray, "ts", "2024-01-01", "2024-01-01")
    got = {r.id for r in read_table(spark, p).collect()}
    assert got == {5}  # id=6 outside range ignored; day-1 replaced


def test_replace_range_empty_new_rows_is_noop(spark, tmp_path):
    """Extract-before-delete parity: no new data must never destroy existing
    data (reference utils.py:379-398)."""
    p = str(tmp_path / "t")
    overwrite_table(_mk_events(spark, [(1, TS(2024, 1, 1), 1.0)]), p, "ts")
    replace_range(spark, p, _mk_events(spark, []), "ts", "2024-01-01", "2024-01-01")
    assert read_table(spark, p).count() == 1


def test_refresh_recent_window(spark, tmp_path):
    p = str(tmp_path / "t")
    today = dt.date(2024, 1, 10)
    overwrite_table(
        _mk_events(spark, [(1, TS(2024, 1, 1), 1.0), (2, TS(2024, 1, 9), 2.0)]), p, "ts"
    )
    # source now has a corrected row for Jan 9 and a new row for Jan 10
    src = _mk_events(
        spark,
        [(1, TS(2024, 1, 1), 1.0), (20, TS(2024, 1, 9), 99.0), (30, TS(2024, 1, 10), 3.0)],
    )
    window = refresh_recent(spark, p, src, "ts", days=7, today=today)
    assert window == (dt.date(2024, 1, 3), today)
    got = {r.id for r in read_table(spark, p).collect()}
    assert got == {1, 20, 30}  # Jan 1 untouched (outside window), Jan 9 replaced
    assert refresh_recent(spark, p, src, "ts", days=0) is None  # O7 skip switch


# ---------------------------------------------------------------- etl + gold


def test_run_all_end_to_end(spark, tmp_path):
    from poc_juma_etl_spark.dashboard import DONE, StatusBoard
    from poc_juma_etl_spark.etl import run_all
    from poc_juma_etl_spark.registry import SERVICE_MAP, TRIGGER_MAP

    wh = str(tmp_path / "wh")
    logs = tmp_path / "logs"
    board = StatusBoard(list(SERVICE_MAP), sorted(set(TRIGGER_MAP.values())))
    results = run_all(
        spark, SF_SMOKE, wh, max_workers=4, log_dir=str(logs), board=board
    )
    # O10: every panel entry reached DONE and the board reports finished
    raw, gold_states, elapsed, _ = board.snapshot()
    assert board.finished()
    assert all(s == DONE for s in raw.values())
    assert all(s == DONE for s in gold_states.values())
    assert all(name in elapsed for name in raw)
    for name in SERVICE_MAP:
        assert name in results, f"table {name} not loaded"
        src = spark.read.parquet(f"{SF_SMOKE}/{name}.parquet")
        assert read_table(spark, results[name]).count() == src.count()
        # O9: one service log per table, containing the completion line
        log_file = logs / f"etl_{name}.log"
        assert log_file.exists(), f"missing service log for {name}"
        done = re.search(r"load done: .*", log_file.read_text()).group(0)
        assert re.search(r" secs=\d+\.\d\d$", done), done
        if SERVICE_MAP[name].load_mode == "range_replace":
            # the bootstrap writes every source row; no rows are retained
            assert re.search(rf" rows={src.count()} partitions=[1-9]\d* ", done), done
        else:
            assert "rows=" not in done, done
    for view in TRIGGER_MAP.values():
        assert view in results
        assert spark.read.parquet(results[view]).count() > 0


def test_gold_partitioned_output(spark, tmp_path):
    from poc_juma_etl_spark.catalog import register_views
    from poc_juma_etl_spark.plans import gold

    register_views(spark, SF_SMOKE, ["lineitem"])
    gold.define_gold_view(spark, "vw_lineitem_pricing")
    out = gold.materialize(spark, "vw_lineitem_pricing", str(tmp_path / "gold"))
    got = spark.read.parquet(out)
    src_rows = spark.table("vw_lineitem_pricing").count()
    assert got.count() == src_rows
    # partition column materialized as directory structure → pruned scans
    pruned = got.filter(F.col("ship_month") == "1995-01-01")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or pruned.count() >= 0


def test_replace_range_month_granularity_subrange(spark, tmp_path):
    """Monthly partitions + a mid-month day-range replacement: other days of
    the touched month must be retained, other months untouched."""
    p = str(tmp_path / "t")
    base = _mk_events(
        spark,
        [
            (1, TS(2024, 1, 5), 1.0),
            (2, TS(2024, 1, 15), 2.0),
            (3, TS(2024, 1, 25), 3.0),
            (4, TS(2024, 2, 10), 4.0),
        ],
    )
    overwrite_table(base, p, "ts", granularity="month")
    new = _mk_events(spark, [(20, TS(2024, 1, 16), 20.0)])
    replace_range(spark, p, new, "ts", "2024-01-10", "2024-01-20", granularity="month")
    got = {r.id for r in read_table(spark, p).collect()}
    assert got == {1, 20, 3, 4}  # day 15 replaced by 16; days 5/25 + Feb kept
    # idempotent re-run
    replace_range(spark, p, new, "ts", "2024-01-10", "2024-01-20", granularity="month")
    assert {r.id for r in read_table(spark, p).collect()} == {1, 20, 3, 4}


def test_replace_range_clears_days_without_new_rows(spark, tmp_path):
    """Hypothesis-found regression: a day inside the range with existing
    rows but NO new rows must end up empty (the reference's DELETE covers
    the whole range; dynamic overwrite alone would leave it stale)."""
    p = str(tmp_path / "t")
    overwrite_table(_mk_events(spark, [(1, TS(2024, 1, 1), 1.0)]), p, "ts")
    new = _mk_events(spark, [(1000, TS(2024, 1, 2), 0.0)])
    replace_range(spark, p, new, "ts", "2024-01-01", "2024-01-02")
    assert {r.id for r in read_table(spark, p).collect()} == {1000}
    # month granularity: same shape, stale month dir must be cleared
    p2 = str(tmp_path / "t2")
    overwrite_table(_mk_events(spark, [(1, TS(2024, 1, 15), 1.0)]), p2, "ts", granularity="month")
    new2 = _mk_events(spark, [(1000, TS(2024, 2, 2), 0.0)])
    replace_range(spark, p2, new2, "ts", "2024-01-01", "2024-02-28", granularity="month")
    assert {r.id for r in read_table(spark, p2).collect()} == {1000}


def test_gold_zorder_content_identical(spark, tmp_path):
    """Z-order is a layout choice: materialized content must be identical to
    the lexicographic clustering."""
    from poc_juma_etl_spark.catalog import register_views
    from poc_juma_etl_spark.plans import gold

    register_views(spark, SF_SMOKE, ["lineitem"])
    gold.define_gold_view(spark, "vw_lineitem_pricing")
    lex = gold.materialize(spark, "vw_lineitem_pricing", str(tmp_path / "lex"))
    zor = gold.materialize(spark, "vw_lineitem_pricing", str(tmp_path / "zor"), zorder=True)
    a = spark.read.parquet(lex)
    b = spark.read.parquet(zor)
    assert a.count() == b.count()
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_zorder_key_interleaves(spark):
    from pyspark.sql import functions as F

    from poc_juma_etl_spark.plans.gold import zorder_key

    df = spark.createDataFrame([("x", "y")], ["a", "b"])
    key = df.select(zorder_key(["a", "b"], bits=4).alias("k")).first().k
    assert 0 <= key < (1 << 8)  # 2 cols x 4 bits interleaved -> 8-bit key


def test_gold_incremental_refresh(spark, tmp_path):
    """Incremental gold refresh: after a RAW day is corrected, refreshing
    just that date range makes the gold table equal a full rebuild."""
    from poc_juma_etl_spark.plans import gold

    # RAW events view over a small controlled table
    base = _mk_events(
        spark,
        [(1, TS(2024, 1, 1, 5), 1.0), (2, TS(2024, 1, 2, 6), 2.0), (3, TS(2024, 1, 3, 7), 3.0)],
    ).withColumnRenamed("id", "event_id").withColumnRenamed("v", "value")
    base = base.withColumn("event_type", F.lit("t")).withColumn("user_id", F.lit(1)).withColumn("props", F.lit("{}"))
    base.createOrReplaceTempView("events")
    gold.define_gold_view(spark, "vw_event_hourly")
    out = gold.materialize(spark, "vw_event_hourly", str(tmp_path / "g"))
    # RAW correction: day 2's value becomes 20.0
    fixed = base.withColumn(
        "value", F.when(F.to_date("ts") == "2024-01-02", 20.0).otherwise(F.col("value"))
    )
    fixed.createOrReplaceTempView("events")
    gold.define_gold_view(spark, "vw_event_hourly")
    gold.refresh_incremental(spark, "vw_event_hourly", str(tmp_path / "g"), "2024-01-02", "2024-01-02")
    incremental = spark.read.parquet(out)
    full = gold.materialize(spark, "vw_event_hourly", str(tmp_path / "g_full"))
    full_df = spark.read.parquet(full)
    assert incremental.count() == full_df.count()
    assert incremental.exceptAll(full_df).isEmpty()
    assert full_df.exceptAll(incremental).isEmpty()


def test_run_all_retries_transient_failures(spark, tmp_path, monkeypatch):
    # a table whose first attempt dies must be retried and succeed — safe
    # precisely because the write path is the atomic range replacement
    import poc_juma_etl_spark.etl as etl_mod
    from poc_juma_etl_spark.etl import run_all
    from poc_juma_etl_spark.registry import SERVICE_MAP

    victim = next(iter(SERVICE_MAP))
    real = etl_mod.run_table
    failures = {"left": 1}

    def flaky(spark_, sf_dir, wh, name, *a, **kw):
        if name == victim and failures["left"] > 0:
            failures["left"] -= 1
            raise RuntimeError("injected transient failure")
        return real(spark_, sf_dir, wh, name, *a, **kw)

    monkeypatch.setattr(etl_mod, "run_table", flaky)
    results = run_all(
        spark,
        SF_SMOKE,
        str(tmp_path / "wh"),
        tables=[victim],
        materialize_gold=False,
        retries=2,
        retry_backoff_s=0.01,
    )
    assert victim in results
    assert failures["left"] == 0  # the injected failure actually fired


def test_run_all_exhausted_retries_raise(spark, tmp_path, monkeypatch):
    import pytest

    import poc_juma_etl_spark.etl as etl_mod
    from poc_juma_etl_spark.etl import run_all
    from poc_juma_etl_spark.registry import SERVICE_MAP

    victim = next(iter(SERVICE_MAP))

    def always_fail(*a, **kw):
        raise RuntimeError("permanent failure")

    monkeypatch.setattr(etl_mod, "run_table", always_fail)
    with pytest.raises(RuntimeError, match="permanent failure"):
        run_all(
            spark,
            SF_SMOKE,
            str(tmp_path / "wh"),
            tables=[victim],
            materialize_gold=False,
            retries=1,
            retry_backoff_s=0.01,
        )
