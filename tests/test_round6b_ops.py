"""Round-6b operators: BFS hop distances, compaction planner, dynamic
partition pruning. Oracle parity for all three is covered by the
registry-wide sweep in test_oracle_parity.py; these tests pin the
algorithmic invariants and the physical-plan property (DPP) that the
hash gate cannot see."""

import shutil
import tempfile

from pyspark.sql import functions as F

from poc_juma_etl_spark.plans.extra8 import (
    COMPACT_TARGET,
    DPP_YEAR,
    bfs_hops,
    dpp_month_rollup,
    q_compaction_plan,
    q_graph_bfs_hops,
)

from .conftest import SF_ORACLE, SF_SMOKE


def _sym(spark, und):
    """bfs_hops takes a symmetric distinct edge view: mirror u < v pairs."""
    return spark.createDataFrame(und + [(v, u) for u, v in und], "u bigint, v bigint")


def test_bfs_tiny_graph_exact_distances(spark):
    # path 1-2-3-4-5-6 plus shortcut 1-4; seeds = {1, 2, 3}
    edges = _sym(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (1, 4), (100, 101)])
    got = {r["node"]: r["hops"] for r in bfs_hops(edges, n_seeds=3, max_hops=4).collect()}
    # 1,2,3 at 0; 4 at 1 (via 1-4 or 3-4); 5 at 2; 6 at 3; 100/101 unreachable
    assert got == {1: 0, 2: 0, 3: 0, 4: 1, 5: 2, 6: 3}


def test_bfs_hop_cap_and_early_stop(spark):
    # long path: node 9 is 4 hops from seed-set {0,1,2} (2-3-...-9 = 7 hops
    # from 2? no: chain 0-1-2-3-4-5-6-7-8-9, seeds 0,1,2 -> 9 is 7 hops
    # beyond the cap of 4 and must be absent; max emitted hop == 4
    chain = [(i, i + 1) for i in range(9)]
    edges = _sym(spark, chain)
    rows = bfs_hops(edges, n_seeds=3, max_hops=4).collect()
    got = {r["node"]: r["hops"] for r in rows}
    assert max(got.values()) == 4
    assert 9 not in got  # beyond the cap
    assert got[6] == 4  # 2 -> 3 -> 4 -> 5 -> 6


def test_bfs_isolated_seed_component_stops_early(spark):
    # the 3 smallest nodes form a closed triangle; frontier empties after
    # round 1 and nothing outside the component is ever emitted
    edges = _sym(spark, [(1, 2), (2, 3), (1, 3), (50, 60), (60, 70)])
    rows = bfs_hops(edges, n_seeds=3, max_hops=4).collect()
    assert {r["node"] for r in rows} == {1, 2, 3}
    assert all(r["hops"] == 0 for r in rows)


def test_compaction_no_file_split_and_group_monotone(spark):
    # every simulated file lands in exactly one group, and within a month
    # group ids are a contiguous non-decreasing sequence starting at 0
    out = q_compaction_plan(spark, SF_ORACLE).collect()
    by_month = {}
    for r in out:
        by_month.setdefault(r["month"], []).append((r["out_group"], r["n_files"]))
    files_total = sum(r["n_files"] for r in out)
    # files = month x priority groups present in the source
    import duckdb

    con = duckdb.connect()
    n_expected = con.sql(
        f"SELECT COUNT(*) FROM (SELECT DISTINCT strftime(o_orderdate, '%Y-%m'), "
        f"o_orderpriority FROM '{SF_ORACLE}/orders.parquet')"
    ).fetchone()[0]
    con.close()
    assert files_total == n_expected
    for month, groups in by_month.items():
        ids = sorted(g for g, _ in groups)
        assert ids[0] == 0, month
        # start-offset rule can skip an id only when a file overshoots the
        # target; ids must still be strictly increasing
        assert ids == sorted(set(ids)), month


def test_compaction_oversized_file_keeps_own_group(spark):
    # one 2.5x-target file between small ones: its start offset claims a
    # group; the next small file starts past it in a LATER group (no split,
    # no co-tenancy with the giant's tail)
    df = spark.createDataFrame(
        [
            ("2024-01", "a", 100_000),
            ("2024-01", "b", int(COMPACT_TARGET * 2.5)),
            ("2024-01", "c", 100_000),
        ],
        "month string, file_id string, size_bytes bigint",
    )
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("month")
        .orderBy("file_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = (
        df.withColumn("cum_before", F.coalesce(F.sum("size_bytes").over(w), F.lit(0)))
        .withColumn("out_group", F.expr(f"cum_before div {COMPACT_TARGET}"))
        .collect()
    )
    groups = {r["file_id"]: r["out_group"] for r in placed}
    assert groups["a"] == 0
    assert groups["b"] == 0  # starts at offset 100k -> group 0
    # c starts at 100k + 2.5*target -> group 2, never inside b's span-end group
    assert groups["c"] == 2


def test_dpp_subquery_in_fact_scan_plan(spark):
    # the fact scan's partition filters must carry a dynamicpruning
    # expression fed by the filtered month dimension
    from poc_juma_etl_spark.catalog import load_table

    o = load_table(spark, SF_ORACLE, "orders").withColumn(
        "order_month", F.date_format("o_orderdate", "yyyy-MM")
    )
    tmp = tempfile.mkdtemp(prefix="dpp_plan_")
    try:
        o.select("o_orderkey", "o_orderdate", "order_month").write.partitionBy(
            "order_month"
        ).mode("overwrite").parquet(tmp)
        fact = spark.read.parquet(tmp)
        out = dpp_month_rollup(fact, o, year=DPP_YEAR)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower(), plan[:2000]
        assert out.count() == 12  # pruned to one year's months, answer intact
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_bfs_smoke_small_fixture(spark):
    # end-to-end on the smallest fixture: every hop level 0..max present
    # is contiguous and seed count matches BFS_SEEDS (graph is connected
    # enough at sf0.001 that at least the seeds emit)
    out = q_graph_bfs_hops(spark, SF_SMOKE).collect()
    hops = sorted({r["hops"] for r in out})
    assert hops == list(range(len(hops)))  # no gaps in hop levels
    assert sum(1 for r in out if r["hops"] == 0) <= 3


def _write_docs(spark, tmpdir, rows):
    # minimal documents fixture matching the catalog schema
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmpdir}/documents.parquet")


def test_auc_known_values_with_ties_and_degenerate_slice(spark):
    from poc_juma_etl_spark.plans.mleval import q_eval_auc

    tmp = tempfile.mkdtemp(prefix="auc_")
    try:
        # slice A: pos scores {3, 2}, neg {1, 2} -> pairs: (3>1)=1 (3>2)=1
        # (2>1)=1 (2~2)=0.5  => U = 3.5, AUC = 3.5/4 = 0.875, u2 = 7
        # slice B: all positive -> auc NULL
        rows = [
            (1, "t", "en", "A", 3),
            (2, "t", "en", "A", 2),
            (3, "t", "xx", "A", 1),
            (4, "t", "yy", "A", 2),
            (5, "t", "en", "B", 9),
            (6, "t", "en", "B", 1),
        ]
        _write_docs(spark, tmp, rows)
        got = {r["source"]: r for r in q_eval_auc(spark, tmp).collect()}
        assert got["A"]["u2"] == 7
        assert got["A"]["auc"] == 7 / 8
        assert got["B"]["auc"] is None and got["B"]["n_neg"] == 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_target_encoding_leave_one_out_property(spark):
    from poc_juma_etl_spark.plans.mleval import TE_SMOOTH, q_target_encoding

    tmp = tempfile.mkdtemp(prefix="te_")
    try:
        # category S: labels [1, 1, 0]; global: 3 pos of 5
        rows = [
            (1, "t", "en", "S", 10),
            (2, "t", "en", "S", 10),
            (3, "t", "xx", "S", 10),
            (4, "t", "en", "T", 10),
            (5, "t", "xx", "T", 10),
        ]
        _write_docs(spark, tmp, rows)
        got = {r["doc_id"]: r for r in q_target_encoding(spark, tmp).collect()}
        gp, gn = 3, 5
        # row 1 (y=1 in S): LOO sum = 1, n-1 = 2
        assert got[1]["enc_num"] == gn * 1 + TE_SMOOTH * gp
        assert got[1]["enc_den"] == gn * (2 + TE_SMOOTH)
        # row 3 (y=0 in S): LOO sum = 2
        assert got[3]["enc_num"] == gn * 2 + TE_SMOOTH * gp
        # same category, same label -> identical encoding (rows 1, 2)
        assert got[1]["enc"] == got[2]["enc"]
        # excluding own label: pos row encodes LOWER than neg row in same cat
        assert got[1]["enc"] < got[3]["enc"]
        assert all(abs(r["enc"] - r["enc_num"] / r["enc_den"]) == 0.0 for r in got.values())
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_feature_hashing_buckets_and_signs_deterministic(spark):
    from poc_juma_etl_spark.plans.mleval import FH_BUCKETS, q_feature_hashing

    out1 = {r["bucket"]: r for r in q_feature_hashing(spark, SF_SMOKE).collect()}
    out2 = {r["bucket"]: r for r in q_feature_hashing(spark, SF_SMOKE).collect()}
    assert out1.keys() == out2.keys()
    for b, r in out1.items():
        assert 0 <= b < FH_BUCKETS
        assert r["signed_count"] == out2[b]["signed_count"]
        # signed sum can never exceed term count
        assert abs(r["signed_count"]) <= r["n_terms"]
