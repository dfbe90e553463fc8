"""Round-8 units.

1. span-dedup dup-collapse parity: the round-7 snapshot landed the
   rep-collapse for q_text_span_dedup without its dup-heavy parity unit
   (the sf0.01 fixture has almost no exact copies, so the expansion
   branch degenerates to identity there). This pins the collapsed plan
   against an independent Python brute force on an interleaved-id
   duplicate corpus, including the weighted "occurs >= 2 corpus-wide"
   dup test (a shingle unique within a text whose text has >= 2 copies
   IS a duplicate).
"""

import pytest

from poc_juma_etl_spark import all_queries
from poc_juma_etl_spark.plans.queries import release_caches

from .test_round7_ops import _dup_docs_dir
from .test_triangles import _write_fixture


def _span_bruteforce(docs, k):
    """docs: {doc_id: [tokens]}. Returns rows matching q_text_span_dedup's
    schema, computed with no collapse at all: every copy contributes its
    own shingle occurrences to the corpus-wide count."""
    from collections import Counter

    counts = Counter()
    shingles = {}
    for d, ts in docs.items():
        if len(ts) < k:
            shingles[d] = []
            continue
        sh = [" ".join(ts[i : i + k]) for i in range(len(ts) - k + 1)]
        shingles[d] = sh
        counts.update(sh)
    rows = []
    for d, ts in sorted(docs.items()):
        hits = [i for i, s in enumerate(shingles[d]) if counts[s] >= 2]
        if not hits:
            continue
        islands = []
        cur = [hits[0], hits[0]]
        n_in = 1
        per_island = []
        for p in hits[1:]:
            if p - cur[1] > k:
                per_island.append((n_in, cur[1] - cur[0] + k))
                cur = [p, p]
                n_in = 1
            else:
                cur[1] = p
                n_in += 1
        per_island.append((n_in, cur[1] - cur[0] + k))
        islands = per_island
        n_dup = sum(n for n, _ in islands)
        dup_tokens = sum(t for _, t in islands)
        rows.append(
            (
                d,
                len(ts),
                n_dup,
                len(islands),
                dup_tokens,
                max(t for _, t in islands),
                dup_tokens / len(ts),
            )
        )
    return rows


def test_span_dedup_collapsed_matches_bruteforce(spark, tmp_path):
    """Collapsed span dedup == uncollapsed Python brute force on a corpus
    where (a) texts have exact copies with interleaved ids, (b) a shingle
    is duplicated ONLY via the copy count (unique within its text, text
    has 2 copies), and (c) a shingle is duplicated across two distinct
    texts that are otherwise different."""
    from poc_juma_etl_spark.plans.extra9 import SPAN_K

    shared = "one two three four five six seven eight"  # exactly SPAN_K tokens
    texts = [
        # group of 3 exact copies: every shingle dup via gsz >= 2
        (f"{shared} nine ten eleven twelve thirteen fourteen fifteen", 3),
        # 2 copies of a text sharing its prefix run with the group above
        (f"{shared} AA BB CC DD EE FF GG HH II JJ", 2),
        # singleton sharing the same 8-token run mid-text (shifted copy)
        (f"zz yy xx ww {shared} vv uu tt ss rr qq pp", 1),
        # singleton with nothing in common: must NOT appear in the output
        ("totally different content with no shared runs anywhere at all here", 1),
        # short doc under SPAN_K tokens: excluded from shingling entirely
        ("tiny doc", 2),
    ]
    sf = _dup_docs_dir(spark, tmp_path, texts)
    got = sorted(map(tuple, all_queries()["q_text_span_dedup"].fn(spark, sf).collect()))

    docs = {}
    i = 0
    pend = [[t, n] for t, n in texts]
    while any(n > 0 for _, n in pend):
        for ent in pend:
            if ent[1] > 0:
                docs[i] = ent[0].split()
                ent[1] -= 1
                i += 1
    want = sorted(_span_bruteforce(docs, SPAN_K))
    assert want, "fixture produced no duplicated spans"
    # the copy-count-only dup path must actually be exercised: the 3-copy
    # group's suffix shingles are unique per-text, dup only via gsz
    assert got == want


def _brute_kcore(edges, k, rounds):
    """Python reference peeling: edges = set of frozenset pairs. Returns
    [(round, n_removed, n_remaining)] and the final core node set —
    recomputing full degrees among survivors every round (the oracle's
    HAVING recount), no incremental math."""
    alive = {n for e in edges for n in e}
    out = []
    for r in range(1, rounds + 1):
        deg = {n: 0 for n in alive}
        for a, b in (tuple(e) for e in edges):
            if a in alive and b in alive:
                deg[a] += 1
                deg[b] += 1
        survivors = {n for n in alive if deg[n] >= k}
        out.append((r, len(alive) - len(survivors), len(survivors)))
        alive = survivors
    return out, alive


def test_kcore_delta_peeling_matches_bruteforce(spark):
    """kcore_peel's incremental-degree math vs full-recount brute force on
    an adversarial graph: a 4-clique core, a chain that cascades one node
    per round, and a pendant whose removal leaves a zero-degree survivor
    that must still be counted alive for one round."""
    from poc_juma_etl_spark.plans.extra9 import kcore_peel

    # graph: clique {1,2,3,4} (deg 3 inside); chain 4-5-6-7-8 hanging off
    # the clique; star center 9 with leaves 10, 11: at k=2 the LEAVES (deg
    # 1) die in round 1, which drops center 9 to degree 0 — 9 is the
    # zero-degree SURVIVOR counted alive through round 1's recount (its
    # pre-peel degree was 2) and removed in round 2
    und = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),      # clique
        (4, 5), (5, 6), (6, 7), (7, 8),                       # cascade chain
        (9, 10), (9, 11),                                     # star
    ]
    edges = {frozenset(e) for e in und}
    K, R = 2, 6
    want_rounds, want_core = _brute_kcore(edges, K, R)

    sym_rows = [(a, b) for a, b in und] + [(b, a) for a, b in und]
    sym = spark.createDataFrame(sym_rows, "u long, v long")
    got = kcore_peel(spark, sym, K, R, len(set().union(*edges))).collect()
    got_rounds = [(r.round, r.n_removed, r.n_remaining) for r in got]
    assert got_rounds == want_rounds
    assert got[0].core_size == len(want_core)
    assert got[0].core_id_sum == sum(want_core)
    assert got[0].converged == (want_rounds[-1][1] == 0)
    # the chain must actually cascade: at least 3 distinct rounds remove >0
    assert sum(1 for _, rem, _ in want_rounds if rem > 0) >= 3


def test_kcore_zero_degree_survivor_counted_one_round(spark):
    """A node whose neighbors ALL peel in round r keeps its >=k degree
    THROUGH round r's recount (it is counted in n_r) and peels in r+1 —
    the bookkeeping the LEFT-join zero-degree branch exists for."""
    from poc_juma_etl_spark.plans.extra9 import kcore_peel

    # triangle 0-1-2 with pendants 3 (on 1) and 4 (on 2): pendants peel in
    # round 1; the triangle keeps deg 2 and survives — brute force decides
    # the trace, the Spark peel must match it round for round
    und = [(0, 1), (0, 2), (1, 2), (1, 3), (2, 4)]
    edges = {frozenset(e) for e in und}
    K, R = 2, 4
    want_rounds, want_core = _brute_kcore(edges, K, R)
    sym = spark.createDataFrame(
        [(a, b) for a, b in und] + [(b, a) for a, b in und], "u long, v long"
    )
    got = kcore_peel(spark, sym, K, R, len(set().union(*edges))).collect()
    assert [(r.round, r.n_removed, r.n_remaining) for r in got] == want_rounds
    assert got[0].core_size == len(want_core)


def test_kcore_peel_property_random_graphs(spark):
    """Hypothesis: random small graphs x random k — the delta peel's trace
    must equal full-recount brute force on every one. Bounded examples
    (each runs real Spark jobs); shrinking still localizes a failing graph."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from poc_juma_etl_spark.plans.extra9 import kcore_peel

    edge_st = st.sets(
        st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(lambda e: e[0] < e[1]),
        min_size=1,
        max_size=14,
    )

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(edges=edge_st, k=st.integers(1, 3))
    def check(edges, k):
        R = 4
        want_rounds, want_core = _brute_kcore({frozenset(e) for e in edges}, k, R)
        sym = spark.createDataFrame(
            [(a, b) for a, b in edges] + [(b, a) for a, b in edges],
            "u long, v long",
        )
        n = len(set().union(*edges))
        got = kcore_peel(spark, sym, k, R, n).collect()
        assert [(r.round, r.n_removed, r.n_remaining) for r in got] == want_rounds
        assert got[0].core_size == len(want_core)
        assert got[0].core_id_sum == sum(want_core)
        # r9: a forced edge-cache re-cut after EVERY shrinking round must
        # be trace-invisible (the cache only ever loses edges incident to
        # removed nodes — recut_threshold tunes cost, never results)
        got2 = kcore_peel(spark, sym, k, R, n, recut_threshold=1.1).collect()
        assert [(r.round, r.n_removed, r.n_remaining) for r in got2] == want_rounds
        assert got2[0].core_size == len(want_core)
        assert got2[0].core_id_sum == sum(want_core)

    check()


@pytest.mark.parametrize("name", ["q_graph_kcore", "q_graph_bfs_hops"])
def test_part_graph_node_universe_is_edge_endpoints(spark, tmp_path, name):
    """A part bought only in one-part orders has no co-purchase edge, so
    it is not a node: both oracles count edge endpoints only. Parts 1-4
    form the path 1-2-3-4; part 99 only ever ships alone."""
    import duckdb

    rows = [(1, 1), (1, 2), (2, 2), (2, 3), (3, 3), (3, 4), (4, 99)]
    _write_fixture(spark, tmp_path, rows, {p: "Brand#11" for p in (1, 2, 3, 4, 99)})
    spec = all_queries()[name]
    got = [tuple(r) for r in spec.fn(spark, str(tmp_path)).collect()]
    release_caches()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{tmp_path}/lineitem.parquet/*.parquet')"
    )
    assert got == [tuple(r) for r in con.execute(spec.oracle).fetchall()]


def test_plan_output_groups_property_random_sizes(spark):
    """Hypothesis: the Spark start-offset grouping == a Python fold for
    random per-dir file-size sequences (oversized files, zeros, ties)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from poc_juma_etl_spark.operators.compact import plan_output_groups

    @settings(max_examples=8, deadline=None)
    @given(
        sizes=st.lists(st.integers(0, 500), min_size=1, max_size=12),
        target=st.integers(1, 300),
        ndirs=st.integers(1, 3),
    )
    def check(sizes, target, ndirs):
        rows = []
        want = {}
        for d in range(ndirs):
            cum = 0
            for i, s in enumerate(sizes):
                f = f"/t/d{d}/f{i:03d}"
                rows.append((f, f"/t/d{d}", s))
                want[f] = cum // target
                cum += s
        meta = spark.createDataFrame(rows, "__fpath string, __pdir string, __bytes long")
        got = {
            r["__fpath"]: r["__grp"]
            for r in plan_output_groups(meta, target).collect()
        }
        assert got == want

    check()
