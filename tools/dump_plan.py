"""Dump .explain('formatted') for named queries to plans/<round>/<query>_<tag>.txt.

    python tools/dump_plan.py r13 before q_graph_pagerank q_ann_pq_topk ...

Run at sf0.1 (the bench SF) so AQE/size-dependent choices match the bench.
"""
from __future__ import annotations

import contextlib
import io
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> None:
    rnd, tag, *names = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    from poc_juma_etl_spark import all_queries
    from poc_juma_etl_spark.session import get_spark
    from poc_juma_etl_spark.plans.queries import release_caches

    specs = all_queries()
    spark = get_spark(f"plan-dump-{rnd}")
    out_dir = REPO / "plans" / rnd
    out_dir.mkdir(parents=True, exist_ok=True)
    for name in names:
        df = specs[name].fn(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        (out_dir / f"{name}_{tag}.txt").write_text(buf.getvalue())
        release_caches()
        print(f"wrote {name}_{tag}.txt")
    spark.stop()


if __name__ == "__main__":
    main()
