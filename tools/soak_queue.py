"""sf1 re-soak for the registration QUEUE (r10 verdict #2: keep the
queue's soak evidence fresh each round so every drain stays a one-commit
registry edit). Covers the round-13 queue (four format gates built r11)
and the round-14 queue (per-brand triangle census, naive Bayes, zipf
profile, built r12), each with full Spark-vs-DuckDB value parity against
the replicated sf1 fixture; prints wall times — the same evidence the
on-arrival rule records for registered gates.

Usage: SPARK_GRAFT_DRIVER_MEM=64g python tools/soak_queue.py [sf_dir] [names...]
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

import duckdb  # noqa: E402

SF = sys.argv[1] if len(sys.argv) > 1 else "/tmp/soak_sf1"


def main() -> int:
    from poc_juma_etl_spark.plans.queries import release_caches
    from poc_juma_etl_spark.session import get_spark

    spark = get_spark("soak-queue")
    con = duckdb.connect()
    for p in sorted(Path(SF).glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")

    from poc_juma_etl_spark.operators.graph import (
        BRAND_TRIANGLES_ORACLE,
        q_graph_brand_triangles,
    )
    from poc_juma_etl_spark.operators.lm import (
        NB_LANGID_ORACLE,
        q_ml_naive_bayes_langid,
    )
    from poc_juma_etl_spark.operators.text import (
        ZIPF_PROFILE_ORACLE,
        q_text_zipf_profile,
    )
    from poc_juma_etl_spark.operators.mp3 import (
        MP3_FILE_ORACLE,
        MP3_ORACLE,
        etl_mp3_file_probe_e2e,
        q_multimodal_mp3_probe,
    )
    from poc_juma_etl_spark.operators.tar import (
        TAR_ORACLE,
        TAR_SHARD_ORACLE,
        etl_tar_shard_ingest_e2e,
        q_multimodal_tar_ingest,
    )

    jobs = [
        # round-13 queue (format gates, built r11)
        ("q_multimodal_mp3_probe", q_multimodal_mp3_probe, MP3_ORACLE),
        ("etl_mp3_file_probe_e2e", etl_mp3_file_probe_e2e, MP3_FILE_ORACLE),
        ("q_multimodal_tar_ingest", q_multimodal_tar_ingest, TAR_ORACLE),
        ("etl_tar_shard_ingest_e2e", etl_tar_shard_ingest_e2e, TAR_SHARD_ORACLE),
        # round-14 queue (built r12)
        ("q_graph_brand_triangles", q_graph_brand_triangles, BRAND_TRIANGLES_ORACLE),
        ("q_ml_naive_bayes_langid", q_ml_naive_bayes_langid, NB_LANGID_ORACLE),
        ("q_text_zipf_profile", q_text_zipf_profile, ZIPF_PROFILE_ORACLE),
    ]
    if len(sys.argv) > 2:
        want = set(sys.argv[2:])
        jobs = [j for j in jobs if j[0] in want]
    failures = 0
    for name, fn, oracle in jobs:
        t0 = time.time()
        got = [tuple(r) for r in fn(spark, SF).collect()]
        spark_s = time.time() - t0
        release_caches()
        t0 = time.time()
        want_rows = [tuple(r) for r in con.execute(oracle).fetchall()]
        duck_s = time.time() - t0
        ok = got == want_rows
        failures += 0 if ok else 1
        print(
            f"{name}: {'HASH-GREEN' if ok else 'MISMATCH'} "
            f"rows={len(got)} spark={spark_s:.1f}s duckdb={duck_s:.1f}s",
            flush=True,
        )
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
