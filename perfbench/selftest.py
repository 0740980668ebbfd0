"""Self-test of the correctness gate: a lake built through the real stream
passes it, and a copy of that lake with one row corrupted fails it."""

from __future__ import annotations

import glob
import json
import os
import shutil


def self_test(repo: str, work: str) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cdc_spark.config import EngineConfig
    from cdc_spark.lake import LakeTable
    from cdc_spark.loggen import change_log, to_frames, write_segments
    from cdc_spark.stream import run_to_completion
    from run import KEYSPACE, make_session, oracle_mismatches, stop_session

    base = os.path.join(work, "selftest")
    shutil.rmtree(base, ignore_errors=True)
    spark = make_session(repo, work)
    try:
        log = change_log(spark, 3000, seed=3, **KEYSPACE)
        log.write.parquet(os.path.join(base, "log"))
        write_segments(to_frames(log), os.path.join(base, "wal"),
                       seg_size=1000)
        cfg = EngineConfig(lake_root=os.path.join(base, "lake"),
                           checkpoint=os.path.join(base, "ckpt"),
                           n_buckets=4, shuffle_partitions=4)
        run_to_completion(spark, os.path.join(base, "wal"), cfg, framed=True)
        root = os.path.join(base, "lake", "repos")
        log_pdf = spark.read.parquet(os.path.join(base, "log")).toPandas()
        clean, keys, _ = oracle_mismatches(LakeTable(spark, root), log_pdf)

        copy = os.path.join(base, "corrupt")
        shutil.copytree(root, copy)
        lake = LakeTable(spark, copy)
        corrupted = None
        for f in lake.meta["files"]:
            path = os.path.join(copy, f["path"])
            t = pq.read_table(path)
            rows = t.to_pylist()
            live = [i for i, r in enumerate(rows) if not r.get("_deleted")]
            if live:
                rows[live[0]]["content"] += "#corrupt"
                pq.write_table(pa.Table.from_pylist(rows, schema=t.schema),
                               path)
                corrupted = path
                break
        # the copy's data is read back from fresh files, never a cache
        for crc in glob.glob(os.path.join(os.path.dirname(corrupted),
                                          ".*.crc")):
            os.remove(crc)
        fired, _, _ = oracle_mismatches(LakeTable(spark, copy), log_pdf)
    finally:
        stop_session(spark)
    ok = clean == 0 and fired == 1
    print(json.dumps({"self_test": {"oracle_keys": keys,
                                    "clean_mismatches": clean,
                                    "corrupted_mismatches": fired,
                                    "gate_fires": ok}}))
    return 0 if ok else 1
