"""Per-layer metrics of a traced run, from the spans the benchmark recorded
around the program's entry points and from Spark's own accounting."""

from __future__ import annotations

import dataclasses
import json
import os
import statistics
import time

from spans import Span, job_costs, self_times, subtree

STRATEGIES = ("join", "agg", "chunked", "mixed", "append")


def _median(vals) -> float:
    return float(statistics.median(vals)) if vals else 0.0


def _stream_tree(spans: list[Span], progress: list[dict]) -> list[Span]:
    """One synthetic ``stream.trigger`` span per microbatch (from
    ``StreamingQueryProgress``) as the parent of the spans its foreachBatch
    opened, so trigger self time is the engine's own per-batch work."""
    out = list(spans)
    next_id = max((s.sid for s in spans), default=0) + 1
    top = [s for s in spans if s.parent is None and s.name != "lake.lookup"]
    for pr in progress:
        start = pr["start"]
        end = start + pr["d"].get("triggerExecution", 0) / 1000.0
        trig = Span(next_id, "stream.trigger", start, end, None, 0, "stream",
                    pr["batch"])
        next_id += 1
        for s in top:
            if s.parent is None and start - 0.01 <= s.start <= end + 0.01:
                s.parent = trig.sid
        out.append(trig)
    return out


def decode_pass(spark, meta: dict, segs, cache: str, run_dir: str) -> float:
    """Decode the segments ``segs`` of the workload's wire input once to a
    ``noop`` sink."""
    from cdc_spark.parse import parse_frames
    from cdc_spark.pgoutput import PgOutputDecoder
    from cdc_spark.sources import BINARY_DDL, FRAMED_DDL

    path = [os.path.join(cache, "wal", f"seg={k}") for k in segs]
    if meta["wire"] == "framed":
        df = parse_frames(spark.read.schema(FRAMED_DDL).parquet(*path))
    else:
        dec = PgOutputDecoder(os.path.join(run_dir, "decode_pass",
                                           "relations.json"))
        df = dec(spark.read.schema(BINARY_DDL).parquet(*path))
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def per_layer(spark, tracer, res, workload: str, meta: dict, cache: str,
              run_dir: str, spans_path: str) -> tuple[dict, dict]:
    """(per-layer metrics, attribution checks) of the measured phase; its
    spans, with the job each Spark job was attributed to, go to
    ``spans_path``."""
    t0, t1 = res.t_measure0 - 0.25, res.t_done
    spans = [s for s in tracer.spans if s.start >= t0 and s.end <= t1 + 1]
    spans = _stream_tree(spans, res.progress)
    selfs = self_times(spans)
    jobs = job_costs(spark.sparkContext, t0, t1, spans)
    with open(spans_path, "w") as fh:
        json.dump({"spans": [dataclasses.asdict(s) for s in spans],
                   "jobs": [dataclasses.asdict(j) for j in jobs]}, fh,
                  default=str)
    by_name: dict[str, list[Span]] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)

    def named(n):
        return by_name.get(n, [])

    def dur(n):
        return sum(s.dur for s in named(n))

    def jobs_in(ids: set[int]):
        return [j for j in jobs if j.sid in ids]

    def ids(n):
        return {s.sid for s in named(n)}

    m: dict[str, float] = {}
    d = [pr["d"] for pr in res.progress]
    m["stream.overhead_s"] = sum(
        x.get("triggerExecution", 0) - x.get("addBatch", 0) for x in d) / 1e3
    m["stream.latest_offset_ms_p50"] = _median([x.get("latestOffset", 0)
                                                for x in d])
    m["stream.wal_commit_ms_p50"] = _median([x.get("walCommit", 0) for x in d])
    m["stream.commit_offsets_ms_p50"] = _median([x.get("commitOffsets", 0)
                                                 for x in d])
    m["stream.batches"] = len(d)

    # pgoutput needs the log from its first segment (the Relation
    # messages); the framed wire of live_tail decodes from any segment
    segs = sorted(res.seg_cover) if workload == "live_tail" else meta["segs"]
    decode_s = decode_pass(spark, meta, segs, cache, run_dir)
    framed = meta["wire"] == "framed"
    m["parse.decode_s"] = decode_s if framed else 0.0
    m["pgoutput.decode_s"] = 0.0 if framed else decode_s
    m["pgoutput.relation_merge_s"] = dur("pgoutput.relation_merge")

    apply_ids = ids("apply")
    aj = jobs_in(apply_ids)
    m["apply.batch_s_p50"] = _median([s.dur for s in named("apply")])
    m["apply.self_s"] = sum(selfs[i] for i in apply_ids)
    m["apply.self_jobs"] = len(aj)
    m["apply.self_shuffle_write_bytes"] = sum(j.shuffle_write_bytes
                                              for j in aj)
    m["apply.self_executor_run_s"] = sum(j.executor_run_s for j in aj)

    picks = [s.attrs.get("strategy") for s in named("dedup")]
    m["dedup.narrow_picks"] = picks.count("narrow")
    m["dedup.wide_picks"] = picks.count("wide")

    mj = jobs_in(ids("lake.merge"))
    m["lake.merge_s"] = dur("lake.merge")
    m["lake.merge_jobs"] = len(mj)
    m["lake.merge_input_bytes"] = sum(j.input_bytes for j in mj)
    m["lake.merge_output_bytes"] = sum(j.output_bytes for j in mj)
    m["lake.merge_shuffle_write_bytes"] = sum(j.shuffle_write_bytes
                                              for j in mj)
    m["lake.files_written"] = sum(s.attrs.get("files_written", 0)
                                  for s in named("lake.merge"))
    strat = [s.attrs.get("strategy") for s in named("lake.merge")]
    for st in STRATEGIES:
        m[f"lake.strategy_{st}"] = strat.count(st)

    lake = res.lake.refresh()
    m["lake.files_live"] = len(lake.meta["files"])
    lk = res.lookups
    m["lake.lookup_files_read_p50"] = _median(lk.files_read)
    m["lake.lookup_s_p50"] = _median([s.dur for s in named("lake.lookup")])

    m["lake.compact_s"] = dur("lake.compact.main")
    m["lake.compact_output_bytes"] = sum(
        j.output_bytes for j in jobs_in(ids("lake.compact.main")))
    m["lake.expire_s"] = dur("lake.expire.main")

    upd = subtree(spans, ids("dedupe_index.update"))
    uj = jobs_in(upd)
    m["dedupe_index.update_s"] = dur("dedupe_index.update")
    m["dedupe_index.jobs"] = len(uj)
    m["dedupe_index.shuffle_write_bytes"] = sum(j.shuffle_write_bytes
                                                for j in uj)
    m["dedupe_index.executor_run_s"] = sum(j.executor_run_s for j in uj)
    m["dedupe_index.pairs_merge_s"] = dur("dedupe_index.pairs_merge")

    total = sum(j.executor_run_s for j in jobs)
    unattributed = sum(j.executor_run_s for j in jobs if j.sid is None)
    m["spark.executor_run_s"] = total
    m["spark.gc_s"] = sum(j.gc_s for j in jobs)
    m["spark.jobs"] = len(jobs)
    m["spark.unattributed_executor_s"] = unattributed

    # attribution check: executor time covered by spans, and span self
    # times against the measured wall time of the stream
    stream_ids = subtree(spans, ids("stream.trigger"))
    stream_self = sum(selfs[i] for i in stream_ids)
    wall = res.t_end - res.t_measure0
    checks = {
        "executor_attributed_share": (1 - unattributed / total) if total
        else 1.0,
        "executor_attributed_ok": total == 0 or unattributed <= 0.05 * total,
        "stream_span_self_s": stream_self,
        "measured_wall_s": wall,
        "stream_self_over_wall": stream_self / wall if wall else 0.0,
    }
    if workload == "live_tail":
        # open loop: the stream waits for the publisher between triggers
        checks["stream_idle_s"] = wall - stream_self
        checks["self_time_ok"] = stream_self <= wall * 1.05
    else:
        checks["self_time_ok"] = abs(stream_self - wall) <= 0.05 * wall
    return m, checks
