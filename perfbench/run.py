"""Streaming CDC benchmark: WAL segments -> file_segments_source ->
start_stream (foreachBatch) -> CdcApply.apply_batch -> dedup ->
LakeTable.merge -> manifest commit, on three workloads.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload
    python3 perfbench/run.py --self-test                  # the gate fires

Run it from the repository root. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The line
before it is a report with the ungated figures (input generation time,
generator lateness, failed-op share, attribution check, tracing overhead).
Workloads, layers and the per-layer -> end-to-end map: ``README.md``.
"""

from __future__ import annotations

import argparse
import bisect
import glob
import json
import os
import resource
import shutil
import subprocess
import sys
import threading
import time

T_PROCESS = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

CORES = min(2, os.cpu_count() or 1)
DRIVER_MEMORY = "3g"
CACHE_VERSION = 6
WORKLOAD_NAMES = ("backfill", "live_tail", "wide_neardup")

# Input shape per workload; event counts scale with --seconds.
KEYSPACE = dict(n_repos=2000, n_paths=200, zipf=2.0, delete_rate=0.05,
                dup_rate=0.01)
SHAPES = {
    "backfill": dict(wire="framed", events_per_s=6000, seg_events=6000,
                     files_per_trigger=4, content_repeat=1, lookups=6),
    "live_tail": dict(wire="framed", bootstrap_events=12000,
                      seg_events=250, trigger_s=8, segs_per_trigger=8,
                      publish_interval_s=0.8, quiet_s=1.6, read_interval_s=4.0,
                      compact_every=2, content_repeat=1),
    "wide_neardup": dict(wire="pgoutput", events_per_s=500, seg_events=2000,
                         files_per_trigger=4, content_repeat=32, lookups=2),
}
LOOKUP_ZIPF = 1.1
READER_THREADS = 4


def fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def peak_rss_mb(spark) -> float:
    """VmHWM of the JVM plus the Python driver's max RSS."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def mount_of(path: str) -> str:
    """'tmpfs' or the filesystem type holding ``path``."""
    best, fstype = "", "unknown"
    real = os.path.realpath(path)
    with open("/proc/mounts") as fh:
        for line in fh:
            parts = line.split()
            mnt = parts[1]
            if real == mnt or real.startswith(mnt.rstrip("/") + "/"):
                if len(mnt) > len(best):
                    best, fstype = mnt, parts[2]
    return fstype


def to_pandas(df):
    """``df.toPandas()`` through Arrow, without leaving the setting on for
    the program under test."""
    conf = df.sparkSession.conf
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = conf.get(key)
    conf.set(key, "true")
    try:
        return df.toPandas()
    finally:
        conf.set(key, old)


def percentile(values, q: float) -> float:
    import numpy as np

    return float(np.percentile(values, q)) if len(values) else 0.0


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------


def make_session(repo: str, work: str):
    local_dir = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local_dir, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    # the Python workers (pgoutput decode/encode run in mapInPandas) import
    # cdc_spark, so the repository must be on their path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [repo] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p]
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    # no hsperfdata files in the system temp dir, for the launcher JVM too
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.default.parallelism", str(CORES))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # readers get their own pool, so a lookup waits for a free core,
        # not for every queued task of the batch being applied
        .config("spark.scheduler.mode", "FAIR")
        # the status store must keep every job/stage of a run, traced or
        # not, so the same values go into both runs
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.ui.retainedExecutions", "100")
        .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
        .config("spark.local.dir", local_dir)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process to exit (it exits when its
    stdin, the gateway's lifeline, closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def session_config(work: str) -> dict:
    return {
        "master": f"local[{CORES}]",
        "shuffle_partitions": CORES,
        "driver_memory": DRIVER_MEMORY,
        "show_console_progress": False,
        "python_workers_pythonpath": "repository root",
        "local_dir": os.path.join(".bench_work", "spark-local"),
        "local_dir_fs": mount_of(work),
    }


# ---------------------------------------------------------------------------
# inputs: generated once per (workload, seed, size), cached on disk
# ---------------------------------------------------------------------------


def _log(spark, n: int, seed: int, *, start_lsn=1, schema_changes=None,
         content_repeat=1):
    from cdc_spark.loggen import change_log

    return change_log(
        spark, n, seed=seed, start_lsn=start_lsn,
        schema_changes=schema_changes, content_repeat=content_repeat,
        **KEYSPACE,
    )


def _write_wire(log, wire: str, path: str | None, seg_events: int,
                schema_changes=None) -> None:
    """Write the log in the workload's wire format as ``seg=K`` dirs, or
    with ``path`` None encode it to a ``noop`` sink."""
    from cdc_spark.loggen import to_frames, write_segments
    from cdc_spark.pgoutput import encode_envelope

    data = to_frames(log) if wire == "framed" else encode_envelope(
        log, schema_changes
    )
    if path is None:
        data.write.format("noop").mode("overwrite").save()
    else:
        write_segments(data, path, seg_size=seg_events)


def live_segments(seconds: int) -> int:
    """Segments ``live_tail`` publishes: the warm-up segment, then
    ``segs_per_trigger`` per measured trigger interval."""
    return 1 + measured_batches(seconds) * SHAPES["live_tail"][
        "segs_per_trigger"]


def measured_batches(seconds: int) -> int:
    """Trigger intervals of ``live_tail`` measured: ``seconds`` rounded up
    to whole maintenance cycles (``compact_every`` batches)."""
    shape = SHAPES["live_tail"]
    cycle = shape["compact_every"] * shape["trigger_s"]
    return max(1, -(-seconds // cycle)) * shape["compact_every"]


def seg_max_lsn(lsns, seg_events: int) -> dict:
    """``{K: max lsn}`` of the ``seg=K`` dirs ``write_segments`` makes
    (in-order delivery: segment = lsn // size)."""
    return {int(k): int(v) for k, v in
            lsns.groupby(lsns // seg_events).max().items()}


def segment_rows(wal: str, segs) -> dict:
    """``{K: rows}`` of the written ``seg=K`` dirs, from parquet footers."""
    import pyarrow.parquet as pq

    return {k: sum(pq.ParquetFile(f).metadata.num_rows for f in
                   glob.glob(os.path.join(wal, f"seg={k}", "*.parquet")))
            for k in segs}


def schema_changes_for(n: int) -> dict:
    """One add-column and one retype, mid-log."""
    return {
        n // 3: {"action": "add", "column": "stars", "type": "long"},
        (2 * n) // 3: {"action": "retype", "column": "stars",
                       "type": "string"},
    }


def prepare_inputs(spark, workload: str, seed: int, seconds: int,
                   cache_root: str):
    """The workload's envelope log and its segment files (written once per
    key). The log is rebuilt and encoded in every run, to a ``noop`` sink
    when the segments are cached, so set-up starts from the same JVM state
    (JIT, Python workers) either way. Returns ``(meta, log_pdf)``;
    ``meta["generated_s"]`` is the time spent."""
    shape = SHAPES[workload]
    if workload == "live_tail":
        n_live = live_segments(seconds) * shape["seg_events"]
        n = shape["bootstrap_events"] + n_live - 1
    else:
        # whole segments (LSNs start at 1, so seg=0 holds one event less):
        # the warm-up segment plus the measured ones
        seg = shape["seg_events"]
        n = (1 + max(1, shape["events_per_s"] * seconds // seg)) * seg - 1
    t0 = time.time()
    changes = schema_changes_for(n) if shape["wire"] == "pgoutput" else None
    log = _log(spark, n, seed, schema_changes=changes,
               content_repeat=shape["content_repeat"])
    log_pdf = to_pandas(log)
    key = f"{workload}-seed{seed}-n{n}-v{CACHE_VERSION}"
    d = os.path.join(cache_root, key)
    meta_path = os.path.join(d, "meta.json")
    cached = os.path.exists(meta_path)
    if cached:
        _write_wire(log, shape["wire"], None, shape["seg_events"], changes)
    else:
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        wal = os.path.join(d, "wal")
        lsns = log_pdf["lsn"].drop_duplicates()
        segs = seg_max_lsn(lsns, shape["seg_events"])
        _write_wire(log, shape["wire"], wal, shape["seg_events"], changes)
        meta = {"key": key, "n_events": n, "wire": shape["wire"],
                "schema_changes": changes, "segs": segs,
                "seg_rows": segment_rows(wal, segs)}
        with open(meta_path, "w") as fh:
            json.dump(meta, fh)
    with open(meta_path) as fh:
        meta = json.load(fh)
    meta["generated_s"] = time.time() - t0
    meta["cached"] = cached
    return meta, log_pdf


# ---------------------------------------------------------------------------
# correctness: oracle replay over the exact generated log
# ---------------------------------------------------------------------------


class History:
    """Per-key event history (LSN order) of the generated log: the expected
    answer of a lookup against a lake whose ``lsn_hwm`` is known."""

    def __init__(self, log_pdf):
        dml = log_pdf[log_pdf["op"].isin(["insert", "update", "delete"])]
        dml = dml.drop_duplicates(subset=["lsn"]).sort_values("lsn")
        self.events: dict = {}
        for repo, path, lsn, op, commit in zip(
            dml["repo"], dml["path"], dml["lsn"], dml["op"], dml["commit"]
        ):
            self.events.setdefault((repo, path), ([], []))
            self.events[(repo, path)][0].append(int(lsn))
            self.events[(repo, path)][1].append(None if op == "delete"
                                                else commit)
        counts = dml.groupby(["repo", "path"]).size().sort_values(
            ascending=False, kind="stable")
        self.keys_by_heat = [tuple(k) for k in counts.index]

    def expect(self, key, hwm: int):
        """The live ``commit`` of ``key`` at ``hwm``, or None if absent."""
        lsns, commits = self.events.get(key, ([], []))
        i = bisect.bisect_right(lsns, hwm)
        return commits[i - 1] if i else None


def oracle_mismatches(lake, log_pdf) -> tuple[int, int, int]:
    """(mismatched keys, oracle keys, live lake rows) of the final live lake vs
    ``oracle.replay`` with ``oracle.assert_matches`` semantics: the final
    schema's columns plus sha256(content), compared per key."""
    import hashlib

    from cdc_spark.config import BASE_FIELDS
    from cdc_spark.oracle import assert_matches, replay

    want = replay(log_pdf, list(BASE_FIELDS))
    got = to_pandas(lake.read())
    cols = [c for c in want.columns if c != "_lsn"]
    if "content" in cols and "content_sha256" not in got.columns:
        got["content_sha256"] = got["content"].map(
            lambda c: hashlib.sha256(c.encode()).hexdigest()
            if c is not None else None
        )
    missing = [c for c in cols if c not in got.columns]
    if missing:
        return max(len(want), 1), max(len(want), 1), len(got)

    def norm(v):
        if v is None:
            return None
        try:
            if v != v:  # NaN from a nullable numeric column
                return None
        except (TypeError, ValueError):
            pass
        if hasattr(v, "item"):
            v = v.item()
        if isinstance(v, float) and v.is_integer():
            v = int(v)
        return str(v)

    def rows(pdf):
        return {
            (r[0], r[1]): tuple(norm(x) for x in r[2:])
            for r in pdf[["repo", "path"] + [c for c in cols
                                             if c not in ("repo", "path")]]
            .itertuples(index=False, name=None)
        }

    a, b = rows(got), rows(want)
    bad = sum(1 for k in a.keys() | b.keys() if a.get(k) != b.get(k))
    if bad == 0:
        try:
            assert_matches(got, want)  # the oracle's own comparison agrees
        except AssertionError as e:
            print(f"perfbench: oracle.assert_matches: {e}", file=sys.stderr)
            bad = 1
    return bad, max(len(b), 1), len(got)


# ---------------------------------------------------------------------------
# workload runs
# ---------------------------------------------------------------------------


def engine_config(base: str, workload: str):
    from cdc_spark.config import EngineConfig

    shape = SHAPES[workload]
    return EngineConfig(
        lake_root=os.path.join(base, "lake"),
        checkpoint=os.path.join(base, "ckpt"),
        n_buckets=16,
        shuffle_partitions=CORES,
        max_files_per_trigger=shape.get("files_per_trigger"),
        neardup_index=workload == "wide_neardup",
        compact_every=shape.get("compact_every", 0),
    )


def source_conf(wal: str, workload: str) -> dict:
    return {"path": wal, "wire_format": SHAPES[workload]["wire"]}


def copy_segments(src: str, dst: str, segs) -> None:
    os.makedirs(dst, exist_ok=True)
    for k in segs:
        shutil.copytree(os.path.join(src, f"seg={k}"),
                        os.path.join(dst, f"seg={k}"))


def cover_times(tracer, seg_max: dict) -> dict:
    """seg -> (time, batch id) of the first apply_batch return whose lake
    lsn_hwm covers the segment's max LSN."""
    out = {}
    rets = sorted(tracer.batch_returns)
    for k, m in seg_max.items():
        for t, bid, hwm in rets:
            if hwm >= m:
                out[int(k)] = (t, bid)
                break
    return out


class Lookups:
    """Zipf-drawn point lookups, each checked against the key's history at
    the lake version it read. ``draw`` runs on one thread; ``run`` may run
    on several at once."""

    def __init__(self, spark, lake_root: str, history: History, seed: int,
                 tracer):
        import numpy as np

        self.spark = spark
        self.root = lake_root
        self.history = history
        self.tracer = tracer
        n = len(history.keys_by_heat)
        w = 1.0 / np.arange(1, n + 1) ** LOOKUP_ZIPF
        self.rng = np.random.default_rng(seed)
        self.cdf = np.cumsum(w / w.sum())
        self.latency_s: list[float] = []
        self.files_read: list[int] = []
        self.failed = 0
        self.n = 0
        self._lock = threading.Lock()

    def draw(self) -> tuple[tuple, str]:
        i = int(self.cdf.searchsorted(self.rng.random()))
        key = self.history.keys_by_heat[min(i, len(self.cdf) - 1)]
        self.n += 1
        return key, f"lookup-{self.n - 1}"

    def run(self, key: tuple, rid: str, due: float) -> None:
        from cdc_spark.lake import LakeTable

        ok, files = False, None
        try:
            with self.tracer.span("lake.lookup", rid=rid):
                lake = LakeTable(self.spark, self.root)
                hwm = lake.last_batch["lsn_hwm"]
                rows = lake.lookup(key).collect()
            want = self.history.expect(key, hwm)
            if want is None:
                ok = len(rows) == 0
            else:
                ok = (len(rows) == 1 and (rows[0]["repo"], rows[0]["path"])
                      == key and rows[0]["commit"] == want)
            if self.tracer.enabled:
                files = len(lake.files_for_key_values([key[0]]))
        except Exception as e:  # a failed lookup counts; the run goes on
            print(f"perfbench: lookup {rid} raised: {e!r}", file=sys.stderr)
        latency = time.time() - due
        with self._lock:
            self.latency_s.append(latency)
            if files is not None:
                self.files_read.append(files)
            if not ok:
                self.failed += 1

    def warm_up(self) -> None:
        """One lookup of the hottest key, checked but not recorded."""
        from cdc_spark.lake import LakeTable

        key = self.history.keys_by_heat[0]
        lake = LakeTable(self.spark, self.root)
        hwm = lake.last_batch["lsn_hwm"]
        rows = lake.lookup(key).collect()
        want = self.history.expect(key, hwm)
        if (len(rows) != (want is not None)
                or (rows and rows[0]["commit"] != want)):
            self.failed += 1
            self.n += 1

    def one(self, due: float) -> None:
        key, rid = self.draw()
        self.run(key, rid, due)


class Result:
    def __init__(self):
        self.t_start = 0.0
        self.t_measure0 = 0.0
        self.t_end = 0.0
        self.t_done = 0.0
        self.events = 0
        self.committed_rows = 0
        self.input_rows = 0
        self.seg_publish: dict = {}
        self.seg_cover: dict = {}
        self.lookups: Lookups | None = None
        self.late_s: list[float] = []
        self.read_late_s: list[float] = []
        self.segments = 0
        self.segments_committed = 0
        self.batches = 0
        self.batch_failures = 0
        self.progress: list[dict] = []
        self.lake = None
        self.setup_s = 0.0
        self.live_rows = 0
        self.idle_s = 0.0

    def finish(self, q, applier, tracer, seg_rows: dict, segs: dict):
        """Collect the measured phase: the segments ``segs`` ({K: max
        LSN}) and the batches that commit them. ``seg_publish`` holds the
        publish time of each segment of an open loop; in a closed loop
        every segment is there from the query start (``t_start``). The
        phase starts at the first publish. ``committed_rows`` counts the
        rows of the measured segments from the segment files:
        ``numInputRows`` counts a source row once per job that scans it
        (the pgoutput decode scans each batch twice)."""
        self.lake = applier.lake_for("repos")
        covers = cover_times(tracer, segs)
        self.segments, self.segments_committed = len(segs), len(covers)
        self.seg_cover = {k: t for k, (t, _) in covers.items()}
        self.seg_publish = {k: self.seg_publish.get(k, self.t_start)
                            for k in self.seg_cover}
        self.t_measure0 = min(self.seg_publish.values(), default=self.t_start)
        self.t_end = max(self.seg_cover.values(), default=time.time())
        self.committed_rows = self.events = sum(seg_rows[str(k)]
                                                for k in self.seg_cover)
        first_batch = min((b for _, b in covers.values()), default=0)
        self.progress = [p for p in progress_after(q, first_batch)
                         if p["start"] < self.t_end]
        self.input_rows = sum(p["rows"] for p in self.progress)
        self.batches = len(self.progress)


def progress_after(q, first_batch: int) -> list[dict]:
    """Progress of the data batches with id >= ``first_batch``."""
    from datetime import datetime, timezone

    out = []
    for pr in q.recentProgress:
        if pr.batchId < first_batch or pr.numInputRows == 0:
            continue
        ts = datetime.strptime(pr.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
        out.append({"start": ts.replace(tzinfo=timezone.utc).timestamp(),
                    "rows": pr.numInputRows, "d": dict(pr.durationMs),
                    "batch": pr.batchId})
    return out


def wait_covered(tracer, q, hwm: int, timeout: float) -> bool:
    """Wait until an apply_batch return covers ``hwm``."""
    deadline = time.time() + timeout
    while not any(h >= hwm for _, _, h in tracer.batch_returns):
        if time.time() > deadline or q.exception() is not None:
            return False
        time.sleep(0.02)
    return True


def run_closed(spark, workload, meta, cache, run_dir, tracer, history, seed,
               res: Result) -> float:
    """Closed loop: drain the whole backlog with ``availableNow``. The first
    segment is the untimed warm-up batch; returns its time (set-up)."""
    from cdc_spark.stream import start_stream

    wal = os.path.join(run_dir, "wal")
    segs = {int(k): v for k, v in meta["segs"].items()}
    first = min(segs)
    cfg = engine_config(run_dir, workload)
    conf = source_conf(wal, workload)

    t_warm = time.time()
    copy_segments(os.path.join(cache, "wal"), wal, [first])
    q, _ = start_stream(spark, None, cfg, source_conf=conf)
    q.awaitTermination()
    warm_s = time.time() - t_warm
    del segs[first]

    copy_segments(os.path.join(cache, "wal"), wal, segs)
    res.t_start = time.time()
    q, applier = start_stream(spark, None, cfg, source_conf=conf)
    try:
        q.awaitTermination()
    except Exception as e:
        res.batch_failures += 1
        print(f"perfbench: stream failed: {e!r}", file=sys.stderr)
    res.finish(q, applier, tracer, meta["seg_rows"], segs)
    # a short read phase on the drained lake, outside the ingest timing
    lk = Lookups(spark, cfg.lake_root + "/repos", history, seed, tracer)
    for _ in range(SHAPES[workload]["lookups"]):
        lk.one(time.time())
    res.lookups = lk
    return warm_s


def run_live(spark, workload, meta, cache, run_dir, tracer, history, seed,
             res: Result) -> tuple[float, float]:
    """Open loop against a bootstrapped lake, triggered every ``trigger_s``.
    Set-up: the bootstrap batch, then one segment as the untimed warm-up
    batch (it compacts) and one untimed lookup. Measured: for
    ``measured_batches`` trigger intervals from the next trigger tick on,
    a publisher moves ``segs_per_trigger`` segments into the watched
    directory, one every ``publish_interval_s``, and a reader dispatches
    a lookup every ``read_interval_s`` until the last of them commits.
    Spark fires processing-time triggers on multiples of the interval
    since the epoch; the publisher leaves the first ``quiet_s`` after each
    tick free, while the source lists the directory, so every measured
    batch takes the same segments in every run. Returns (bootstrap,
    warm-up) times (set-up)."""
    from cdc_spark.stream import start_stream

    shape = SHAPES[workload]
    wal = os.path.join(run_dir, "wal")
    stage = os.path.join(run_dir, "stage")
    # the bootstrap is the segments below bootstrap_events
    nb = shape["bootstrap_events"] // shape["seg_events"]
    segs = {int(k): v for k, v in meta["segs"].items()}
    boot = {k: v for k, v in segs.items() if k < nb}
    live = {k: v for k, v in segs.items() if k >= nb}
    copy_segments(os.path.join(cache, "wal"), wal, boot)
    copy_segments(os.path.join(cache, "wal"), stage, live)
    cfg = engine_config(run_dir, workload)
    trigger = shape["trigger_s"]

    def publish(k: int) -> float:
        src, dst = (os.path.join(stage, f"seg={k}"),
                    os.path.join(wal, f"seg={k}"))
        now = time.time()
        for f in glob.glob(os.path.join(src, "*")):
            os.utime(f, (now, now))
        os.rename(src, dst)
        return now

    t_boot = time.time()
    q, applier = start_stream(spark, None, cfg, available_now=False,
                              processing_time=f"{trigger} seconds",
                              source_conf=source_conf(wal, workload))
    if not wait_covered(tracer, q, max(boot.values()), 150):
        q.stop()
        fail("live_tail bootstrap did not complete", 1)
    bootstrap_s = time.time() - t_boot

    warm, *measured = sorted(live)
    t_warm = publish(warm)
    if not wait_covered(tracer, q, live[warm], 120):
        q.stop()
        fail("live_tail warm-up batch did not complete", 1)
    lk = Lookups(spark, cfg.lake_root + "/repos", history, seed, tracer)
    # one untimed lookup: the first one in a JVM takes about three times
    # as long, and would slow whichever batch it ran beside
    lk.warm_up()
    warm_s = time.time() - t_warm

    # the first publish follows the next trigger tick
    t0 = (time.time() // trigger + 1) * trigger + shape["quiet_s"]
    res.t_start = t0
    res.idle_s = t0 - time.time()
    stop = threading.Event()

    def publisher():
        per = shape["segs_per_trigger"]
        for j, k in enumerate(measured):
            due = (t0 + j // per * trigger
                   + j % per * shape["publish_interval_s"])
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            now = publish(k)
            res.seg_publish[k] = now
            res.late_s.append(now - due)

    def reader():
        # open loop: each lookup is dispatched when due, whether or not
        # the earlier ones have returned (independent readers)
        from concurrent.futures import ThreadPoolExecutor

        def lookup(key, rid, due):
            sc.setLocalProperty("spark.scheduler.pool", "readers")
            lk.run(key, rid, due)

        sc = spark.sparkContext
        with ThreadPoolExecutor(READER_THREADS,
                                thread_name_prefix="lookup") as pool:
            futures, i = [], 0
            while True:
                due = t0 + i * shape["read_interval_s"]
                delay = due - time.time()
                if delay > 0 and stop.wait(delay):
                    break
                key, rid = lk.draw()
                res.read_late_s.append(max(0.0, time.time() - due))
                futures.append(pool.submit(lookup, key, rid, due))
                i += 1
            for f in futures:
                f.result()

    threads = [threading.Thread(target=publisher, name="publisher"),
               threading.Thread(target=reader, name="reader")]
    for t in threads:
        t.start()
    threads[0].join()
    if not wait_covered(tracer, q, live[measured[-1]], 120):
        res.batch_failures += 1
    stop.set()
    threads[1].join()
    # stop only once the last batch has reported its progress (the offset
    # commit follows the foreachBatch return)
    last_batch = max(b for _, b, _ in tracer.batch_returns)
    deadline = time.time() + 30
    while (q.lastProgress is None or q.lastProgress.batchId < last_batch) \
            and time.time() < deadline and q.exception() is None:
        time.sleep(0.02)
    q.stop()
    if q.exception() is not None:
        res.batch_failures += 1
    res.finish(q, applier, tracer, meta["seg_rows"],
               {k: live[k] for k in measured})
    res.lookups = lk
    return bootstrap_s, warm_s


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def end_to_end(spark, res: Result) -> dict:
    from spans import output_bytes_since

    lags = [res.seg_cover[k] - res.seg_publish[k] for k in res.seg_publish
            if k in res.seg_cover]
    lake = res.lake.refresh()
    lake_bytes = sum(os.path.getsize(os.path.join(lake.root, f["path"]))
                     for f in lake.meta["files"])
    live_rows = max(res.live_rows, 1)
    out_bytes = output_bytes_since(spark.sparkContext, res.t_measure0,
                                   res.t_end)
    lk = res.lookups
    return {
        "setup_s": (res.setup_s, "s"),
        "ingest_events_per_s": (
            res.committed_rows / max(res.t_end - res.t_measure0, 1e-9),
            "events/s"),
        "commit_lag_p50_s": (percentile(lags, 50), "s"),
        "commit_lag_p90_s": (percentile(lags, 90), "s"),
        "lookup_p50_ms": (percentile(lk.latency_s, 50) * 1000, "ms"),
        "lookup_p90_ms": (percentile(lk.latency_s, 90) * 1000, "ms"),
        "write_bytes_per_event": (out_bytes / max(res.committed_rows, 1),
                                  "B/event"),
        "lake_bytes_per_live_row": (lake_bytes / live_rows, "B/row"),
        "peak_rss_mb": (peak_rss_mb(spark), "MB"),
    }


def gated(metrics: dict, names: list[str]) -> dict:
    return {n: {"value": metrics[n][0], "unit": metrics[n][1]}
            for n in names}


def load_benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def run_one(args, repo: str, work: str) -> int:
    from spans import Tracer, install

    bench = load_benchmark_json()
    workload = args.workload
    run_dir = os.path.join(work, "run", workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    t0 = time.time()
    spark = make_session(repo, work)
    session_s = time.time() - t0
    tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
    install(tracer, os.path.join(run_dir, "lake", "repos"))

    cache_root = os.path.join(work, "cache")
    meta, log_pdf = prepare_inputs(spark, workload, args.seed, args.seconds,
                                   cache_root)
    cache = os.path.join(cache_root, meta["key"])
    history = History(log_pdf)

    res = Result()
    if workload == "live_tail":
        bootstrap_s, warm_s = run_live(spark, workload, meta, cache, run_dir,
                                       tracer, history, args.seed, res)
    else:
        bootstrap_s = 0.0
        warm_s = run_closed(spark, workload, meta, cache, run_dir, tracer,
                            history, args.seed, res)
    seg_max = res.seg_publish
    res.t_done = time.time()
    res.setup_s = session_s + bootstrap_s + warm_s
    measured_wall = res.t_end - res.t_measure0

    bad_keys, oracle_keys, res.live_rows = oracle_mismatches(
        res.lake, log_pdf)

    lk = res.lookups
    attempted = res.batches + lk.n + oracle_keys
    failed = res.batch_failures + lk.failed + bad_keys
    correct = failed == 0 and res.segments_committed == res.segments

    e2e = end_to_end(spark, res)
    report = {
        "workload": workload, "seed": args.seed, "seconds": args.seconds,
        "trace": int(args.trace),
        "e2e": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "generator_late_p90_s": percentile(res.late_s, 90),
        "reader_late_p90_s": percentile(res.read_late_s, 90),
        "publish_interval_s": SHAPES[workload].get("publish_interval_s"),
        "failed_op_share": failed / max(attempted, 1),
        "oracle_mismatched_keys": bad_keys,
        "lookups": lk.n, "lookup_failures": lk.failed,
        "lookup_latencies_s": sorted(lk.latency_s),
        "segments": res.segments,
        "segments_committed": res.segments_committed,
        "segments_measured": len(seg_max),
        "batches": res.batches, "batch_failures": res.batch_failures,
        "batch_rows_ms": [(p["rows"], p["d"].get("triggerExecution"))
                          for p in res.progress],
        "events": res.events, "committed_rows": res.committed_rows,
        "num_input_rows": res.input_rows,
        "input_generation_s": meta["generated_s"],
        "inputs_cached": meta["cached"],
        "session_start_s": session_s, "warmup_s": warm_s,
        "bootstrap_s": bootstrap_s,
        "trigger_s": SHAPES[workload].get("trigger_s"),
        "idle_before_measured_s": res.idle_s,
        "measured_wall_s": measured_wall,
        "before_session_s": t0 - T_PROCESS,
        "after_measured_s": time.time() - res.t_done,
        "session": session_config(work),
    }
    if workload == "live_tail":
        lags = sorted((res.seg_cover[k] - res.seg_publish[k], k)
                      for k in res.seg_publish if k in res.seg_cover)
        tail = [lag for lag, k in lags if k >= sorted(seg_max)[
            int(len(seg_max) * 0.9)]]
        report["commit_lag_last_tenth_max_s"] = max(tail, default=0.0)
        report["backlog_steady"] = (
            max(tail, default=0.0) <= e2e["commit_lag_p90_s"][0] + 1e-9)

    results_dir = os.path.join(work, "results")
    os.makedirs(results_dir, exist_ok=True)
    stem = os.path.join(results_dir,
                        f"{workload}-seed{args.seed}-s{args.seconds}")
    if args.trace:
        from layers import per_layer

        layer, checks = per_layer(spark, tracer, res, workload, meta, cache,
                                  run_dir, stem + "-spans.json")
        report["attribution"] = checks
        if os.path.exists(stem + ".json"):
            with open(stem + ".json") as fh:
                base = json.load(fh)["e2e"]
            report["tracing_overhead"] = {
                k: e2e[k][0] - base[k]["value"] for k in base if k in e2e}
        metrics = {m["name"]: {"value": layer.get(m["name"], 0.0),
                               "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        with open(stem + ".json", "w") as fh:
            json.dump(report, fh)
        metrics = gated(e2e, [m["name"] for m in bench["end_to_end"]])
    stop_session(spark)
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def run_all(args) -> int:
    """Every workload, each in a fresh process (a JVM keeps its config)."""
    out, rc = {}, 0
    for w in WORKLOAD_NAMES:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=False,
        )
        lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
        if p.returncode != 0 or not lines:
            rc = 1
        for ln in lines[:-1]:
            print(ln)
        out[w] = json.loads(lines[-1]) if lines else None
    ok = all(v is not None and v["correct"] for v in out.values())
    print(json.dumps({
        "correct": ok,
        "attempted": sum(v["attempted"] for v in out.values() if v),
        "failed": sum(v["failed"] for v in out.values() if v),
        "metrics": {f"{w}.{k}": m for w, v in out.items() if v
                    for k, m in v["metrics"].items()},
    }))
    return rc if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="all",
                    choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="show that the oracle gate fires on a corrupted lake")
    args = ap.parse_args(argv)
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    repo = os.getcwd()
    if not os.path.isfile(os.path.join(repo, "cdc_spark", "__init__.py")):
        fail("run from the repository root: cdc_spark/ is not here")
    if not os.path.isfile(os.path.join(repo, "BENCHMARK.json")):
        fail("BENCHMARK.json is not here")
    sys.path.insert(0, repo)
    work = os.path.join(repo, ".bench_work")
    if args.self_test:
        from selftest import self_test

        return self_test(repo, work)
    if args.workload == "all":
        return run_all(args)
    return run_one(args, repo, work)


if __name__ == "__main__":
    sys.exit(main())
