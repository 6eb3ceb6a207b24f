"""``speed_layer`` workload: the paper's speed layer plus serving reads.

Tweet-shaped records with Zipf-skewed author keys go into a 4-partition
``kafka_shaped`` topic log (``sources.kafka_log``);
``streaming.pipeline.kafka_shaped_stream`` consumes them and a
foreachBatch merges per-author engagement sums into a
``MergeIntoParquetTable`` with ``upsert_inc`` (the $inc merge).

* warm-up (part of set-up): two small batches through the whole path,
  an insert into the empty table and a merge;
* phase 1: a saturated drain of a pre-produced backlog;
* phase 2: an open-loop producer at a fixed rate below the drain rate,
  while one closed-loop client does point lookups (``read()`` filtered
  to one author, hot authors favoured), pausing ``THINK_S`` after each.

Latency comes from offsets and progress only: every record's creation
stamp is kept here by (partition, offset), and a micro-batch's committed
offset range and end time come from ``query.recentProgress`` — no extra
action ever runs on a batch.
"""

from __future__ import annotations

import json
import os
import threading
import time
import zlib
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np

from engine import fingerprint, rss_now
from gen import author_key, tweets, zipf_indices
from stats import median, percentile

TOPIC = "tweets"
PARTITIONS = 4
# Author count and Zipf exponent are unverified assumptions (no measured
# per-account posting rate is at hand); README.md gives what they decide.
N_AUTHORS = 2000
ZIPF_S = 1.1
WARM_RECORDS = 1_000
N_BUCKETS = 16
BACKLOG = 8_000      # two full triggers after a partial first one
MAX_PER_TRIGGER = 4_000
RATE = 600            # records/s in phase 2, below the drain rate
TICK_S = 0.05
# a dashboard user's pause between lookups: back-to-back lookups kept a
# second Spark job beside every merge and widened the run-to-run spread
# of the merge and latency figures by about half (README.md)
THINK_S = 0.3
SUM_COLS = ["tweets", "views", "likes", "replyCounts", "retweetCounts"]
SCALE = (f"authors={N_AUTHORS} zipf={ZIPF_S} partitions={PARTITIONS} "
         f"buckets={N_BUCKETS} "
         f"warm={WARM_RECORDS} backlog={BACKLOG} "
         f"maxRecordsPerTrigger={MAX_PER_TRIGGER} rate={RATE}/s "
         f"think={THINK_S}s")


def parse_ts(iso: str) -> float:
    """Progress timestamps: ISO-8601 UTC with milliseconds."""
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


@dataclass
class Batch:
    """One committed micro-batch, from ``recentProgress``."""
    batch_id: int
    start: dict[int, int]
    end: dict[int, int]
    start_time: float
    end_time: float
    input_rows: int
    durations: dict

    @property
    def records(self) -> int:
        return sum(self.end[p] - self.start.get(p, 0) for p in self.end)


def _offsets(v) -> dict:
    """An offset map from progress JSON, which nests it either as an
    object or as a JSON string."""
    if isinstance(v, str):
        v = json.loads(v)
    return v or {}


def batches_from_progress(progress: list[dict]) -> list[Batch]:
    """Micro-batches that committed records, in batch order."""
    out = {}
    for pr in progress:
        src = (pr.get("sources") or [{}])[0]
        end = _offsets(src.get("endOffset"))
        if not end:
            continue
        start = _offsets(src.get("startOffset"))
        e = {int(p): o for p, o in end.get(TOPIC, {}).items()}
        s = {int(p): o for p, o in start.get(TOPIC, {}).items()}
        if sum(e.values()) <= sum(s.values()):
            continue
        d = pr.get("durationMs") or {}
        t = parse_ts(pr["timestamp"])
        out[pr["batchId"]] = Batch(
            pr["batchId"], s, e, t, t + d.get("triggerExecution", 0) / 1e3,
            int(pr.get("numInputRows", 0)), d)
    return [out[k] for k in sorted(out)]


def event_latencies(batches: list[Batch], created: dict[int, np.ndarray],
                    first_index: dict[int, int]) -> list[float]:
    """Seconds from each record's creation stamp to the end of the
    micro-batch that committed it, for records at or beyond
    ``first_index[p]`` in partition ``p``.  ``created[p][o]`` is the
    stamp of offset ``o`` of partition ``p``."""
    out: list[float] = []
    for b in batches:
        for p, hi in b.end.items():
            lo = max(b.start.get(p, 0), first_index.get(p, 0))
            if hi > lo:
                out.extend((b.end_time - created[p][lo:hi]).tolist())
    return out


class TopicLog:
    """Producer side: appends records through ``sources.kafka_log`` and
    remembers each one's partition, offset and creation stamp."""

    def __init__(self, root: str, records):
        from bigdata_project_hust_spark.sources import kafka_log
        self.kafka_log = kafka_log
        self.root = root
        self.rec = records
        kafka_log.create_topic(root, TOPIC, PARTITIONS)
        self.part = np.array([zlib.crc32(author_key(a).encode()) % PARTITIONS
                              for a in range(N_AUTHORS)])[records.author]
        self.created = np.zeros(len(records))
        self.offset = np.zeros(len(records), dtype=np.int64)
        self.next_off = [0] * PARTITIONS
        self.produced = 0
        self.late_max = 0.0

    def append(self, n: int, stamp: float) -> None:
        lo, hi = self.produced, min(self.produced + n, len(self.rec))
        r = self.rec
        payload = [(author_key(r.author[i]), json.dumps({
            "author": author_key(r.author[i]),
            "authorName": f"name{int(r.author[i])}",
            "views": int(r.views[i]), "likes": int(r.likes[i]),
            "replyCounts": int(r.replies[i]),
            "retweetCounts": int(r.retweets[i])})) for i in range(lo, hi)]
        for i in range(lo, hi):
            p = self.part[i]
            self.offset[i] = self.next_off[p]
            self.next_off[p] += 1
        self.created[lo:hi] = stamp
        self.kafka_log.append_records(self.root, TOPIC, payload,
                                      ts_ms=int(stamp * 1000))
        self.produced = hi

    def end_offsets(self) -> dict[int, int]:
        return dict(enumerate(self.next_off))

    def created_by_partition(self) -> dict[int, np.ndarray]:
        out = {}
        for p in range(PARTITIONS):
            idx = np.nonzero(self.part[:self.produced] == p)[0]
            arr = np.empty(len(idx))
            arr[self.offset[idx]] = self.created[idx]
            out[p] = arr
        return out

    def open_loop(self, rate: float, seconds: float, stop: threading.Event):
        """Appends ``rate`` records/s on a fixed schedule; each record's
        stamp is the time it was due, so a stall shows as latency."""
        per_tick = max(1, int(round(rate * TICK_S)))
        t0 = time.time()
        k = 0
        while not stop.is_set():
            due = t0 + k * TICK_S
            if due - t0 >= seconds:
                break
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            self.late_max = max(self.late_max, time.time() - due)
            self.append(per_tick, due)
            k += 1


@dataclass
class SpeedResult:
    lookups: list[float] = field(default_factory=list)
    lookup_failures: int = 0
    lookup_files: list[int] = field(default_factory=list)
    retried_batches: int = 0
    batch_errors: list[str] = field(default_factory=list)
    # epoch id -> (buckets rewritten, rows in the rewritten buckets)
    merge_stats: dict[int, tuple[int, int]] = field(default_factory=dict)


def _manifest(path: str) -> dict:
    with open(os.path.join(path, "_manifest.json")) as f:
        return json.load(f)


def _bucket_files(path: str, st: dict) -> list[str]:
    out = []
    for b, v in st["buckets"].items():
        d = os.path.join(path, f"b{b}", f"v{v}")
        out += [os.path.join(d, f) for f in os.listdir(d)
                if f.endswith(".parquet")]
    return out


def run(args, spark_start, cpus: int, work: str, tracer) -> dict:
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from bigdata_project_hust_spark.schemas import TOPIC_SCHEMAS
    from bigdata_project_hust_spark.streaming import merge_table, pipeline

    seconds = args.seconds
    g0 = time.time()
    total = WARM_RECORDS + BACKLOG + int(RATE * seconds) + 1000
    recs = tweets(args.seed, total, N_AUTHORS, ZIPF_S)
    root = os.path.join(work, "topics")
    log = TopicLog(root, recs)
    look_rng = np.random.default_rng([args.seed, 7])
    gen_s = time.time() - g0

    spark = spark_start()
    spark_up = time.time()
    table_path = os.path.join(work, "author_totals")
    # four retained snapshots keep a lookup's files alive across the
    # merges that may commit while it runs
    table = merge_table.MergeIntoParquetTable(
        spark, table_path, "author", n_buckets=N_BUCKETS, retain_versions=4)
    res = SpeedResult()
    seen_epochs: set[int] = set()

    def sink(batch_df, epoch_id):
        try:
            if epoch_id in seen_epochs:
                res.retried_batches += 1
            seen_epochs.add(epoch_id)
            before = (_manifest(table_path)["buckets"]
                      if os.path.exists(os.path.join(table_path,
                                                     "_manifest.json"))
                      else {})
            agg = batch_df.groupBy("author").agg(
                F.count(F.lit(1)).cast("long").alias("tweets"),
                *[F.sum(c).cast("long").alias(c) for c in SUM_COLS[1:]])
            table.upsert_inc(agg, SUM_COLS, [], epoch_id=epoch_id)
            if tracer is not None:
                after = _manifest(table_path)["buckets"]
                changed = {b: v for b, v in after.items()
                           if before.get(b) != v}
                res.merge_stats[epoch_id] = (len(changed), sum(
                    pq.ParquetFile(f).metadata.num_rows for f in
                    _bucket_files(table_path, {"buckets": changed})))
        except Exception as exc:
            res.batch_errors.append(f"{type(exc).__name__}: {exc}"[:300])
            raise

    stream = pipeline.kafka_shaped_stream(
        spark, root, TOPIC, TOPIC_SCHEMAS["tweets"],
        max_records_per_trigger=MAX_PER_TRIGGER)
    log.append(WARM_RECORDS // 2, time.time())
    query = (stream.writeStream.foreachBatch(sink)
             .option("checkpointLocation", os.path.join(work, "ck"))
             .start())

    def committed(target: dict[int, int]) -> Batch | None:
        """The last micro-batch, once it has committed ``target``."""
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        bs = batches_from_progress(
            [json.loads(p.json) for p in query.recentProgress])
        if bs and all(bs[-1].end.get(p, 0) >= o for p, o in target.items()):
            return bs[-1]
        return None

    def wait_committed(target: dict[int, int], timeout: float) -> Batch:
        deadline = time.time() + timeout
        while time.time() < deadline:
            last = committed(target)
            if last is not None:
                return last
            time.sleep(0.02)
        raise TimeoutError(f"stream did not commit {target} in {timeout}s")

    try:
        # warm-up: the first batch inserts into the empty table, the
        # second takes the merge path every later batch takes
        wait_committed(log.end_offsets(), 120)
        log.append(WARM_RECORDS // 2, time.time())
        wait_committed(log.end_offsets(), 120)
        ready = time.time()

        # phase 1: saturated drain of a pre-produced backlog
        log.append(BACKLOG, time.time())
        t0 = time.time()
        last = wait_committed(log.end_offsets(), 120)
        drain_s = last.end_time - t0
        committed_before = np.bincount(recs.author[:log.produced],
                                       minlength=N_AUTHORS)

        # phase 2: open-loop producer + closed-loop point lookups
        first_p2 = log.end_offsets()
        p2_lo = log.produced
        stop = threading.Event()
        producer = threading.Thread(target=log.open_loop,
                                    args=(RATE, seconds, stop), daemon=True)
        w0 = time.time()
        producer.start()
        sc = spark.sparkContext
        if tracer is not None:
            sc.setJobGroup("lookup", "lookup")
        try:
            # lookups run until every phase-2 record is committed
            deadline = time.time() + seconds + 60
            while producer.is_alive() or not committed(log.end_offsets()):
                if time.time() > deadline:
                    raise TimeoutError("phase-2 records were not committed")
                a = int(zipf_indices(look_rng, 1, N_AUTHORS, ZIPF_S)[0])
                key = author_key(a)
                if tracer is not None:
                    res.lookup_files.append(len(_bucket_files(
                        table_path, _manifest(table_path))))
                l0 = time.time()
                try:
                    rows = (table.read().where(F.col("author") == key)
                            .collect())
                except Exception:
                    res.lookup_failures += 1
                    continue
                res.lookups.append(time.time() - l0)
                hi = log.produced
                upper = int(np.count_nonzero(recs.author[:hi] == a))
                n = rows[0]["tweets"] if len(rows) == 1 else 0
                if len(rows) > 1 or not committed_before[a] <= n <= upper:
                    res.lookup_failures += 1
                time.sleep(THINK_S)
        finally:
            stop.set()
            producer.join(timeout=seconds + 30)
            if tracer is not None:
                sc.setJobGroup("", "")
        w1 = time.time()
        progress = [json.loads(p.json) for p in query.recentProgress]
    finally:
        query.stop()
        query.awaitTermination(60)

    batches = [b for b in batches_from_progress(progress)
               if b.end_time >= t0]
    p2_batches = [b for b in batches
                  if any(b.end.get(p, 0) > first_p2[p] for p in b.end)]
    created = log.created_by_partition()
    lat = event_latencies(p2_batches, created, first_p2)
    # records already in the log when a phase-2 micro-batch started
    backlog = max((sum(int(np.searchsorted(created[p], b.start_time, "right"))
                       - b.start.get(p, 0) for p in created)
                   for b in p2_batches), default=0)
    env_scale = SCALE + f" phase2={seconds:g}s"
    env = fingerprint(spark, cpus, args, env_scale)
    rss = rss_now()

    # correctness: final table vs a DuckDB per-author sum of every record
    c0 = time.time()
    bad = check_table(table, recs, log.produced)
    n_lat = len(lat)
    n_records_p2 = log.produced - p2_lo
    failed = (len(res.batch_errors) + res.retried_batches
              + res.lookup_failures + (1 if bad else 0)
              + (0 if n_lat == n_records_p2 else 1))
    attempted = len(batches) + len(res.lookups) + res.lookup_failures + 1
    walls = [b.end_time - b.start_time for b in batches]
    # the gated pair: a micro-batch's wall time and a record's latency
    # (point lookups race the merges for cores, which makes their median
    # twice as noisy from run to run; they are printed below)
    e2e = {"batch_wall_s": median(walls),
           "query_p50_s": percentile(lat, 50),
           "peak_rss_mb": rss}
    detail = {
        "ingest_rps": BACKLOG / drain_s,
        "event_latency_p50_s": percentile(lat, 50),
        "event_latency_p99_s": percentile(lat, 99),
        "lookup_p50_ms": 1e3 * percentile(res.lookups, 50),
        "lookup_p90_ms": (None if percentile(res.lookups, 90) is None
                          else 1e3 * percentile(res.lookups, 90)),
        "samples": {"event": n_lat, "lookup": len(res.lookups),
                    "batches": len(batches), "phase2_records": n_records_p2},
        "phase_s": {"gen": gen_s, "warm_up": ready - spark_up,
                    "drain": drain_s, "open_loop": w1 - w0,
                    "check": time.time() - c0},
        "micro_batch_walls_s": [round(w, 3) for w in walls],
        "batch_records": [b.records for b in batches],
        "table_mismatch": bad, "batch_errors": res.batch_errors,
        "lookup_failures": res.lookup_failures,
        "retried_batches": res.retried_batches,
    }
    return {"env": env, "gen_s": gen_s, "ready": ready, "e2e": e2e,
            "detail": detail, "attempted": attempted, "failed": failed,
            "ops": len(batches), "window": (t0, w1), "result": res,
            "batches": batches, "backlog_max": backlog,
            "producer_late_s": log.late_max}


def check_table(table, recs, produced: int) -> str | None:
    """None if the merged table equals a DuckDB per-author sum over
    every produced record, else a reason."""
    import duckdb
    import pandas as pd

    from tests.oracle_harness import value_hash
    src = pd.DataFrame({
        "author": [author_key(a) for a in recs.author[:produced]],
        "views": recs.views[:produced], "likes": recs.likes[:produced],
        "replyCounts": recs.replies[:produced],
        "retweetCounts": recs.retweets[:produced]})
    con = duckdb.connect()
    try:
        con.register("src", src)
        want = con.execute(
            "SELECT author, count(*)::BIGINT AS tweets, "
            "sum(views)::BIGINT AS views, sum(likes)::BIGINT AS likes, "
            "sum(replyCounts)::BIGINT AS replyCounts, "
            "sum(retweetCounts)::BIGINT AS retweetCounts "
            "FROM src GROUP BY author").df()
    finally:
        con.close()
    got = table.read().select("author", *SUM_COLS).toPandas()
    cols = ["author", *SUM_COLS]
    w_rows = [tuple(r) for r in want[cols].itertuples(index=False, name=None)]
    g_rows = [tuple(r) for r in got[cols].itertuples(index=False, name=None)]
    if len(w_rows) != len(g_rows):
        return f"rows {len(g_rows)} != {len(w_rows)}"
    order = list(range(len(cols)))
    if value_hash(w_rows, order) != value_hash(g_rows, order):
        return "per-author sums differ"
    return None


def layers(tracer, out: dict, groups: dict[str, int]) -> dict[str, float]:
    """Per-layer metrics of the speed and serving layers over the timed
    micro-batches (drain and open loop)."""
    res: SpeedResult = out["result"]
    batches: list[Batch] = out["batches"]
    committed = max(sum(b.records for b in batches), 1)
    merges = [s.end - s.start for s in tracer.spans
              if s.name == "streaming.merge_table.upsert_inc"
              and s.start >= out["window"][0]]
    per_merge = [res.merge_stats[b.batch_id] for b in batches
             if b.batch_id in res.merge_stats]
    def dur_p50(key: str) -> float:
        return median([b.durations.get(key, 0) for b in batches])

    return {
        "source.rows_read_per_row_committed":
            sum(b.input_rows for b in batches) / committed,
        "source.latest_offset_ms": dur_p50("latestOffset"),
        "source.backlog_records_max": out["backlog_max"],
        "producer.late_s_max": out["producer_late_s"],
        "stream.batches": len(batches),
        "stream.trigger_ms_p50": dur_p50("triggerExecution"),
        "stream.add_batch_ms_p50": dur_p50("addBatch"),
        "stream.wal_commit_ms_p50": dur_p50("walCommit"),
        "stream.query_planning_ms_p50": dur_p50("queryPlanning"),
        "merge.calls": len(merges),
        "merge.s_p50": median(merges),
        "merge.buckets_rewritten_per_batch": median([b for b, _ in per_merge]),
        "merge.rows_rewritten_per_source_row":
            sum(r for _, r in per_merge) / committed,
        "lookup.files_scanned": median(res.lookup_files),
        "lookup.spark_jobs": groups.get("lookup", 0)
            / max(len(res.lookups) + res.lookup_failures, 1),
        "trace.wall_s": out["e2e"]["batch_wall_s"],
    }
