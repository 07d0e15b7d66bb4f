"""The three workloads. Each drives the package only through its
public functions, times its operations with tracing off, checks every
output against an oracle, and in a traced run materializes each
layer's output inside that layer's span.

Every workload returns a :class:`Outcome`: the end-to-end values, the
per-layer values, the operation counts and a free-form record of how
the numbers were obtained.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime

import gen
import oracles
from bootstrap import CPUS
from tracing import StageMeter, Tracer

# Workload sizes, chosen for a 4-core host.
BACKFILL_MESSAGES = 500_000
STREAM_RATE = 12.5  # segments per second (open loop)
STREAM_SEGMENT_MESSAGES = 20  # so the offered rate is 250 msg/s
# Open-loop load after the cold start, untimed: micro-batches kept
# getting faster for about the first 10 s of it (by 15% in calm runs).
STREAM_WARMUP_S = 6.0
# The measured open-loop phase lasts this many times --seconds. A
# micro-batch takes about 0.9 s, so a 10 s phase holds only about 11
# batches and its p90 latency hangs on the slowest one or two; over
# twice as many batches one slow stretch of the host moves it less.
STREAM_STEADY_FACTOR = 2
STREAM_BURST_S = 8.0  # each burst holds this many seconds of offered load
STREAM_BURSTS = 5  # drain throughput is the median over these
STREAM_DEADLINE_S = 30.0
CORPUS_DOCS = 5_000
# Warm-up: the first jobs of a JVM are slower (classes load, planning and
# per-row code get compiled), so batch workloads first run a few rounds
# on a small input of the same shape (a WARMUP_SMALL_SHARE of the full
# size) and one full-size round, all untimed.
WARMUP_SMALL_SHARE = 0.05
MIN_OPS = 3


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    tracer: Tracer
    meter: StageMeter
    started: float  # process start, for the timeline
    timeline: dict[str, float] = field(default_factory=dict)

    def mark(self, phase: str) -> None:
        """Note when ``phase`` ended, in seconds since process start."""
        self.timeline[phase] = round(time.time() - self.started, 3)


@dataclass
class Outcome:
    e2e: dict[str, float]
    layers: dict[str, float]
    attempted: int
    failed: int
    record: dict = field(default_factory=dict)


def quantile(values: list[float], q: float) -> float:
    """Inclusive quantile (q in 0..1) by linear interpolation."""
    s = sorted(values)
    if len(s) == 1:
        return s[0]
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def _span_total(tracer: Tracer, name: str, key: str | None = None) -> float:
    """Sum over spans called ``name`` of their duration, or of the
    count ``key`` (a span attribute or a stage counter)."""
    total = 0.0
    for s in tracer.spans:
        if s.name != name:
            continue
        if key is None:
            total += s.end - s.start
        elif key in s.attrs:
            total += s.attrs[key]
        else:
            total += s.attrs.get("stages", {}).get(key, 0)
    return total


def _spark_layer(delta: dict, wall: float) -> dict[str, float]:
    return {
        "spark.executor_run_s": delta["executorRunTime"] / 1000,
        "spark.cpu_busy_ratio": delta["executorRunTime"] / 1000 / (wall * CPUS) if wall else 0.0,
        "spark.shuffle_write_bytes": delta["shuffleWriteBytes"],
        "spark.spill_bytes": delta["memoryBytesSpilled"] + delta["diskBytesSpilled"],
        "spark.tasks": delta["numTasks"],
    }


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files a sink wrote under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith("part-"):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


def _batch_loop(
    ctx: Ctx, op, check, oracle: Future, small_ops: int, full_warmup: bool = True
) -> tuple[list[float], list[bool], float]:
    """Warm up while the oracle finishes: ``small_ops`` rounds of
    ``op(traced=False, small=True)`` and (with ``full_warmup``) one
    full-size round. Then run ``op(traced=False)`` for at least
    ``ctx.seconds`` (and MIN_OPS rounds), calling ``check(oracle
    result)`` after each. In a traced run one traced round follows.
    Returns (times, oks, tracing overhead: the traced round's time minus
    the untraced median)."""
    for _ in range(small_ops):
        op(traced=False, small=True)
    if full_warmup:
        op(traced=False)
    ctx.mark("warmup")
    expected = oracle.result()
    ctx.mark("oracle")
    times, oks = [], []
    end = time.time() + ctx.seconds
    while len(times) < MIN_OPS or time.time() < end:
        times.append(op(traced=False))
        oks.append(check(expected))
    ctx.mark("timed")
    overhead = 0.0
    if ctx.tracer.enabled:
        overhead = op(traced=True) - statistics.median(times)
        oks.append(check(expected))
    return times, oks, overhead


def _in_background(fn, *args) -> Future:
    """Run an oracle on a thread while Spark warms up (untimed)."""
    pool = ThreadPoolExecutor(1)
    future = pool.submit(fn, *args)
    pool.shutdown(wait=False)
    return future


# ---------------------------------------------------------------------------
# backfill_lww
# ---------------------------------------------------------------------------


def backfill_lww(ctx: Ctx) -> Outcome:
    from pyspark.sql import functions as F

    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.dedup import dedup_last_write_wins
    from new_kafka_consumer_to_hadoop_hdfs_spark.pipeline import (
        dedup_pipeline,
        dedup_pipeline_parse_only,
        serialize_output,
    )
    from new_kafka_consumer_to_hadoop_hdfs_spark.sources.sinks import write_json_lines

    spark, tr = ctx.spark, ctx.tracer
    dump = gen.topic_dump(os.path.join(ctx.work, "dump"), ctx.seed, BACKFILL_MESSAGES)
    warm_dump = gen.topic_dump(
        os.path.join(ctx.work, "small"), ctx.seed, int(BACKFILL_MESSAGES * WARMUP_SMALL_SHARE)
    )
    ctx.mark("generate")
    oracle = _in_background(lambda: oracles.digest(oracles.lww_lines(dump.path)))
    out_dir = os.path.join(ctx.work, "out")

    def op(traced: bool, small: bool = False) -> float:
        t0 = time.time()
        if not traced:
            src = spark.read.parquet(warm_dump.path if small else dump.path)
            write_json_lines(serialize_output(dedup_pipeline(src)), out_dir, line=F.col("value"))
        else:
            cached = []
            tr.new_op()
            with tr.span("backfill.op"):
                with tr.span("scan") as a:
                    src = spark.read.parquet(dump.path).persist()
                    cached.append(src)
                    a["rows"] = src.count()
                with tr.span("message") as a:
                    parsed = dedup_pipeline_parse_only(src).persist()
                    cached.append(parsed)
                    a["rows"] = parsed.count()
                with tr.span("dedup") as a:
                    survivors = dedup_last_write_wins(
                        parsed, keys=["partition", "id"], order_by=[F.col("offset").desc()]
                    ).persist()
                    cached.append(survivors)
                    a["rows"] = survivors.count()
                with tr.span("sinks"):
                    write_json_lines(serialize_output(survivors), out_dir, line=F.col("value"))
            for df in cached:
                df.unpersist()
        return time.time() - t0

    before = ctx.meter.snapshot()
    t_loop = time.time()
    times, oks, overhead = _batch_loop(
        ctx, op, lambda expected: not oracles.check_backfill(expected, out_dir), oracle, small_ops=2
    )
    wall = time.time() - t_loop
    delta = StageMeter.delta(before, ctx.meter.snapshot())
    e2e = {
        "throughput_per_s": dump.messages / statistics.median(times),
        "lat_p50_s": statistics.median(times),
        "lat_p90_s": quantile(times, 0.9),
    }
    layers: dict[str, float] = {}
    if tr.enabled:
        rows_valid = _span_total(tr, "message", "rows")
        rows_out = _span_total(tr, "dedup", "rows")
        size, files = _dir_bytes(out_dir)
        layers = {
            "scan.read_s": _span_total(tr, "scan"),
            "scan.bytes_in": _span_total(tr, "scan", "inputBytes"),
            "message.parse_s": _span_total(tr, "message"),
            "message.rows_in": dump.messages,
            "message.rows_valid": rows_valid,
            "message.valid_ratio": rows_valid / dump.messages,
            "dedup.lww_s": _span_total(tr, "dedup"),
            "dedup.rows_out": rows_out,
            "dedup.survivor_ratio": rows_out / rows_valid if rows_valid else 0.0,
            "dedup.shuffle_write_bytes": _span_total(tr, "dedup", "shuffleWriteBytes"),
            "dedup.spill_bytes": _span_total(tr, "dedup", "memoryBytesSpilled")
            + _span_total(tr, "dedup", "diskBytesSpilled"),
            "sinks.write_s": _span_total(tr, "sinks"),
            "sinks.rows_written": rows_out,
            "sinks.bytes_written": size,
            "sinks.files_written": files,
            "sinks.commits": 1,
            "trace.overhead_s": overhead,
            **_spark_layer(delta, wall),
        }
    return Outcome(
        e2e,
        layers,
        attempted=len(oks),
        failed=oks.count(False),
        record={
            "messages": dump.messages,
            "partitions": dump.partitions,
            "files": dump.files,
            "survivors": oracle.result()[0],
            "op_times_s": times,
        },
    )


# ---------------------------------------------------------------------------
# corpus_neardup
# ---------------------------------------------------------------------------


def corpus_neardup(ctx: Ctx) -> Outcome:
    from pyspark.sql import functions as F

    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.graph import (
        connected_components_min_label,
    )
    from new_kafka_consumer_to_hadoop_hdfs_spark.operators.text import (
        jaccard_verify_elements,
        minhash_candidate_pairs,
        shingle_elements,
    )

    spark, tr = ctx.spark, ctx.tracer
    corpus = gen.corpus(os.path.join(ctx.work, "corpus"), ctx.seed, CORPUS_DOCS)
    warm_corpus = gen.corpus(
        os.path.join(ctx.work, "small"), ctx.seed, int(CORPUS_DOCS * WARMUP_SMALL_SHARE)
    )
    ctx.mark("generate")
    truth = _in_background(
        lambda: oracles.exact_pairs({d: oracles.shingles(t) for d, t in corpus.texts.items()})
    )

    def chain(d, traced: bool):
        """shingles → LSH candidates → verified pairs, the composition of
        the package's ``pipeline_corpus_dedup`` (which caches the shingle
        relation). In a traced round each stage is materialized inside
        its layer's span. Returns (pairs, edges, cached frames)."""
        cached: list = []

        def stage(name, df, keep=False):
            if keep or traced:
                df = df.persist()
                cached.append(df)
            if traced:
                with tr.span(name) as a:
                    a["rows"] = df.count()
            return df

        ex = stage("text.shingle", shingle_elements(d, "doc_id", "text", n=3), keep=True)
        cands = stage("text.lsh", minhash_candidate_pairs(ex, "doc_id", num_hashes=16, rows_per_band=2))
        pairs = stage("text.verify", jaccard_verify_elements(cands, ex, "doc_id", threshold=0.8))
        edges = pairs.select(F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst"))
        return pairs, edges, cached

    def survivors_of(d, edges):
        labels = connected_components_min_label(d.select("doc_id"), edges, id_col="doc_id")
        surv = labels.filter(F.col("node") == F.col("label")).select(F.col("node").alias("doc_id"))
        return [r[0] for r in surv.collect()]

    survivors: list[set] = []

    def op(traced: bool, small: bool = False) -> float:
        t0 = time.time()
        if not traced:
            d = spark.read.parquet(warm_corpus.path if small else corpus.path)
            _, edges, cached = chain(d, traced=False)
            ids = survivors_of(d, edges)
        else:
            tr.new_op()
            with tr.span("corpus.op"):
                with tr.span("scan") as a:
                    d = spark.read.parquet(corpus.path).persist()
                    a["rows"] = d.count()
                _, edges, cached = chain(d, traced=True)
                cached.append(d)
                with tr.span("graph.cc") as a:
                    ids = survivors_of(d, edges)
                    a["rows"] = len(ids)
        elapsed = time.time() - t0
        for df in cached:
            df.unpersist()
        if not small:
            survivors.append(set(ids))
        return elapsed

    # a full-size warm-up round that also collects the verified pairs,
    # which are checked once against the exact pair set; every timed round's
    # survivors are checked against the components of those pairs
    d = spark.read.parquet(corpus.path)
    pairs, edges, cached = chain(d, traced=False)
    cached.append(pairs.persist())
    verified = [(r[0], r[1], r[2]) for r in pairs.collect()]
    survivors_of(d, edges)
    expected_survivors = oracles.min_label_survivors(corpus.texts, [(a, b) for a, b, _ in verified])
    for df in cached:
        df.unpersist()

    def check(pair_problems: list[str]) -> bool:
        return not pair_problems and survivors[-1] == expected_survivors

    pair_check = _in_background(lambda: oracles.check_pairs(truth.result(), verified))
    before = ctx.meter.snapshot()
    t_loop = time.time()
    times, oks, overhead = _batch_loop(ctx, op, check, pair_check, small_ops=1, full_warmup=False)
    wall = time.time() - t_loop
    delta = StageMeter.delta(before, ctx.meter.snapshot())
    e2e = {
        "throughput_per_s": corpus.docs / statistics.median(times),
        "lat_p50_s": statistics.median(times),
        "lat_p90_s": quantile(times, 0.9),
    }
    layers: dict[str, float] = {}
    if tr.enabled:
        n_cand = _span_total(tr, "text.lsh", "rows")
        n_ver = _span_total(tr, "text.verify", "rows")
        n_surv = _span_total(tr, "graph.cc", "rows")
        layers = {
            "scan.read_s": _span_total(tr, "scan"),
            "scan.bytes_in": _span_total(tr, "scan", "inputBytes"),
            "text.shingle_s": _span_total(tr, "text.shingle"),
            "text.shingles": _span_total(tr, "text.shingle", "rows"),
            "text.lsh_s": _span_total(tr, "text.lsh"),
            "text.candidate_pairs": n_cand,
            "text.verify_s": _span_total(tr, "text.verify"),
            "text.verified_pairs": n_ver,
            "text.candidate_precision": n_ver / n_cand if n_cand else 0.0,
            "text.shuffle_write_bytes": sum(
                _span_total(tr, n, "shuffleWriteBytes")
                for n in ("text.shingle", "text.lsh", "text.verify")
            ),
            "graph.cc_s": _span_total(tr, "graph.cc"),
            "graph.edges": n_ver,
            "graph.components": n_surv,
            "graph.survivors": n_surv,
            "trace.overhead_s": overhead,
            **_spark_layer(delta, wall),
        }
    return Outcome(
        e2e,
        layers,
        attempted=len(oks),
        failed=oks.count(False),
        record={
            "docs": corpus.docs,
            "injected_near_dups": len(corpus.injected_pairs),
            "true_pairs": len(truth.result()),
            "verified_pairs": len(verified),
            "survivors": len(expected_survivors),
            "pair_problems": pair_check.result(),
            "op_times_s": times,
        },
    )


# ---------------------------------------------------------------------------
# stream_lww
# ---------------------------------------------------------------------------


def _checkpoint_maps(ckpt: str) -> tuple[dict[str, int], dict[int, float]]:
    """(segment file name → batch id) from the file source's log, and
    (batch id → commit time) from the commit log's file times."""
    file_batch: dict[str, int] = {}
    src_log = os.path.join(ckpt, "sources", "0")
    for name in os.listdir(src_log):
        if name.startswith("."):
            continue
        with open(os.path.join(src_log, name)) as fh:
            for line in fh.read().splitlines()[1:]:
                entry = json.loads(line)
                file_batch[os.path.basename(entry["path"])] = entry["batchId"]
    commits = {}
    commit_dir = os.path.join(ckpt, "commits")
    for name in os.listdir(commit_dir):
        if name.isdigit():
            commits[int(name)] = os.path.getmtime(os.path.join(commit_dir, name))
    return file_batch, commits


def stream_lww(ctx: Ctx) -> Outcome:
    from new_kafka_consumer_to_hadoop_hdfs_spark.pipeline import dedup_pipeline_parse_only
    from new_kafka_consumer_to_hadoop_hdfs_spark.sources.sinks import write_json_lines
    from new_kafka_consumer_to_hadoop_hdfs_spark.streaming.dedup import stateful_lww_dedup

    spark, tr = ctx.spark, ctx.tracer
    rate = STREAM_RATE
    n_warm = int(STREAM_WARMUP_S * rate)
    n_steady = max(100, int(STREAM_STEADY_FACTOR * ctx.seconds * rate))
    burst_msgs = int(STREAM_BURST_S * rate * STREAM_SEGMENT_MESSAGES)
    stage, watch = os.path.join(ctx.work, "stage"), os.path.join(ctx.work, "in")
    out, ckpt = os.path.join(ctx.work, "out"), os.path.join(ctx.work, "ckpt")
    os.makedirs(watch, exist_ok=True)
    # a cold-start segment, a warm-up burst, the open-loop segments, then
    # the measured bursts; a burst is one segment, so one rename shows it
    segs = gen.stream_segments(
        stage,
        ctx.seed,
        [STREAM_SEGMENT_MESSAGES, burst_msgs]
        + [STREAM_SEGMENT_MESSAGES] * (n_warm + n_steady)
        + [burst_msgs] * STREAM_BURSTS,
    )
    ctx.mark("generate")
    size = dict(zip(segs.names, segs.sizes))
    cold = segs.names[:2]
    scheduled = segs.names[2 : 2 + n_warm + n_steady]
    steady = scheduled[n_warm:]
    bursts = segs.names[2 + n_warm + n_steady :]
    traced_epochs = [False]  # switched off for the untraced reference burst

    def write_epoch(batch_df, epoch_id):
        path = os.path.join(out, f"epoch={epoch_id}")
        if not traced_epochs[0]:
            write_json_lines(batch_df, path)
            return
        with tr.span("state", op=epoch_id) as a:
            batch_df = batch_df.persist()
            a["rows"] = batch_df.count()
        with tr.span("sinks", op=epoch_id):
            write_json_lines(batch_df, path)
        batch_df.unpersist()

    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    # the latencies need every batch's commit file and file-to-batch
    # entry, so none of them may be purged during the run
    spark.conf.set("spark.sql.streaming.minBatchesToRetain", "100000")
    src = spark.readStream.schema("partition int, offset long, value binary").parquet(watch)
    query = (
        stateful_lww_dedup(dedup_pipeline_parse_only(src))
        .writeStream.foreachBatch(write_epoch)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .start()
    )

    rows_by_batch: dict[int, int] = {}

    def wait_for(total_msgs: int, deadline: float) -> None:
        # polls the last progress report only: fetching every report each
        # time would cost the Spark driver more CPU as the run goes on
        while time.time() < deadline:
            p = query.lastProgress
            if p is not None:
                rows_by_batch[p["batchId"]] = p["numInputRows"]
                if len(rows_by_batch) <= p["batchId"]:  # batches ended between polls
                    rows_by_batch.update((q["batchId"], q["numInputRows"]) for q in query.recentProgress)
                if sum(rows_by_batch.values()) >= total_msgs:
                    return
            if query.exception() is not None:
                raise RuntimeError(str(query.exception()))
            time.sleep(0.1)

    before = ctx.meter.snapshot()
    try:
        traced_epochs[0] = tr.enabled
        # the first batch plans the query and starts the Python workers,
        # the second (a burst) warms the per-row paths; each runs alone so
        # the cold start does not pile up a backlog
        due, published = {}, 0
        for name in cold:
            due[name] = gen.publish_now(segs, name, watch)
            published += size[name]
            wait_for(published, due[name] + STREAM_DEADLINE_S)
        ctx.mark("cold_start")
        producer = gen.SegmentProducer(segs, scheduled, watch, time.time() + 0.2, rate)
        due.update(zip(scheduled, producer.due))
        producer.start()
        producer.join()
        if producer.error is not None:
            raise producer.error
        published += sum(size[n] for n in scheduled)
        wait_for(published, time.time() + STREAM_DEADLINE_S)
        ctx.mark("steady")
        for b, name in enumerate(bursts):
            traced_epochs[0] = tr.enabled and b > 0
            due[name] = gen.publish_now(segs, name, watch)
            published += size[name]
            wait_for(published, due[name] + STREAM_DEADLINE_S)
        ctx.mark("bursts")
    finally:
        query.stop()
    ctx.mark("stop_query")
    delta = StageMeter.delta(before, ctx.meter.snapshot())
    progress = [p for p in query.recentProgress if p["numInputRows"] > 0]

    file_batch, commits = _checkpoint_maps(ckpt)
    commit_of = {n: commits.get(file_batch.get(n, -1)) for n in segs.names}
    latency = {n: (commit_of[n] - due[n]) if commit_of[n] else None for n in segs.names}
    expected = oracles.expected_winners(segs.tables)
    wrong = oracles.wrong_stream_keys(expected, oracles.read_epoch_records(out))
    unmapped = [n for n in segs.names if latency[n] is None]
    late = [n for n in segs.names if latency[n] is not None and latency[n] > STREAM_DEADLINE_S]
    wrong_segs = [
        n for n, t in zip(segs.names, segs.tables) if wrong and oracles.segment_keys(t) & wrong
    ]
    failed = len(set(unmapped) | set(late) | set(wrong_segs))

    steady_lat = [latency[n] for n in steady if latency[n] is not None]
    drains = [latency[n] for n in bursts if latency[n] is not None]
    e2e = {
        "throughput_per_s": burst_msgs / statistics.median(drains) if drains else 0.0,
        "lat_p50_s": statistics.median(steady_lat) if steady_lat else 0.0,
        "lat_p90_s": quantile(steady_lat, 0.9) if steady_lat else 0.0,
    }
    layers: dict[str, float] = {}
    if tr.enabled:
        # one span per micro-batch from its progress report, parenting the
        # state and sink spans its foreachBatch call recorded
        for p in progress:
            start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
            batch = tr.record(
                "stream.batch",
                start,
                start + p["durationMs"].get("triggerExecution", 0) / 1000,
                op=p["batchId"],
                rows=p["numInputRows"],
            )
            for s in tr.spans:
                if s.op == p["batchId"] and s.parent is None and s.name in ("state", "sinks"):
                    s.parent = batch
        first_steady = file_batch.get(steady[0], 0)
        last_steady = file_batch.get(steady[-1], first_steady)
        steady_prog = [p for p in progress if first_steady <= p["batchId"] <= last_steady]
        trig = [p["durationMs"].get("triggerExecution", 0) / 1000 for p in steady_prog]
        ops = [p["stateOperators"][0] for p in progress if p["stateOperators"]]
        rows_in = sum(p["numInputRows"] for p in progress)
        records = oracles.read_epoch_records(out)
        nbytes, nfiles = _dir_bytes(out)
        # backlog just before each steady commit: published minus committed
        pub_times = sorted(
            (d + late, size[n]) for n, d, late in zip(scheduled, producer.due, producer.late)
        )
        backlog, committed = 0, 0
        for p in sorted(steady_prog, key=lambda p: p["batchId"]):
            c = commits.get(p["batchId"], 0)
            pub = sum(m for t, m in pub_times if t <= c)
            backlog = max(backlog, pub - committed)
            committed += p["numInputRows"]
        steady_wall = (commits.get(last_steady, 0) - due[steady[0]]) or 1.0
        layers = {
            "sinks.write_s": _span_total(tr, "sinks"),
            "sinks.rows_written": len(records),
            "sinks.bytes_written": nbytes,
            "sinks.files_written": nfiles,
            "sinks.commits": len(commits),
            "stream.batches": len(steady_prog),
            "stream.batch_p50_s": statistics.median(trig) if trig else 0.0,
            "stream.batch_p90_s": quantile(trig, 0.9) if trig else 0.0,
            "stream.planning_s": sum(p["durationMs"].get("queryPlanning", 0) for p in steady_prog) / 1000,
            "stream.wal_commit_s": sum(p["durationMs"].get("walCommit", 0) for p in steady_prog) / 1000,
            "stream.add_batch_s": sum(p["durationMs"].get("addBatch", 0) for p in steady_prog) / 1000,
            "stream.busy_ratio": sum(trig) / steady_wall,
            "stream.backlog_max_msgs": backlog,
            "stream.gen_late_max_s": max(producer.late),
            "state.rows_total": ops[-1]["numRowsTotal"] if ops else 0,
            "state.rows_updated": sum(o["numRowsUpdated"] for o in ops),
            "state.memory_bytes": max((o["memoryUsedBytes"] for o in ops), default=0),
            "state.update_s": sum(o["allUpdatesTimeMs"] for o in ops) / 1000,
            "state.commit_s": sum(o["commitTimeMs"] for o in ops) / 1000,
            "state.emit_ratio": len(records) / rows_in if rows_in else 0.0,
            # the first burst runs untraced, the others traced
            "trace.overhead_s": statistics.median(drains[1:]) - drains[0] if len(drains) > 1 else 0.0,
            **_spark_layer(delta, max(commits.values()) - producer.due[0]),
        }
    return Outcome(
        e2e,
        layers,
        attempted=len(segs.names),
        failed=failed,
        record={
            "offered_rate_msgs_per_s": rate * STREAM_SEGMENT_MESSAGES,
            "segments": {"warmup": n_warm, "steady": n_steady, "bursts": len(bursts)},
            "burst_msgs": burst_msgs,
            "latency_samples": len(steady_lat),
            "gen_late_max_s": max(producer.late),
            "batches": [
                (p["batchId"], p["numInputRows"], p["durationMs"].get("triggerExecution", 0) / 1000)
                for p in progress
            ],
            "drain_s": drains,
            "steady_latency_s": [round(x, 4) for x in steady_lat],
            "wrong_keys": len(wrong),
            # failed segments by cause: no batch found for the file, epoch
            # committed after the deadline, a key with a wrong winner
            "failed_segments": {
                "unmapped": len(unmapped), "late": len(late), "wrong": len(wrong_segs)
            },
        },
    )
