"""The benchmark's workloads.  Each drives the engine only through its
public functions and returns ``(result, per_layer)``, where ``result``
holds the end-to-end metrics, the attempted/failed counts and the
correctness verdict of one run.

Closed-loop workloads (``backfill_batch``, ``registry_mix``) repeat one
operation back to back: warm-ups until two consecutive timings agree
within ``SETTLE`` (at most ``WARM_MAX`` of them), then as many timed
operations as start within the run's seconds.  ``live_stream`` is an
open loop fed on a fixed schedule (see loadgen.py).
"""

from __future__ import annotations

import json
import math
import os
import time

from perfbench import gen, stats
from perfbench.loadgen import SegmentReleaser, due_time, segment_of
from perfbench.proc import TreeMonitor
from perfbench.trace import Tracer, self_times

SETTLE = 0.10
WARM_MAX = 4

# input sizes and the offered rate; README.md records why
BACKFILL_RECEIPTS = 20_000
LIVE_RATE = 200  # receipts per second offered to live_stream
LIVE_PERIOD = 0.5  # seconds between segments
LIVE_WARM_S = 10.0  # lead-in of the same feed before the measured window
REGISTRY_CUSTOMERS = 300
REGISTRY_QUERIES = (
    "q18_large_orders", "sessionize_events", "text_quality_score",
    "dedup_ngram_jaccard", "knn_classify_embeddings", "pagerank_events",
)
BALANCE_COLS = ["account", "balance", "block_timestamp", "receipt_id"]


def wire_shuffle_partitions(n_receipts: int) -> int:
    """The documented partition rule for the wire topology."""
    return max(4, min(32, n_receipts // 2500))


# ------------------------------------------------------------ helpers


def _closed_loop(op, seconds: float, tracer: Tracer, warm_max: int = WARM_MAX):
    """Warm ``op`` until settled, then time it for ``seconds``.  Returns
    (warm-up seconds, timed records, window seconds, monitor); each
    record is ``(seconds, result or None, error or None)``."""
    t_warm = time.perf_counter()
    prev = None
    for _ in range(warm_max):
        t = time.perf_counter()
        op()
        d = time.perf_counter() - t
        if prev is not None and abs(d - prev) <= SETTLE * prev:
            break
        prev = d
    warm_s = time.perf_counter() - t_warm

    records = []
    mon = TreeMonitor().start()
    t0 = time.perf_counter()
    while not records or time.perf_counter() - t0 < seconds:
        t = time.perf_counter()
        try:
            with tracer.span("op"):
                out = op()
            records.append((time.perf_counter() - t, out, None))
        except Exception as exc:  # noqa: BLE001 -- a failed op is counted
            records.append((time.perf_counter() - t, None, exc))
    window = time.perf_counter() - t0
    mon.stop()
    return warm_s, records, window, mon


def _e2e(setup_s, samples_s, window_s, items, mon, n_ops, latency_ms=None):
    lat = latency_ms if latency_ms is not None else [1000 * s for s in samples_s]
    p_tail, v_tail = stats.tail_percentile(lat)
    return {
        "setup_s": setup_s,
        "throughput_eps": items * n_ops / window_s,
        "job_s": stats.median(samples_s),
        "latency_p50_ms": stats.median(lat),
        "latency_p99_ms": v_tail,
        "cpu_s": mon.cpu_s / max(n_ops, 1),
    }, {"latency_samples": len(lat), "latency_tail_pct": 100 * p_tail,
        "peak_rss_mb": mon.peak_rss / 2**20}


def engine_snapshot(spark) -> dict[tuple[int, int], tuple[int, int, int]]:
    """(stage id, attempt) -> (tasks, shuffle read+write bytes, spill bytes) from
    Spark's in-JVM status store (populated with the UI disabled)."""
    jvm = spark._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    empty = jvm.java.util.ArrayList()
    quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    stages = store.stageList(empty, False, False, quantiles, jvm.java.util.ArrayList())
    out = {}
    for i in range(stages.size()):
        s = stages.apply(i)
        out[(s.stageId(), s.attemptId())] = (
            int(s.numTasks()),
            int(s.shuffleReadBytes()) + int(s.shuffleWriteBytes()),
            int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled()),
        )
    return out


def engine_delta(before: dict, after: dict) -> dict[str, float]:
    new = [v for k, v in after.items() if k not in before]
    return {
        "engine.tasks": sum(v[0] for v in new),
        "engine.shuffle_bytes": sum(v[1] for v in new),
        "engine.spill_bytes": sum(v[2] for v in new),
    }


# ------------------------------------------------------ backfill_batch


def _batch_frames(spark, inputs: gen.NearInputs, pq_dir: str):
    """The inputs' three topics as parquet-backed frames, staged once."""
    from nearscan_kafka_streams_spark.schemas import TOPIC_SCHEMAS

    if not os.path.isdir(pq_dir):
        gen.stage_near(inputs, pq_dir)
    return [spark.read.schema(TOPIC_SCHEMAS[t][0]).parquet(f"{pq_dir}/{t}")
            for t in gen.TOPICS]


def backfill_batch(ctx) -> tuple[dict, dict]:
    """``run_batch`` over staged parquet receipts, outcomes and actions."""
    t = time.perf_counter()
    inputs = gen.NearInputs(ctx.scale(BACKFILL_RECEIPTS), ctx.seed)
    frames = _batch_frames(ctx.spark, inputs, f"{ctx.tmp}/pq")
    expected = inputs.expected_balances()
    stage_s = time.perf_counter() - t

    from nearscan_kafka_streams_spark.pipeline import run_batch

    def op():
        return run_batch(*frames).balances.select(*BALANCE_COLS).collect()

    before = engine_snapshot(ctx.spark) if ctx.trace else None
    warm_s, records, window, mon = _closed_loop(op, ctx.seconds, ctx.tracer)
    after = engine_snapshot(ctx.spark) if ctx.trace else None
    n_ok = 0
    for _, rows, err in records:
        if err is None and _balances_match(rows, expected):
            n_ok += 1
    result, info = _e2e(
        ctx.session_s + stage_s + warm_s, [r[0] for r in records], window,
        inputs.n_records(), mon, len(records),
    )
    info.update(input_records=inputs.n_records(), receipts=len(inputs.ids),
                ops=len(records), warm_s=warm_s)
    layers = {}
    if ctx.trace:
        layers = _operator_layers(ctx, frames)
        layers.update(engine_delta(before, after))
        layers["engine.peak_rss_mb"] = mon.peak_rss / 2**20
        layers["trace.job_s"] = result["job_s"]
    return _finish(result, info, len(records), len(records) - n_ok), layers


def _balances_match(rows, expected) -> bool:
    got = {
        r["account"]: (int(r["balance"]), int(r["block_timestamp"]), r["receipt_id"])
        for r in rows
    }
    return got == expected


def _operator_layers(ctx, frames) -> dict:
    """Self time and row counts of each operator stage of ``run_batch``,
    each stage materialised in turn (its span minus its predecessor's)."""
    from nearscan_kafka_streams_spark.config import DEFAULT_CONFIG
    from nearscan_kafka_streams_spark.operators.balance import token_balances
    from nearscan_kafka_streams_spark.operators.dedup import dedup_batch
    from nearscan_kafka_streams_spark.operators.joins import (
        join_receipts_outcomes_actions,
    )
    from nearscan_kafka_streams_spark.operators.transfers import extract_transfers

    tracer = ctx.tracer
    r, o, a = frames

    def stage(name, df) -> float:
        t = time.perf_counter()
        with tracer.span(f"operators.{name}"):
            df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    dd = [dedup_batch(r, ["receipt_id"]), dedup_batch(o, ["receipt_id"]),
          dedup_batch(a, ["receipt_id", "index_in_action_receipt"])]
    # the three dedups as one job, like the join stage that consumes them
    dd_all = dd[0].unionByName(dd[1], allowMissingColumns=True).unionByName(
        dd[2], allowMissingColumns=True)
    joined = join_receipts_outcomes_actions(*dd, tolerance_seconds=None)
    transfers = extract_transfers(joined, DEFAULT_CONFIG.token_address)
    balances = token_balances(transfers)
    for _ in range(2):  # the second, warm pass is the one reported
        dur = {"dedup": stage("dedup", dd_all), "join": stage("join", joined),
               "transfers": stage("transfers", transfers),
               "balance": stage("balance", balances)}
    layers = {
        "operators.dedup_s": dur["dedup"],
        "operators.join_s": max(dur["join"] - dur["dedup"], 0.0),
        "operators.transfers_s": max(dur["transfers"] - dur["join"], 0.0),
        "operators.balance_s": max(dur["balance"] - dur["transfers"], 0.0),
        "operators.dedup_dropped": sum(f.count() for f in frames) - sum(d.count() for d in dd),
        "operators.join_rows": joined.count(),
        "operators.transfer_legs": transfers.count(),
        "operators.accounts": balances.count(),
    }
    return layers


# ------------------------------------------------------- registry_mix


def registry_mix(ctx) -> tuple[dict, dict]:
    """Six oracle-backed registry queries over seeded tables."""
    import importlib.util

    import duckdb

    t = time.perf_counter()
    sf = f"{ctx.tmp}/sf"
    tables = gen.registry_tables(ctx.seed, ctx.scale(REGISTRY_CUSTOMERS))
    n_rows = gen.stage_registry(tables, sf)
    spec = importlib.util.spec_from_file_location(
        "_spark_entry", os.path.join(ctx.repo, "__spark_entry__.py"))
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    queries, oracles = entry.queries(), entry.oracle_sql()
    stage_s = time.perf_counter() - t

    spark, tracer = ctx.spark, ctx.tracer
    per_query: dict[str, list[float]] = {n: [] for n in REGISTRY_QUERIES}

    def op():
        out = {}
        for name in REGISTRY_QUERIES:
            t_ = time.perf_counter()
            with tracer.span(f"queries.{name}"):
                out[name] = queries[name](spark, sf).toPandas()
            per_query[name].append(time.perf_counter() - t_)
        return out

    before = engine_snapshot(spark) if ctx.trace else None
    warm_s, records, window, mon = _closed_loop(op, ctx.seconds, tracer, warm_max=1)
    after = engine_snapshot(spark) if ctx.trace else None
    n_timed = len(records)

    check = _load_oracle_check(ctx.repo)
    con = duckdb.connect()
    for name in tables:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf}/{name}.parquet'")
    want = {n: con.sql(oracles[n]).df() for n in REGISTRY_QUERIES}
    con.close()
    failed = 0
    for _, res, err in records:
        if err is not None or not all(_oracle_match(check, res[n], want[n]) for n in REGISTRY_QUERIES):
            failed += 1
    # all six queries of a pass are due at its start, so a query's latency
    # is the time from the pass's start to its own result
    lat_ms = []
    for i in range(-n_timed, 0):
        done = 0.0
        for n in REGISTRY_QUERIES:
            done += per_query[n][i]
            lat_ms.append(1000 * done)
    result, info = _e2e(
        ctx.session_s + stage_s + warm_s, [r[0] for r in records], window,
        n_rows, mon, n_timed, latency_ms=lat_ms,
    )
    info.update(input_rows=n_rows, passes=n_timed, warm_s=warm_s,
                rows_out={n: len(want[n]) for n in REGISTRY_QUERIES})
    layers = {}
    if ctx.trace:
        layers = {f"queries.{n}_s": stats.median(per_query[n][-n_timed:])
                  for n in REGISTRY_QUERIES}
        layers.update(engine_delta(before, after))
        layers["engine.peak_rss_mb"] = mon.peak_rss / 2**20
        layers["trace.job_s"] = result["job_s"]
    return _finish(result, info, n_timed, failed), layers


def _load_oracle_check(repo: str):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "_check_oracle", os.path.join(repo, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _oracle_match(check, spark_pdf, duck_pdf) -> bool:
    """tools/check_oracle.py's rule: equal columns and row count, equal
    canonical rows, else its one-grid-step float fallback."""
    sn, sc, sr = check.normalize(spark_pdf)
    dn, dc, dr = check.normalize(duck_pdf)
    if sc != dc or sn != dn:
        return False
    return sr == dr or check.tolerant_rows_match(spark_pdf, duck_pdf)


# -------------------------------------------------------- live_stream


class LiveRun:
    """One open-loop feed through the two-query streaming topology."""

    def __init__(self, ctx, inputs: gen.NearInputs, root: str, n_segments: int,
                 seg_receipts: int, n_warm: int):
        self.ctx, self.inputs, self.root = ctx, inputs, root
        self.n_segments, self.seg_receipts = n_segments, seg_receipts
        self.n_warm = n_warm
        self.commits: dict[int, tuple[float, float]] = {}
        self.store = f"{root}/out/token_balance_store"
        self.buckets_touched = 0  # set by latency_samples
        self.rows_written = 0

    def stage(self) -> None:
        gen.stage_segments(self.inputs, f"{self.root}/staged", self.seg_receipts)

    def _queries(self):
        from nearscan_kafka_streams_spark.config import DEFAULT_CONFIG
        from nearscan_kafka_streams_spark.operators.balance import token_balances
        from nearscan_kafka_streams_spark.schemas import (
            TOKEN_TRANSFER_SCHEMA,
            TOPIC_SCHEMAS,
            avro_value_schema,
            with_event_time,
        )
        from nearscan_kafka_streams_spark.sinks.upsert import foreach_batch_upsert
        from nearscan_kafka_streams_spark.sources.pyds import ConfluentAvroDataSource
        from nearscan_kafka_streams_spark.streaming.pipeline import (
            build_streaming_transfers,
        )

        spark = self.ctx.spark
        spark.dataSource.register(ConfluentAvroDataSource)
        logs, out = f"{self.root}/logs", f"{self.root}/out"

        def rd(topic):
            raw = (
                spark.readStream.format("confluentavro")
                .schema(TOPIC_SCHEMAS[topic][0])
                .option("path", f"{logs}/{topic}")
                .option("avro_schema", json.dumps(avro_value_schema(topic)))
                .load()
            )
            return with_event_time(raw, TOPIC_SCHEMAS[topic][1])

        transfers = build_streaming_transfers(*(rd(t) for t in gen.TOPICS))
        bridge = f"{out}/token_transfer"
        # an empty metadata log makes the bridge reader trust only files
        # the transfer sink has committed, from the first listing on
        os.makedirs(f"{bridge}/_spark_metadata", exist_ok=True)
        trigger = DEFAULT_CONFIG.trigger_interval
        q1 = (
            transfers.writeStream.format("parquet").queryName("q1")
            .option("path", bridge)
            .option("checkpointLocation", f"{out}/ckpt_transfers")
            .outputMode("append").trigger(processingTime=trigger).start()
        )
        upsert = foreach_batch_upsert("account", self.store, retain_versions=1_000_000)

        def timed_upsert(df, batch_id):
            t = time.time()
            upsert(df, batch_id)
            self.commits[batch_id] = (t, time.time())

        stream = spark.readStream.schema(TOKEN_TRANSFER_SCHEMA).parquet(bridge)
        q2 = (
            token_balances(stream).writeStream.queryName("q2")
            .foreachBatch(timed_upsert).outputMode("update")
            .option("checkpointLocation", f"{out}/ckpt_balances")
            .trigger(processingTime=trigger).start()
        )
        return q1, q2

    def run(self) -> dict:
        """Feed every segment on schedule and wait for the last balance
        commit.  The first ``n_warm`` segments are the lead-in; the
        measured window (and the CPU/RSS monitor) starts at the due time
        of the first segment after them.  Returns timing facts."""
        spark = self.ctx.spark
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(wire_shuffle_partitions(len(self.inputs.ids))))
        t_start = time.time()
        q1, q2 = self._queries()
        try:
            deadline = time.time() + 60
            while any(q.status["message"].startswith("Initializing") for q in (q1, q2)):
                if time.time() > deadline:
                    raise TimeoutError("streaming queries did not initialise")
                time.sleep(0.05)
            gen_ = SegmentReleaser(f"{self.root}/staged", f"{self.root}/logs",
                                   gen.TOPICS, self.n_segments, LIVE_PERIOD)
            t0 = time.time() + 0.5
            t_measure = due_time(t0, LIVE_PERIOD, self.n_warm)
            gen_.start(t0)
            time.sleep(max(t_measure - time.time(), 0))
            mon = TreeMonitor().start()
            gen_.join(self.n_segments * LIVE_PERIOD + 30)
            q1.processAllAvailable()
            q2.processAllAvailable()
            mon.stop()
        finally:
            for q in (q1, q2):
                q.stop()
        t_end = max(e for _, e in self.commits.values())
        return {"t_start": t_start, "t0": t0, "t_measure": t_measure, "t_end": t_end,
                "late": gen_.late, "mon": mon}

    def latency_samples(self, t0: float) -> list[tuple[float, float, int]]:
        """(due time, latency seconds, upsert batch) per changed account
        per upsert batch whose latest event lies in a measured segment,
        from the retained store versions (read after the run with
        pyarrow, so the live path ran no extra job)."""
        import pyarrow.parquet as pq

        from nearscan_kafka_streams_spark.sinks.upsert import (
            bucket_paths,
            list_store_versions,
        )

        state: dict[str, tuple] = {}
        prev: dict[str, str] = {}
        out = []
        for v in list_store_versions(self.store):
            with open(f"{self.store}/_versions/{v:010d}.json") as fh:
                manifest = json.load(fh)
            touched = [int(b) for b, g in manifest["buckets"].items() if prev.get(b) != g]
            prev = dict(manifest["buckets"])
            self.buckets_touched += len(touched)
            commit = self.commits[v][1]
            for path in bucket_paths(self.store, manifest, touched):
                tbl = pq.read_table(path, columns=BALANCE_COLS).to_pylist()
                self.rows_written += len(tbl)
                for row in tbl:
                    key = (row["balance"], row["block_timestamp"], row["receipt_id"])
                    if state.get(row["account"]) != key:
                        state[row["account"]] = key
                        seg = segment_of(int(row["block_timestamp"]), gen.T0_NS,
                                         gen.STEP_NS, self.seg_receipts)
                        if seg >= self.n_warm:
                            due = due_time(t0, LIVE_PERIOD, seg)
                            out.append((due, commit - due, v))
        return out

    def balances_match(self) -> bool:
        """Final store equals the generator's expected balances."""
        import pyarrow.parquet as pq

        from nearscan_kafka_streams_spark.sinks.upsert import bucket_paths

        with open(f"{self.store}/_MANIFEST.json") as fh:
            manifest = json.load(fh)
        rows = [r for p in bucket_paths(self.store, manifest)
                for r in pq.read_table(p, columns=BALANCE_COLS).to_pylist()]
        return len(rows) == len({r["account"] for r in rows}) and _balances_match(
            rows, self.inputs.expected_balances())


def lag_grew(samples: list[tuple[float, float, int]], trigger_s: float) -> bool:
    """True when the run fell behind: latency of the last third of
    segments (by due time) exceeds the first third's by half plus two
    trigger intervals."""
    if len(samples) < 3:
        return True
    s = sorted(samples)
    k = len(s) // 3
    first = stats.median([x[1] for x in s[:k]])
    last = stats.median([x[1] for x in s[-k:]])
    return last > 1.5 * first + 2 * trigger_s


def live_stream(ctx) -> tuple[dict, dict]:
    """Open-loop feed at ``LIVE_RATE`` receipts/s through both halves of
    the streaming topology on the reference's 500 ms trigger."""
    from nearscan_kafka_streams_spark.streaming.metrics import ProgressCapture

    t = time.perf_counter()
    seg = int(LIVE_RATE * LIVE_PERIOD)
    n_warm = math.ceil(LIVE_WARM_S / LIVE_PERIOD)
    n_meas = max(math.ceil(ctx.seconds / LIVE_PERIOD), 3)
    inputs = gen.NearInputs(ctx.scale((n_warm + n_meas) * seg), ctx.seed)
    n_seg = math.ceil(len(inputs.ids) / seg)
    n_warm = min(n_warm, n_seg - 1)
    live = LiveRun(ctx, inputs, f"{ctx.tmp}/live", n_seg, seg, n_warm)
    live.stage()
    stage_s = time.perf_counter() - t

    capture = None
    if ctx.trace:
        capture = ProgressCapture()
        ctx.spark.streams.addListener(capture)
        before = engine_snapshot(ctx.spark)
    try:
        with ctx.tracer.span("live"):
            facts = live.run()
    finally:
        if capture is not None:
            ctx.spark.streams.removeListener(capture)
    after = engine_snapshot(ctx.spark) if ctx.trace else None
    samples = live.latency_samples(facts["t0"])
    ok = live.balances_match() and not lag_grew(samples, LIVE_PERIOD)
    # set-up: session, staging, query start and the lead-in segments
    setup_s = ctx.session_s + stage_s + facts["t_measure"] - facts["t_start"]
    job_s = facts["t_end"] - facts["t_measure"]
    measured = inputs.n_records(n_warm * seg)
    lat = [1000 * x[1] for x in samples]
    result, info = _e2e(setup_s, [job_s], job_s, measured, facts["mon"], 1,
                        latency_ms=lat)
    info.update(input_records=inputs.n_records(), measured_records=measured,
                segments=n_seg, lead_in_segments=n_warm,
                offered_receipts_per_s=LIVE_RATE, upsert_batches=len(live.commits))
    layers = {}
    if ctx.trace:
        layers = _live_layers(ctx, live, facts, capture.rows())
        layers.update(engine_delta(before, after))
        layers.update(_operator_layers(
            ctx, _batch_frames(ctx.spark, inputs, f"{live.root}/pq")))
        layers["engine.peak_rss_mb"] = facts["mon"].peak_rss / 2**20
        layers["trace.job_s"] = job_s
    return _finish(result, info, 1, 0 if ok else 1), layers


def _live_layers(ctx, live: LiveRun, facts: dict, rows: list[dict]) -> dict:
    from nearscan_kafka_streams_spark.sinks.upsert import read_store

    layers: dict[str, float] = {}
    by_q = {"q1": [r for r in rows if r.get("name") == "q1"],
            "q2": [r for r in rows if r.get("name") == "q2"]}
    q1_trig = 0.0
    for q, rs in by_q.items():
        def dur(phase, rs=rs):
            return [r.get("durationMs", {}).get(phase, 0) for r in rs]

        trig = dur("triggerExecution") or [0]
        if q == "q1":
            q1_trig = sum(trig)
        layers[f"streaming.{q}.triggers"] = len(rs)
        layers[f"streaming.{q}.trigger_ms_p50"] = stats.median(trig)
        layers[f"streaming.{q}.trigger_ms_max"] = max(trig)
        layers[f"streaming.{q}.add_batch_ms"] = sum(dur("addBatch"))
        layers[f"streaming.{q}.planning_ms"] = sum(dur("queryPlanning"))
        layers[f"streaming.{q}.wal_commit_ms"] = sum(dur("walCommit"))
        layers[f"streaming.{q}.commit_offsets_ms"] = sum(dur("commitOffsets"))
    layers["sources.latest_offset_ms"] = sum(
        r.get("durationMs", {}).get("latestOffset", 0) for r in by_q["q1"])
    run_ms = 1000 * (facts["t_end"] - facts["t_start"])
    layers["streaming.query_fixed_ms"] = max(run_ms - q1_trig, 0.0)
    commit = {"dedup": 0.0, "join": 0.0, "agg": 0.0}
    removed = rocks_ckpt = 0.0
    for r in rows:
        for op in r.get("stateOperators") or []:
            name = op.get("operatorName", "")
            kind = "dedup" if "dedupe" in name.lower() else "join" if "join" in name.lower() else "agg"
            commit[kind] += op.get("commitTimeMs", 0)
            removed += op.get("numRowsRemoved", 0)
            cm = op.get("customMetrics") or {}
            rocks_ckpt += cm.get("rocksdbCommitCheckpointLatency", 0)
    for k, v in commit.items():
        layers[f"streaming.state.commit_ms.{k}"] = v
    last = {}
    for r in rows:  # latest progress of each query that reports state
        if r.get("stateOperators"):
            last[r.get("name")] = r["stateOperators"]
    ops = [op for v in last.values() for op in v]
    layers["streaming.state.rows_total"] = sum(op.get("numRowsTotal", 0) for op in ops)
    layers["streaming.state.rows_removed"] = removed
    layers["streaming.state.memory_bytes"] = sum(op.get("memoryUsedBytes", 0) for op in ops)
    layers["streaming.state.rocksdb_checkpoint_ms"] = rocks_ckpt
    layers["streaming.state.rocksdb_sst_bytes"] = sum(
        (op.get("customMetrics") or {}).get("rocksdbSstFileSize", 0) for op in ops)
    ups = [1000 * (e - s) for s, e in live.commits.values()]
    layers["sinks.upsert_ms_p50"] = stats.median(ups)
    layers["sinks.upsert_ms_max"] = max(ups)
    layers["sinks.buckets_touched"] = live.buckets_touched
    layers["sinks.rows"] = live.rows_written
    t = time.perf_counter()
    read_store(ctx.spark, live.store).write.format("noop").mode("overwrite").save()
    layers["sinks.read_store_ms"] = 1000 * (time.perf_counter() - t)
    late = [1000 * x for x in facts["late"]]
    layers["loadgen.late_ms_p99"] = stats.tail_percentile(late)[1] if late else 0.0
    layers.update(_wire_read_layers(ctx, f"{live.root}/logs"))
    return layers


def _frame_bodies(path: str):
    """(padded uint8 buffer, Avro body offsets) of a length-prefixed
    Confluent-framed segment: 4-byte big-endian length, then magic
    byte and 4-byte schema id before each Avro body."""
    import numpy as np

    with open(path, "rb") as fh:
        raw = fh.read()
    buf = np.zeros(len(raw) + 16, dtype=np.uint8)
    buf[: len(raw)] = np.frombuffer(raw, dtype=np.uint8)
    starts, pos = [], 0
    while pos < len(raw):
        n = int.from_bytes(raw[pos:pos + 4], "big")
        starts.append(pos + 4 + 5)
        pos += 4 + n
    return buf, np.asarray(starts, dtype=np.int64), len(raw)


def _wire_read_layers(ctx, logs: str) -> dict:
    """Batch ``confluentavro`` read of the staged segments, and the
    in-process vectorized decode of every segment."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from nearscan_kafka_streams_spark.schemas import TOPIC_SCHEMAS, avro_value_schema
    from nearscan_kafka_streams_spark.serde.avro_vec import VectorizedDecoder

    spark, tracer = ctx.spark, ctx.tracer
    with tracer.span("sources.read"):
        for topic in gen.TOPICS:
            (spark.read.format("confluentavro").schema(TOPIC_SCHEMAS[topic][0])
             .option("path", f"{logs}/{topic}")
             .option("avro_schema", json.dumps(avro_value_schema(topic)))
             .load().write.format("noop").mode("overwrite").save())
    n_vec = n_all = nbytes = 0
    with tracer.span("serde.decode"):
        for topic in gen.TOPICS:
            dec = VectorizedDecoder(avro_value_schema(topic),
                                    to_arrow_schema(TOPIC_SCHEMAS[topic][0]))
            for f in sorted(os.listdir(f"{logs}/{topic}")):
                buf, starts, size = _frame_bodies(f"{logs}/{topic}/{f}")
                nbytes += size
                n_all += len(starts)
                try:
                    n_vec += dec.decode_batch(buf, starts).num_rows
                except Exception:  # noqa: BLE001 -- counted as row-lane records
                    pass
    st = self_times(tracer.spans)
    return {
        "sources.read_s": st["sources.read"],
        "serde.decode_s": st["serde.decode"],
        "serde.decode_mb_per_s": nbytes / 2**20 / st["serde.decode"],
        "serde.vector_share": n_vec / n_all if n_all else 0.0,
    }


def _finish(result: dict, info: dict, attempted: int, failed: int) -> dict:
    return {"metrics": result, "info": info, "attempted": attempted, "failed": failed}


WORKLOADS = {
    "backfill_batch": backfill_batch,
    "live_stream": live_stream,
    "registry_mix": registry_mix,
}
