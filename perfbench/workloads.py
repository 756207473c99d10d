"""The two workloads.  Each drives the program only through its public entry
points (``streaming.pipeline.run_pipeline`` and the ``plans`` registry),
times from outside, checks outputs with ``check`` and, in a traced run,
repeats its timed phases with spans on to read the per-layer numbers (see
LAYERS.md for which end-to-end metric each should move).
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import sys
import time
from statistics import median

import check
import loadgen

# backfill phase: BACKFILL_ROWS rows staged in BACKFILL_FILES files, drained
# as one micro-batch (plus its retention pass) into a fresh table each time,
# at least MIN_DRAINS times and for at least --seconds in all.  The timed
# drains run after the live phase: drains keep getting faster over the
# first dozen or so micro-batches in a JVM, and are flat after the live
# phase's.  Before the live phase come an untimed cold drain of a COLD_ROWS
# feed and WARM_DRAINS untimed drains of the backlog, which warm the JVM
# for it.
BACKFILL_ROWS, BACKFILL_FILES, MIN_DRAINS, WARM_DRAINS, COLD_ROWS = 500_000, 50, 4, 2, 100_000
# live phase: an open loop (loadgen.LIVE_RATE slices/s of loadgen.SLICE_ROWS
# rows) into the running 1 s processing-time stream.  Slices due in the
# first LIVE_WARMUP_S are not measured, then slices due in LIVE_SPAN times
# --seconds are (twice that in a traced run): a micro-batch takes 1.5-2.5 s,
# and the p50 needs several.  A slice not committed LIVE_LIMIT_S after
# its due time has failed.
LIVE_WARMUP_S, LIVE_SPAN, LIVE_LIMIT_S = 5.0, 2, 10.0
# query_mix: one client (closed loop), the registered queries below at scale
# factor MIX_SF (lineitem has 6e6 * MIX_SF rows), each pass in a seeded
# shuffled order, at least MIX_PASSES passes after one untimed warm-up
# pass (the first passes after the cold one are still warming up).  One
# query per layer of the query surface: the acquisition slice in batch,
# point and window analytics, the register-decode kernel, Catalyst over
# aggregates and a six-table join, the table services' commit protocol,
# the graph loop.
MIX_SF, MIX_PASSES = 0.01, 2
MIX = (
    "flagship_pipeline op_latest_per_channel op_decode_registers op_sql_q1 "
    "op_sql_q5_region op_sql_window_rank op_sink_merge_upsert op_graph_triangles"
).split()

_STREAM_MS = ("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets", "addBatch")
_SINK = {"sink.channel_data_files": "count", "sink.mean_file_kb": "KB", "sink.bytes_written": "B"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit.  A layer
    the workload does not call reads 0."""
    u = {"session.start_s": "s", "jvm.gc_ms": "ms"}
    for ph in ("live", "backfill"):
        u |= {f"{ph}.stream.{k}_ms": "ms" for k in _STREAM_MS}
        u |= {f"{ph}.{k}": v for k, v in _SINK.items()}
        u |= {f"{ph}.pipeline.persist_batch_self_s": "s", f"{ph}.pipeline.upsert_status_p50_s": "s",
              f"{ph}.pipeline.status_bucket_dirs_per_batch": "count",
              f"{ph}.pipeline.status_versions_live": "count"}
    u |= {"live.stream.batches": "count", "live.stream.rows_per_batch": "rows",
          "live.stream.queue_wait_p50_s": "s", "live.pipeline.upsert_status_p90_s": "s",
          "backfill.pipeline.retention_compact_s": "s", "backfill.speedup_vs_1core": "x",
          "sink.commit_manifest_s": "s"}
    for q in MIX:
        u |= {f"query.{q}.construct_s": "s", f"query.{q}.plan_ms": "ms", f"query.{q}.execute_s": "s",
              f"query.{q}.jobs": "count", f"query.{q}.tasks": "count"}
    u |= {"proc.peak_rss_mb": "MB", "trace.overhead_latency_pct": "%", "trace.overhead_bulk_pct": "%"}
    return u


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s), max(1, -int(-q * len(s) // 1))) - 1]


def _parquet_files(d: str) -> list[str]:
    return sorted(os.path.join(r, f) for r, _d, fs in os.walk(d) for f in fs if f.endswith(".parquet"))


def _snapshot(src: str, dst: str) -> None:
    """Hard-link every parquet file under ``src`` into ``dst``: a free copy
    of the table as it is now, which later renames and deletes leave alone."""
    os.makedirs(dst, exist_ok=True)
    for i, f in enumerate(_parquet_files(src)):
        os.link(f, os.path.join(dst, f"{i:05d}.parquet"))


def _sink_layout(files: list[str]) -> dict:
    sizes = [os.path.getsize(f) for f in files]
    return {"sink.channel_data_files": len(sizes),
            "sink.mean_file_kb": sum(sizes) / len(sizes) / 1024 if sizes else 0.0,
            "sink.bytes_written": sum(sizes)}


def _status_versions(work: str) -> int:
    d = os.path.join(work, "daq_status")
    return sum(n.startswith("v=") for n in os.listdir(d)) if os.path.isdir(d) else 0


def _med(values) -> float:
    values = list(values)
    return median(values) if values else 0.0


class _StreamProgress:
    """Per-trigger progress from a ``StreamingQueryListener`` the benchmark
    registers on the session (Spark's own durations per trigger)."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        events: list[dict] = []
        self.events = events

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                events.append({"batch": p.batchId, "run": str(p.runId), "rows": p.numInputRows,
                               "start": _iso_epoch(p.timestamp), "ms": dict(p.durationMs)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark, self.listener = spark, Listener()
        spark.streams.addListener(self.listener)

    def select(self, keep, expect: int = 0, timeout: float = 10.0) -> list[dict]:
        """Events with input rows that ``keep`` accepts; progress arrives
        asynchronously, so wait up to ``timeout`` for ``expect`` of them."""
        end = time.time() + timeout
        while True:
            ev = [e for e in self.events if e["rows"] > 0 and keep(e)]
            if len(ev) >= expect or time.time() > end:
                return ev
            time.sleep(0.05)

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)


def _stream_metrics(prefix: str, ev: list[dict]) -> dict:
    return {f"{prefix}.stream.{k}_ms": _med(e["ms"].get(k, 0) for e in ev) for k in _STREAM_MS}


def _iso_epoch(ts: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def _source_batches(ckpt: str) -> dict[str, int]:
    """file name -> micro-batch id, from the file source's metadata log
    (``N`` and ``N.compact`` entries)."""
    d = os.path.join(ckpt, "sources", "0")
    out: dict[str, int] = {}
    for name in os.listdir(d) if os.path.isdir(d) else ():
        if not name.removesuffix(".compact").isdigit():
            continue
        with open(os.path.join(d, name)) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def _landing(ckpt: str, slices: list[dict]) -> dict[str, tuple[int, float]]:
    """slice file -> (batch id, commit time) for every slice whose
    micro-batch has committed; the commit time is the mtime of the
    checkpoint's commit-log entry."""
    batches = _source_batches(ckpt)
    d = os.path.join(ckpt, "commits")
    commits = {int(n): os.stat(os.path.join(d, n)).st_mtime
               for n in (os.listdir(d) if os.path.isdir(d) else ()) if n.isdigit()}
    return {s["file"]: (batches[s["file"]], commits[batches[s["file"]]])
            for s in slices if batches.get(s["file"]) in commits}


def _phases(b) -> tuple[str, ...]:
    """A traced run alternates untraced and traced samples, so warm-up left
    over in the JVM favours neither side of the tracing overhead."""
    return ("timed", "traced") if b.trace else ("timed",)


def _live_phase(batch_id: int) -> str:
    """The phase of a live micro-batch in a traced run: tracing is on for
    every other pair of batches.  The second batch of a pair follows one of
    its own phase, so the wait for the previous batch that its slices
    include is of the same phase too."""
    return ("timed", "traced")[batch_id // 2 % 2]


def ingest(b) -> None:
    """Untimed drains of a small backlog (the cold JVM's first pass over
    every code path) and of the backlog, then the live open loop, which the
    drains have warmed up, then the timed backfill drains."""
    from daq_3i_spark.streaming import pipeline

    base = os.path.join(b.work, "ingest")
    feeds = {"cold": os.path.join(base, "cold"), "backlog": os.path.join(base, "feed")}
    loadgen.stage_backfill(os.path.join(feeds["cold"], "events.parquet"), b.seed + 1, COLD_ROWS, 1)
    loadgen.stage_backfill(os.path.join(feeds["backlog"], "events.parquet"), b.seed, BACKFILL_ROWS, BACKFILL_FILES)
    con = check.connect()
    exp = {k: check.expected_ingest(con, _parquet_files(d)) for k, d in feeds.items()}
    spark = b.session()
    t = b.tracer
    progress = None
    if b.trace:

        def buckets(args):
            vd = os.path.join(args[1], "daq_status", f"v={args[3]}")
            return {"bucket_dirs": sum(n.startswith("__b=") for n in os.listdir(vd))}

        t.wrap(pipeline, "persist_batch", "pipeline.persist_batch", ref_arg=3)
        t.wrap(pipeline, "upsert_status", "pipeline.upsert_status", ref_arg=3, after=buckets)
        t.wrap(pipeline, "retention_compact", "pipeline.retention_compact")
        progress = _StreamProgress(spark)
    # keep channel_data as each drain appended it, for the gate, by linking
    # its files just before retention rewrites the table
    retain = pipeline.retention_compact

    def snapshot_then_retain(spark, work_dir):
        _snapshot(os.path.join(work_dir, "channel_data"), os.path.join(work_dir, "pre_retention"))
        retain(spark, work_dir)

    pipeline.retention_compact = snapshot_then_retain
    n_drain = [0]

    def drain(label: str, feed: str = "backlog") -> tuple[float, dict]:
        wd = os.path.join(base, f"drain{n_drain[0]}")
        n_drain[0] += 1
        w0, t0 = time.time(), time.perf_counter()
        pipeline.run_pipeline(spark, feeds[feed], wd, available_now=True)
        dt = time.perf_counter() - t0
        b.log(f"{label}: {dt:.2f} s")
        b.gate(label, check.check_ingest(con, spark, wd, os.path.join(wd, "pre_retention"), exp[feed]))
        layout = _sink_layout(_parquet_files(os.path.join(wd, "pre_retention")))
        layout["versions"] = _status_versions(wd)
        layout["window"] = (w0, w0 + dt)
        shutil.rmtree(wd)
        return dt, layout

    try:
        drain("cold drain", "cold")
        for _ in range(WARM_DRAINS):
            drain("warm-up drain")
        b.setup_done()
        gc0 = b.gc_ms() if b.trace else 0.0
        _live(b, pipeline, spark, con, progress)
        lo = len(t.spans)
        runs: dict[str, list] = {ph: [] for ph in _phases(b)}
        while any(len(r) < MIN_DRAINS or sum(x[0] for x in r) < b.seconds for r in runs.values()):
            for ph, r in runs.items():
                t.active = ph == "traced"
                r.append(drain(f"{ph} drain"))
                t.active = False
        for ph, r in runs.items():
            times = [x[0] for x in r]
            b.phase_result(ph, "backfill", attempted=len(r), failed=0, bulk_s=median(times),
                           extra={"backfill_rows_per_s": BACKFILL_ROWS / median(times), "drain_s": times})
        if b.trace:
            traced = runs["traced"]
            # each drain is one micro-batch of its own query
            ev = progress.select(lambda e: any(a <= e["start"] <= z for a, z in (x[1]["window"] for x in traced)),
                                 expect=len(traced))
            b.layers |= _stream_metrics("backfill", ev)
            b.layers |= {f"backfill.{k}": _med(x[1][k] for x in traced) for k in _SINK}
            b.layers |= {
                "backfill.pipeline.status_versions_live": _med(x[1]["versions"] for x in traced),
                "backfill.pipeline.persist_batch_self_s": _med(t.self_times("pipeline.persist_batch", lo)),
                "backfill.pipeline.upsert_status_p50_s": _med(t.durations("pipeline.upsert_status", lo)),
                "backfill.pipeline.status_bucket_dirs_per_batch": _med(
                    s["bucket_dirs"] for _i, s in t.select("pipeline.upsert_status", lo)),
                "backfill.pipeline.retention_compact_s": _med(t.durations("pipeline.retention_compact", lo)),
            }
            b.layers["jvm.gc_ms"] = b.gc_ms() - gc0
            # the same drain on one core, in the same (warm) JVM
            spark = b.session(cpus=1)
            drain("1-core warm-up drain", "cold")
            one, _layout = drain("1-core drain")
            b.layers["backfill.speedup_vs_1core"] = one / median(x[0] for x in traced)
    finally:
        pipeline.retention_compact = retain
        if progress is not None:
            progress.close()
        t.unwrap()
        con.close()


def _live(b, pipeline, spark, con, progress) -> None:
    """The daemon's operating mode: a load generator process publishes
    slices on a seeded Poisson schedule while the 1 s processing-time stream
    runs; each slice's latency runs from its due time to the commit of the
    micro-batch that holds it.  A traced run measures twice as long and
    switches tracing on and off by micro-batch (``_live_phase``); each phase
    counts the slices of the second batch of each of its pairs."""
    W = LIVE_WARMUP_S
    measured = (W, W + LIVE_SPAN * b.seconds * (2 if b.trace else 1))
    work = os.path.join(b.work, "live")
    feed_root = os.path.join(work, "feed")
    feed = os.path.join(feed_root, "events.parquet")
    manifest = os.path.join(work, "slices.jsonl")
    os.makedirs(feed)
    start = time.time() + 0.5
    gen = b.spawn([sys.executable, os.path.join(b.here, "loadgen.py"), "--seed", str(b.seed),
                   "--out", feed, "--manifest", manifest, "--start", repr(start),
                   "--seconds", repr(measured[1])])
    b.exclude_rss(gen.pid)
    # the stream reads its schema from the feed, so it starts on slice 0
    while not os.path.exists(os.path.join(feed, "slice-000000.parquet")):
        if gen.poll() is not None:
            raise RuntimeError("load generator exited before its first slice")
        time.sleep(0.01)
    t = b.tracer
    lo = len(t.spans)
    persist = pipeline.persist_batch

    def persist_in_phase(spark, work_dir, batch, batch_id):
        t.active = _live_phase(batch_id) == "traced"
        try:
            persist(spark, work_dir, batch, batch_id)
        finally:
            t.active = False

    if b.trace:
        pipeline.persist_batch = persist_in_phase
    q = pipeline.run_pipeline(spark, feed_root, work, available_now=False)
    b.log("live stream started")
    try:
        if gen.wait(timeout=measured[1] + 30) != 0:
            raise RuntimeError("load generator failed")
        with open(manifest) as f:
            slices = [json.loads(line) for line in f]
        deadline = slices[-1]["due"] + LIVE_LIMIT_S
        ckpt = os.path.join(work, "checkpoint")
        while time.time() < deadline and len(_landing(ckpt, slices)) < len(slices):
            if q.exception() is not None:
                raise RuntimeError(f"stream failed: {q.exception()}")
            time.sleep(0.1)
        landed = _landing(ckpt, slices)
    finally:
        q.stop()
        pipeline.persist_batch = persist
    b.log(f"live phase done, {len(landed)} of {len(slices)} slices landed")
    lateness = pct([s["published"] - s["due"] for s in slices], 0.9)
    b.record["generator_lateness_p90_s"] = lateness
    b.record["generator_slices"] = len(slices)
    b.record["live_commits_s"] = sorted({(bid, round(c - start, 3)) for bid, c in landed.values()})
    b.valid = lateness < 0.25  # a generator that fell behind did not apply the load

    window = [s for s in slices if start + measured[0] <= s["due"] < start + measured[1]]

    def phase_of(s):
        if not b.trace or s["file"] not in landed:
            return "timed"  # a slice that never landed fails once
        batch = landed[s["file"]][0]
        return _live_phase(batch) if batch % 2 else None

    for ph in _phases(b):
        sl = [s for s in window if phase_of(s) == ph]
        lat = [landed[s["file"]][1] - s["due"] for s in sl if s["file"] in landed]
        ok = [x for x in lat if x <= LIVE_LIMIT_S]
        p50 = median(ok) if ok else LIVE_LIMIT_S
        p90 = pct(ok, 0.9) if ok else LIVE_LIMIT_S
        b.phase_result(ph, "live", attempted=len(sl), failed=len(sl) - len(ok),
                       latency_s=p50, extra={"land_p50_s": p50, "land_p90_s": p90, "land_samples": len(ok)})
        if ph == "traced":
            # Spark's and the pipeline's figures of the same traced batches
            batches = {landed[s["file"]][0] for s in window if s["file"] in landed} & {
                s["ref"] for _i, s in t.select("pipeline.persist_batch", lo)}
            run = str(q.runId)
            ev = progress.select(lambda e: e["run"] == run and e["batch"] in batches, expect=len(batches))
            trig = {e["batch"]: e["start"] for e in ev}
            ups = t.durations("pipeline.upsert_status", lo, batches)
            b.layers |= _stream_metrics("live", ev)
            b.layers |= {
                "live.stream.batches": len(ev),
                "live.stream.rows_per_batch": _med(e["rows"] for e in ev),
                "live.stream.queue_wait_p50_s": _med(
                    trig[landed[s["file"]][0]] - s["due"] for s in window
                    if s["file"] in landed and landed[s["file"]][0] in trig),
                "live.pipeline.persist_batch_self_s": _med(t.self_times("pipeline.persist_batch", lo, batches)),
                "live.pipeline.upsert_status_p50_s": _med(ups),
                "live.pipeline.upsert_status_p90_s": pct(ups, 0.9) if ups else 0.0,
                "live.pipeline.status_bucket_dirs_per_batch": _med(
                    s["bucket_dirs"] for _i, s in t.select("pipeline.upsert_status", lo, batches)),
                "live.pipeline.status_versions_live": _status_versions(work),
            }
            b.layers |= {f"live.{k}": v for k, v in
                         _sink_layout(_parquet_files(os.path.join(work, "channel_data"))).items()}

    # gate: every published row is in channel_data once and daq_status holds
    # the newest ts per key (the drains check retention)
    exp = check.expected_ingest(con, [os.path.join(feed, s["file"]) for s in slices])
    b.gate("live", check.check_ingest(con, spark, work, None, exp))


def query_mix(b) -> None:
    from daq_3i_spark.cache import release_shared
    from daq_3i_spark.plans import QUERIES
    from daq_3i_spark.sources import sink
    from tests.oracle_check import compare

    sf = os.path.join(b.work, "sf")
    loadgen.make_tables(sf, b.seed, MIX_SF)
    spark = b.session()
    con = check.oracle_connect(sf)
    # cold pass, not timed: each query once, checked against its oracle
    for q in MIX:
        try:
            problems = compare(QUERIES[q].spark(spark, sf), con.execute(QUERIES[q].oracle).fetch_arrow_table())
        except Exception as e:  # noqa: BLE001 - a raising query is a counted failure
            problems = [f"raised {type(e).__name__}: {str(e)[:300]}"]
        b.gate(q, problems)
        release_shared()
        b.log(f"cold {q}")
    con.close()
    for q in MIX:
        _noop(QUERIES[q].spark(spark, sf))
        release_shared()
    b.log("warm-up pass")
    b.setup_done()
    plans = _WritePlans(spark) if b.trace else None
    noop = plans.write if plans else _noop
    if b.trace:
        b.tracer.wrap(sink, "commit_manifest", "sink.commit_manifest")
    rng = random.Random(b.seed)
    gc0 = b.gc_ms()
    times: dict[str, dict[str, list[float]]] = {ph: {q: [] for q in MIX} for ph in _phases(b)}
    passes: dict[str, list[float]] = {ph: [] for ph in _phases(b)}
    failed = dict.fromkeys(_phases(b), 0)
    per_q: dict[str, list[dict]] = {q: [] for q in MIX}
    while any(sum(p) < b.seconds or len(p) < MIX_PASSES for p in passes.values()):
        order = MIX[:]
        rng.shuffle(order)
        for ph in passes:
            passes[ph].append(0.0)
        for q in order:
            for ph in sorted(passes, key=lambda _p: rng.random()):
                b.tracer.active = ph == "traced"
                t0 = time.perf_counter()
                try:
                    if ph == "traced":
                        per_q[q].append(_traced_query(b, spark, QUERIES[q].spark, q, sf, plans))
                    else:
                        noop(QUERIES[q].spark(spark, sf))
                except Exception as e:  # noqa: BLE001 - a raising query is a counted failure
                    failed[ph] += 1
                    b.log(f"{q} raised {type(e).__name__}: {str(e)[:300]}")
                release_shared()
                b.tracer.active = False
                times[ph][q].append(time.perf_counter() - t0)
                passes[ph][-1] += times[ph][q][-1]
        b.log("pass: " + ", ".join(f"{ph} {p[-1]:.2f} s" for ph, p in passes.items()))
    for ph in passes:
        # the bounded latency is the geometric mean of the queries' median
        # times: every query weighs the same, and the noise of one query is
        # averaged with the others'.  A pooled median falls in the gap
        # between the fourth and fifth query and reads their extreme samples.
        per_q_med = {q: median(v) for q, v in times[ph].items()}
        geo = math.exp(sum(math.log(v) for v in per_q_med.values()) / len(per_q_med))
        pooled = [x for v in times[ph].values() for x in v]
        p50, p90 = median(pooled), pct(pooled, 0.9)
        b.phase_result(ph, "mix", attempted=len(pooled), failed=failed[ph], latency_s=geo,
                       bulk_s=median(passes[ph]),
                       extra={"query_geomean_s": geo, "query_p50_s": p50, "query_median_s": per_q_med,
                              # reported only with at least 10 samples beyond it
                              "query_p90_s": p90 if len(pooled) >= 100 else None,
                              "query_samples": len(pooled), "pass_s": passes[ph],
                              "mix_queries_per_min": 60.0 * len(pooled) / sum(passes[ph])})
    if b.trace:
        for q, rows in per_q.items():
            for k in ("construct_s", "plan_ms", "execute_s", "jobs", "tasks"):
                b.layers[f"query.{q}.{k}"] = _med(r[k] for r in rows)
        b.layers["sink.commit_manifest_s"] = _med(b.tracer.durations("sink.commit_manifest"))
        b.layers["jvm.gc_ms"] = b.gc_ms() - gc0
        plans.close()
    b.tracer.unwrap()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class _WritePlans:
    """Catalyst phase times of the noop writes, from a
    ``QueryExecutionListener`` the benchmark registers through py4j.  A
    write plans its query in a QueryExecution of its own, so the phases are
    read from that one: a traced query is planned once, by the same call
    the untraced path makes."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self.spark, self.issued, self.ms = spark, 0, []
        spark._jsparkSession.listenerManager().register(self)

    def write(self, df) -> None:
        self.issued += 1
        _noop(df)

    def last_ms(self, timeout: float = 10.0) -> float:
        """Analysis + optimization + planning of the latest write, in ms.
        The listener bus delivers in order, one event per write."""
        end = time.time() + timeout
        while len(self.ms) < self.issued and time.time() < end:
            time.sleep(0.005)
        if len(self.ms) < self.issued:
            return 0.0
        return self.ms[self.issued - 1] or 0.0

    def onSuccess(self, func, qe, _duration_ns) -> None:
        if func == "overwrite":  # the noop writes, not the table services' own writes
            phases = qe.tracker().phases()
            self.ms.append(sum(phases.apply(k).durationMs() for k in ("analysis", "optimization", "planning")
                               if phases.contains(k)))

    def onFailure(self, func, _qe, _exc) -> None:
        if func == "overwrite":
            self.ms.append(None)

    def close(self) -> None:
        self.spark._jsparkSession.listenerManager().unregister(self)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _traced_query(b, spark, build, q: str, sf: str, plans: _WritePlans) -> dict:
    """One query with its layers split: construct (the registry call), plan
    (the noop write's Catalyst phases), execute (the rest of the write), and
    the Spark jobs and tasks its job group ran."""
    sc = spark.sparkContext
    group = f"bench-{q}-{len(b.tracer.spans)}"
    sc.setJobGroup(group, q)
    try:
        with b.tracer.span("query.construct", q) as construct:
            df = build(spark, sf)
        with b.tracer.span("query.write", q) as write:
            plans.write(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else ():
            si = st.getStageInfo(sid)
            tasks += si.numTasks if si else 0
    plan_ms = plans.last_ms()
    return {"construct_s": construct.seconds, "plan_ms": plan_ms, "execute_s": write.seconds - plan_ms / 1e3,
            "jobs": len(jobs), "tasks": tasks}


WORKLOADS = {"ingest": ingest, "query_mix": query_mix}
