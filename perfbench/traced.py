"""Per-layer metrics of a traced run. Sources, all outside the program:
Spark's event log (streaming progress with its duration buckets and
state operators; job/stage/task metrics), a QueryExecutionListener
registered through Spark conf (Catalyst phases per SQL execution), the
GC log, the sink and checkpoint files, and timed direct calls into
single layers (`scala/LayerProbe.scala`)."""
import datetime
import glob
import json
import os
import statistics
import time

import checks
import jvm
import lineage
import trace

IN_BATCH = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch")


def _ts_ns(iso):
    t = datetime.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ")
    return int(t.replace(tzinfo=datetime.timezone.utc).timestamp() * 1e9)


def _mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def phase_listener_opts(work):
    return ["-Dspark.sql.queryExecutionListeners=graftbench.PhaseListener",
            f"-Dgraftbench.phases={os.path.join(work, 'phases.jsonl')}"]


def probe(ctx, files, reps):
    out = os.path.join(ctx.work, "probe")
    log = os.path.join(ctx.work, "logs", "probe.log")
    jvm.run(jvm.java_cmd(ctx.bench_cp, "graftbench.LayerProbe", [out, str(reps)] + files,
                         tmpdir=os.path.join(ctx.work, "tmp")), log, timeout=170)
    with open(log, errors="replace") as f:
        for line in f:
            if line.startswith('{"probe":"layers"'):
                return json.loads(line)
    raise RuntimeError(f"probe printed no result; see {log}")


def _sink_files(output, pipelines):
    files = size = 0
    for q in pipelines:
        for f in glob.glob(os.path.join(output, lineage.PIPELINES[q][1], "**", "*.parquet"), recursive=True):
            files += 1
            size += os.path.getsize(f)
    return files, size


def _gc_slope(path):
    """Least-squares slope of post-GC heap (MB) against uptime (min)."""
    ev = trace.gc_events(path)
    xs = [t / 60.0 for t, _ in ev]
    ys = [a for _, a in ev]
    mx, my = _mean(xs), _mean(ys)
    den = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / den if den else 0.0


def _probe_checks(ctx, probe_files):
    """The probe's sinks obey the same rules as the pipelines' sinks."""
    import pyarrow.parquet as pq
    ids = [c for f in probe_files for c in pq.read_table(f, columns=["clip_id"]).column("clip_id").to_pylist()]
    probe_dir = os.path.join(ctx.work, "probe")
    return [checks.upsert_conservation("probe.upsert", os.path.join(probe_dir, "upsert"), ids),
            checks.reconcile("probe.exactly_once", os.path.join(probe_dir, "exactly_once"))]


def pipeline_layers(ctx, e2e, report, layer, pipelines, probe_files, skip_first, units):
    """`units`: [(file basename, t0 ns the unit's latency counts from)].
    Appends the probe's own checks to `report["extra_checks"]`."""
    w = ctx.work
    pr = probe(ctx, probe_files, reps=3)
    report["extra_checks"] = _probe_checks(ctx, probe_files)
    ev = trace.summarize_event_log(os.path.join(w, "eventlog"))
    out = os.path.join(w, "out")
    batches = []
    by_qb = {}
    for name, plist in ev["progress"].items():
        for p in plist:
            by_qb[(name, p["batchId"])] = p
            if skip_first and p["batchId"] == 0:
                continue
            batches.append(p)
    d = lambda p, k: p["durationMs"].get(k, 0)
    ops = lambda p: p.get("stateOperators") or []
    last = {}
    for p in batches:
        if p["name"] not in last or p["batchId"] > last[p["name"]]["batchId"]:
            last[p["name"]] = p

    # spans: run -> setup, run -> one span per micro-batch -> its steps,
    # run -> one span per unit -> its wait for the batch that read it
    spans = trace.Spans()
    root = spans.add("run", layer["_launch_ns"], time.time_ns())
    ready_ns = layer["_ready_ns"]
    spans.add("setup", layer["_launch_ns"], ready_ns, root)
    for (name, b), p in sorted(by_qb.items()):
        start = _ts_ns(p["timestamp"])
        bs = spans.add("batch", start, start + int(d(p, "triggerExecution") * 1e6), root,
                       query=name, batch=b)
        cur = start
        for k in IN_BATCH:
            spans.add(k, cur, cur + int(d(p, k) * 1e6), bs)
            cur += int(d(p, k) * 1e6)

    # blocking path per unit: wait for the batch that read it to start,
    # then that batch's steps up to its sink commit, in the query whose
    # sink committed last
    maps = {q: (lineage.file_batches(os.path.join(out, "_checkpoints", lineage.PIPELINES[q][0])),
                lineage.commit_times_ns(os.path.join(out, lineage.PIPELINES[q][1])))
            for q in pipelines}
    pickup, in_batch, unexplained, total = [], [], [], []
    for f, t0 in units:
        best = None
        for q in pipelines:
            b = maps[q][0].get(f)
            c = maps[q][1].get(b)
            if c is not None and (best is None or c > best[2]):
                best = (q, b, c)
        if best is None or ("graft_" + best[0], best[1]) not in by_qb:
            continue
        q, b, c = best
        p = by_qb[("graft_" + q, b)]
        start = _ts_ns(p["timestamp"])
        steps = sum(d(p, k) for k in IN_BATCH)
        u = spans.add("unit", t0, c, root, file=f, query=q, batch=b)
        spans.add("pickup_wait", t0, max(t0, start), u)
        pickup.append((start - t0) / 1e6)
        in_batch.append(steps)
        total.append((c - t0) / 1e6)
        unexplained.append((c - t0) / 1e6 - (start - t0) / 1e6 - steps)
    spans.write(os.path.join(w, "spans.json"))
    self_ms = spans.self_times_ms()

    phases = []
    pf = os.path.join(w, "phases.jsonl")
    if os.path.exists(pf):
        with open(pf) as f:
            phases = [json.loads(x) for x in f if x.strip()]
    heap_slope = _gc_slope(os.path.join(w, "gc.log"))
    app_start = ev.get("app_start_ms")
    files, size = _sink_files(out, pipelines)
    med_total = statistics.median(total) if total else 0.0
    explained = (statistics.median(pickup) + statistics.median(in_batch)) if total else 0.0
    m = {
        "streaming.batches": len(batches),
        "streaming.nonempty_batch_ratio": _mean([1.0 if (p["sources"][0].get("numInputRows", 0) > 0) else 0.0 for p in batches]),
        "streaming.trigger_ms": _mean([d(p, "triggerExecution") for p in batches]),
        "streaming.query_planning_ms": _mean([d(p, "queryPlanning") for p in batches]),
        "streaming.source_ms": _mean([d(p, "latestOffset") + d(p, "getBatch") for p in batches]),
        "streaming.add_batch_ms": _mean([d(p, "addBatch") for p in batches]),
        "streaming.checkpoint_ms": _mean([d(p, "walCommit") + d(p, "commitOffsets") for p in batches]),
        "state.commit_ms": _mean([sum(o.get("commitTimeMs", 0) for o in ops(p)) for p in batches if ops(p)]),
        "state.rows_total": sum(sum(o.get("numRowsTotal", 0) for o in ops(p)) for p in last.values()),
        "state.memory_bytes": sum(sum(o.get("memoryUsedBytes", 0) for o in ops(p)) for p in last.values()),
        "state.rows_dropped_by_watermark": sum(sum(o.get("numRowsDroppedByWatermark", 0) for o in ops(p)) for p in batches),
        "sink.exactly_once_write_ms": pr["exactly_once_write_ms"],
        "sink.upsert_write_ms": pr["upsert_write_ms"],
        "sink.files_written": files,
        "sink.bytes_written": size,
        "audio.quarantine_ratio": pr["quarantined"] / max(1, pr["clips"]),
        "queries.executions": len(phases),
        "queries.analysis_ms": _mean([x["analysis_ms"] for x in phases]),
        "queries.optimization_ms": _mean([x["optimization_ms"] for x in phases]),
        "queries.planning_ms": _mean([x["planning_ms"] for x in phases]),
        "queries.execution_ms": _mean([x["execution_ms"] for x in phases]),
        "jvm.heap_after_gc_peak_mb": report["heap_after_gc_peak_mb"],
        "jvm.heap_after_gc_slope_mb_per_min": heap_slope,
        "session.jvm_to_session_s": (app_start * 1e6 - layer["_launch_ns"]) / 1e9 if app_start else 0.0,
        "session.session_to_ready_s": (ready_ns - app_start * 1e6) / 1e9 if app_start else 0.0,
        "blocking.pickup_ms": statistics.median(pickup) if pickup else 0.0,
        "blocking.in_batch_ms": statistics.median(in_batch) if in_batch else 0.0,
        "blocking.unexplained_ms": statistics.median(unexplained) if unexplained else 0.0,
        "blocking.explained_share": explained / med_total if med_total else 0.0,
        "trace.setup_s": e2e["setup_s"],
        "trace.latency_p50_ms": e2e["latency_p50_ms"],
        "trace.throughput_per_s": e2e["throughput_per_s"],
    }
    for c, v in pr["decode_ns_per_sample"].items():
        m[f"audio.decode_ns_per_sample.{c}"] = v
    for k in ("scheduler.jobs", "scheduler.tasks", "scheduler.delay_ms", "executor.run_ms",
              "executor.cpu_ms", "executor.gc_ms", "shuffle.read_bytes", "shuffle.write_bytes",
              "spill.bytes"):
        m[k] = ev[k]
    # self time summed over spans: batch steps are per micro-batch, summed
    # over every query; pickup_wait is summed over units
    report["self_time_ms"] = {k: round(v, 1) for k, v in sorted(self_ms.items())
                              if k not in ("run", "unit")}
    report["blocking_path_ms"] = {"median_total": round(med_total, 1),
                                  "median_pickup": round(m["blocking.pickup_ms"], 1),
                                  "median_in_batch": round(m["blocking.in_batch_ms"], 1),
                                  "median_unexplained": round(m["blocking.unexplained_ms"], 1)}
    # mean trigger over the batches that read data
    report["per_query_trigger_ms"] = {
        n: round(_mean([d(p, "triggerExecution") for p in batches
                        if p["name"] == n and p["sources"][0].get("numInputRows", 0) > 0]), 1)
        for n in sorted({p["name"] for p in batches})}
    return m
