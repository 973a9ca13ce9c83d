"""The two PipelineMain workloads: `pipeline_paced` (open-loop feed into a
running pipeline) and `backfill_drain` (a pre-landed backlog drained
once). The program runs in its own JVM, launched as a user would."""
import json
import math
import os
import time

import pyarrow.parquet as pq

import checks
import feeder
import inputs
import jvm
import lineage
import stats
import trace
import traced

# pipeline_paced: one feeder lands RATE files/s, each holding PER_FILE
# short clips whose event times advance STEP_S per file, with bounded
# disorder and LATE_PERMILLE of rows beyond the 10-minute watermark.
PACED_PIPELINES = ["mapped", "dedup"]
# a 2 s ProcessingTime trigger: back-to-back triggers ("0 seconds") keep
# the 4 cores busy polling and planning, and then a few percent of host
# steal moved the median latency by 20-30 %
TRIGGER_INTERVAL = "2 seconds"
RATE = 5.0
PER_FILE = 4
STEP_S = 20
LATE_PERMILLE = 20
WARMUP_S = 15.0
DRAIN_TIMEOUT_S = 40.0
READY_TIMEOUT_S = 150.0

# backfill_drain: a backlog of long 44.1 kHz clips, drained once
BACKFILL_PIPELINES = ["mapped", "dedup", "sessions", "budget"]
BACKFILL_FILES = 48
BACKFILL_PER_FILE = 40
BACKFILL_STEP_S = 60


def _wait(pred, timeout, proc, poll=0.02):
    end = time.monotonic() + timeout
    while time.monotonic() < end:
        if pred():
            return True
        if proc is not None and proc.poll() is not None:
            return pred()
        time.sleep(poll)
    return pred()


def _pipeline_cmd(ctx, args, trace_on, tag=""):
    """The program's own main on the program's classpath; a traced run
    adds the event log and the phase listener (and the benchmark jar
    that holds the listener)."""
    w = ctx.work
    return jvm.java_cmd(ctx.bench_cp if trace_on else ctx.prog_cp, "graft.PipelineMain", args,
                        tmpdir=os.path.join(w, "tmp"),
                        gc_log=os.path.join(w, f"gc{tag}.log"),
                        event_log=os.path.join(w, "eventlog") if trace_on else None,
                        extra=traced.phase_listener_opts(w) if trace_on else ())


def _all_exist(paths):
    return lambda: all(os.path.exists(p) for p in paths)


def _metadata_files(out, pipelines):
    return [os.path.join(out, "_checkpoints", lineage.PIPELINES[q][0], "metadata") for q in pipelines]


def paced(ctx):
    w = ctx.work
    n_files = 1 + int(math.ceil(RATE * ctx.seconds))
    t_gen = time.monotonic()
    gen = inputs.generate(ctx.bench_cp, ctx.jsa, w, ctx.seed, n_files, PER_FILE,
                          "short", STEP_S, LATE_PERMILLE)
    gen_s = time.monotonic() - t_gen
    staged = inputs.split(gen, os.path.join(w, "stage"))
    clip_tables = [pq.read_table(p) for p in staged]
    in_c, out = os.path.join(w, "in"), os.path.join(w, "out")
    os.makedirs(in_c)
    landed = [os.path.join(in_c, os.path.basename(p)) for p in staged]
    names = [os.path.basename(p) for p in staged]

    # file 0 primes the pipeline: ready = every sink committed batch 0
    os.rename(staged[0], landed[0])
    cmd = _pipeline_cmd(ctx, ["--input", in_c, "--output", out,
                              "--interval", TRIGGER_INTERVAL, "--window", "10 minutes",
                              "--pipelines", ",".join(PACED_PIPELINES)], ctx.trace)
    launch = time.time_ns()
    proc = jvm.start(cmd, os.path.join(w, "logs", "pipeline.log"))
    try:
        markers = [os.path.join(out, lineage.PIPELINES[q][1], "_commits", "0") for q in PACED_PIPELINES]
        if not _wait(_all_exist(markers), READY_TIMEOUT_S, proc):
            raise RuntimeError("pipeline never became ready; see logs/pipeline.log")
        ready_ns = time.time_ns()
        t0 = ready_ns + 100_000_000
        fd = feeder.Feeder(list(zip(staged[1:], landed[1:])), RATE, t0)
        fd.start()
        fd.join()
        _wait(lambda: None not in lineage.land_to_commit(out, PACED_PIPELINES, names).values(),
              DRAIN_TIMEOUT_S, proc, poll=0.1)
    finally:
        jvm.stop(proc)

    commit = lineage.land_to_commit(out, PACED_PIPELINES, names)
    fed = [(names[k + 1], due, at) for k, due, at in fd.log]
    missing = sum(commit[n] is None for n, _, _ in fed)
    units = [(n, due) for n, due, _ in fed
             if commit[n] is not None and due >= t0 + WARMUP_S * 1e9]
    lat = [(commit[n] - due) / 1e6 for n, due in units]
    # files landed but not yet committed by every sink, at each landing
    backlog = [sum(1 for n2, _, at2 in fed
                   if at2 <= at and (commit[n2] is None or commit[n2] > at))
               for _, _, at in fed]
    results = checks.pipeline_checks(out, PACED_PIPELINES, clip_tables)
    failed = missing + sum(not ok for _, ok, _ in results)
    committed = [c for c in commit.values() if c is not None]
    e2e = {
        "setup_s": (ready_ns - launch) / 1e9,
        "latency_p50_ms": stats.percentile(lat, 50),
        "throughput_per_s": (len(committed) - 1) / ((max(committed) - t0) / 1e9),
    }
    half = len(backlog) // 2
    report = {
        "generate_s": round(gen_s, 2),
        "heap_after_gc_peak_mb": trace.heap_after_gc_peak_mb(os.path.join(w, "gc.log")),
        "land_to_commit_ms": _tail(lat),
        "files_fed": len(fed), "files_uncommitted": missing,
        "rate_files_per_s": RATE, "clips_per_file": PER_FILE,
        "feeder_late_ms_max": max(fd.lateness_ms(), default=0.0),
        "backlog_files_max": max(backlog, default=0),
        "backlog_growth_files": backlog[-1] - backlog[half],
        "checks": results,
    }
    layer = {"_launch_ns": launch, "_ready_ns": ready_ns, "_units": units,
             "_probe_files": landed[1:21]}
    return e2e, len(fed) + len(results), failed, report, layer


def _tail(values):
    """Median plus the highest percentile the sample supports."""
    out = {"n": len(values)}
    for p in (50, 90, 95, 99):
        try:
            out[f"p{p}"] = round(stats.percentile(values, p), 1)
        except stats.TooFewSamples:
            break
    return out


def paced_layers(ctx, e2e, report, layer):
    m = traced.pipeline_layers(ctx, e2e, report, layer, PACED_PIPELINES,
                               layer["_probe_files"], True, layer["_units"])
    m["feeder.late_ms_max"] = report["feeder_late_ms_max"]
    m["source.backlog_files_max"] = report["backlog_files_max"]
    m["baseline.local1_throughput_per_s"] = 0.0
    return m


def backfill(ctx):
    w = ctx.work
    t_gen = time.monotonic()
    gen = inputs.generate(ctx.bench_cp, ctx.jsa, w, ctx.seed, BACKFILL_FILES,
                          BACKFILL_PER_FILE, "long", BACKFILL_STEP_S, 0)
    gen_s = time.monotonic() - t_gen
    in_c, out = os.path.join(w, "in"), os.path.join(w, "out")
    files = inputs.split(gen, in_c)
    clip_tables = [pq.read_table(p) for p in files]
    n_clips = sum(t.num_rows for t in clip_tables)
    names = [os.path.basename(p) for p in files]
    log = os.path.join(w, "logs", "pipeline.log")
    launch, started_ns = _drain(ctx, in_c, out, log, ctx.trace)
    commit = lineage.land_to_commit(out, BACKFILL_PIPELINES, names)
    done = [v for v in commit.values() if v is not None]
    missing = len(names) - len(done)
    results = checks.pipeline_checks(out, BACKFILL_PIPELINES, clip_tables)
    summary = _program_summary(log)
    results.append(("program.reconciled", summary is not None and
                    all(v.get("reconciled", True) for v in summary["lineage"].values()),
                    json.dumps(summary and summary["lineage"])))
    failed = missing + sum(not ok for _, ok, _ in results)
    drain_s = (max(done) - started_ns) / 1e9
    e2e = {
        "setup_s": (started_ns - launch) / 1e9,
        "latency_p50_ms": stats.percentile([(c - started_ns) / 1e6 for c in done], 50),
        "throughput_per_s": n_clips / drain_s,
    }
    report = {"generate_s": round(gen_s, 2),
              "heap_after_gc_peak_mb": trace.heap_after_gc_peak_mb(os.path.join(w, "gc.log")),
              "files": len(names), "clips": n_clips, "drain_s": round(drain_s, 3),
              "files_uncommitted": missing, "checks": results}
    layer = {"_launch_ns": launch, "_ready_ns": started_ns, "_files": files}
    return e2e, len(names) + len(results), failed, report, layer


def _drain(ctx, in_c, out, log, trace_on, cores=jvm.CORES, tag=""):
    """Runs one `--once --rocksdb` drain to exit; returns (launch ns, ns
    when every query had started)."""
    cmd = _pipeline_cmd(ctx, ["--input", in_c, "--output", out, "--once", "--rocksdb",
                              "--pipelines", ",".join(BACKFILL_PIPELINES)], trace_on, tag)
    launch = time.time_ns()
    proc = jvm.start(cmd, log, cores=cores)
    try:
        if not _wait(_all_exist(_metadata_files(out, BACKFILL_PIPELINES)), READY_TIMEOUT_S, proc):
            raise RuntimeError(f"pipeline never started; see {log}")
        started_ns = time.time_ns()
        proc.wait(timeout=170)
    finally:
        jvm.stop(proc)
    return launch, started_ns


def _program_summary(log):
    """PipelineMain's own run summary line (it prints one on exit)."""
    with open(log, errors="replace") as f:
        for line in f:
            if line.startswith('{"pipeline":"done"'):
                return json.loads(line)
    return None


def backfill_layers(ctx, e2e, report, layer):
    files = layer["_files"]
    m = traced.pipeline_layers(ctx, e2e, report, layer, BACKFILL_PIPELINES,
                               files[: len(files) // 4], False,
                               [(os.path.basename(f), layer["_ready_ns"]) for f in files])
    m["feeder.late_ms_max"] = 0.0
    m["source.backlog_files_max"] = len(files)
    m["baseline.local1_throughput_per_s"] = _local1_drain(ctx)
    return m


def _local1_drain(ctx):
    """The same drain at local[1] over the first quarter of the backlog:
    the single-thread baseline."""
    w = ctx.work
    in_c, out = os.path.join(w, "in1"), os.path.join(w, "out1")
    files = inputs.split(os.path.join(w, "gen"), in_c)
    for f in files[len(files) // 4:]:
        os.remove(f)
    n_clips = sum(pq.read_metadata(f).num_rows for f in files[: len(files) // 4])
    _, started = _drain(ctx, in_c, out, os.path.join(w, "logs", "pipeline-local1.log"),
                        False, cores=1, tag="-local1")
    commits = [c for q in BACKFILL_PIPELINES
               for c in lineage.commit_times_ns(os.path.join(out, lineage.PIPELINES[q][1])).values()]
    if not commits:
        raise RuntimeError("local[1] drain did not commit")
    return n_clips / ((max(commits) - started) / 1e9)
