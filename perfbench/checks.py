"""Correctness checks over what the program committed. Each check returns
(name, ok, detail); every failed check counts in `failed`."""
import collections
import glob
import os
from datetime import timedelta

import pyarrow.compute as pc
import pyarrow.parquet as pq

import lineage

WATERMARK = timedelta(minutes=10)   # PipelineMain's default --watermark
KNOWN_CODECS = {"pcm16le", "ulaw", "alaw", "adpcm"}


def read_dirs(dirs, columns=None):
    files = [f for d in dirs for f in sorted(glob.glob(os.path.join(d, "*.parquet")))]
    return pq.ParquetDataset(files).read(columns=columns) if files else None


def _rows(dirs):
    return sum(pq.ParquetFile(f).metadata.num_rows
               for d in dirs for f in glob.glob(os.path.join(d, "*.parquet")))


def committed_dirs(sink_dir):
    return [os.path.join(sink_dir, "data", f"batch={b}")
            for b in sorted(lineage.commit_times_ns(sink_dir))]


def reconcile(name, sink_dir):
    """Σ lineage rows = committed rows, and each batch's partition counts
    sum to its lineage total."""
    lin = lineage.sink_lineage(sink_dir)
    parts_ok = all(rows == parts for _, rows, parts in lin)
    total = sum(rows for _, rows, _ in lin)
    committed = _rows(committed_dirs(sink_dir))
    return (f"{name}.lineage", parts_ok and total == committed,
            f"lineage={total} committed={committed} partitions_consistent={parts_ok}")


def upsert_conservation(name, sink_dir, clip_ids):
    """The merged snapshot holds exactly one row per distinct key."""
    ptr = os.path.join(sink_dir, "_latest")
    dirs = []
    if os.path.exists(ptr):
        with open(ptr) as f:
            manifest = os.path.join(sink_dir, "snapshots", f"v={f.read().strip()}", "manifest")
        with open(manifest) as f:
            dirs = [line.split("\t", 1)[1] for line in f.read().splitlines() if line]
    t = read_dirs(dirs, ["clip_id"])
    n = 0 if t is None else t.num_rows
    keys = 0 if t is None else len(pc.unique(t.column("clip_id")))
    want = len(set(clip_ids))
    return (f"{name}.conservation", n == keys == want,
            f"rows={n} distinct_keys={keys} distinct_landed={want}")


def safe_rows(tables):
    """Rows no watermark can have dropped: a row of the k-th landed file is
    safe if its event time is within the watermark delay of the newest
    event time in the files landed before it (a batch's watermark only
    comes from earlier batches, which hold only earlier files)."""
    safe, newest = 0, None
    for t in tables:
        ets = t.column("event_time").to_pylist()
        safe += sum(newest is None or et >= newest - WATERMARK for et in ets)
        newest = max([newest] + ets) if newest is not None else max(ets)
    return safe


def pipeline_checks(output, pipelines, clip_tables):
    """Checks for a PipelineMain run over the files it was given, in
    landing order."""
    out = []
    landed = sum(t.num_rows for t in clip_tables)
    decodable = sum(c in KNOWN_CODECS for t in clip_tables for c in t.column("codec").to_pylist())
    sinks = {q: os.path.join(output, lineage.PIPELINES[q][1]) for q in pipelines}
    for q, d in sinks.items():
        out.append(reconcile(q, d))
    if "mapped" in sinks:
        n = _rows(committed_dirs(sinks["mapped"]))
        out.append(("mapped.conservation", n == decodable,
                    f"mapped={n} decodable_landed={decodable}"))
    if "dedup" in sinks:
        safe = safe_rows(clip_tables)
        t = read_dirs(committed_dirs(sinks["dedup"]), ["clip_id", "occurrence"])
        n = 0 if t is None else t.num_rows
        uniq = 0 if t is None else len(set(zip(t.column("clip_id").to_pylist(),
                                               t.column("occurrence").to_pylist())))
        out.append(("dedup.bounds", safe <= n <= landed and uniq == n,
                    f"safe={safe} <= rows={n} <= landed={landed}; unique={uniq}"))
    if "sessions" in sinks:
        t = read_dirs(committed_dirs(sinks["sessions"]), ["n_records"])
        n = 0 if t is None else pc.sum(t.column("n_records")).as_py() or 0
        out.append(("sessions.bounds", n <= landed, f"records={n} <= landed={landed}"))
    if "budget" in sinks:
        t = read_dirs(committed_dirs(sinks["budget"]), ["source", "n_tok", "cum_tokens"])
        tot, top = collections.Counter(), collections.Counter()
        if t is not None:
            for s, n, cum in zip(*(t.column(c).to_pylist() for c in ("source", "n_tok", "cum_tokens"))):
                tot[s] += n
                top[s] = max(top[s], cum)
        bad = sum(top[s] != tot[s] for s in tot)
        n = 0 if t is None else t.num_rows
        out.append(("budget.prefix_conservation", bad == 0 and n == landed,
                    f"rows={n} landed={landed} sources_not_conserved={bad}"))
    return out
