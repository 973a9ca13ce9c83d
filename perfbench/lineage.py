"""Reads what a PipelineMain run left on disk: which micro-batch read each
input file (the file-source logs under `_checkpoints/<q>/sources`,
including `.compact` logs) and when each sink committed that batch (the
`_commits/<id>` markers), plus the sinks' own lineage records."""
import json
import os

# pipeline name -> (checkpoint subdir, sink subdir), as PipelineMain lays them out
PIPELINES = {
    "mapped": ("mapped", "mapped"),
    "dedup": ("dedup", "dedup"),
    "sessions": ("sessions", "sessions"),
    "budget": ("budget", "budget"),
}


def _log_entries(path):
    with open(path) as f:
        lines = f.read().splitlines()
    for line in lines[1:]:          # first line is the log version ("v1")
        line = line.strip()
        if line:
            yield json.loads(line)


def file_batches(checkpoint_dir):
    """{input file basename: batch id} over every source of one query.

    A `.compact` log repeats every entry of the batches it compacts, so
    entries are keyed by path and must agree on the batch id."""
    out = {}
    src_root = os.path.join(checkpoint_dir, "sources")
    if not os.path.isdir(src_root):
        return out
    for src in sorted(os.listdir(src_root)):
        d = os.path.join(src_root, src)
        for name in sorted(os.listdir(d)):
            if name.startswith(".") or not (name.isdigit() or name.endswith(".compact")):
                continue
            for e in _log_entries(os.path.join(d, name)):
                key = os.path.basename(e["path"])
                bid = int(e["batchId"])
                if out.setdefault(key, bid) != bid:
                    raise ValueError(f"{key} logged in batches {out[key]} and {bid}")
    return out


def commit_times_ns(sink_dir):
    """{batch id: commit marker mtime in ns} for one sink."""
    d = os.path.join(sink_dir, "_commits")
    if not os.path.isdir(d):
        return {}
    return {int(n): os.stat(os.path.join(d, n)).st_mtime_ns
            for n in os.listdir(d) if n.isdigit()}


def land_to_commit(output, pipelines, files):
    """Per input file, the time its last enabled sink committed the batch
    that read it: {basename: ns or None}. None = some sink has not
    committed it."""
    per_q = []
    for q in pipelines:
        ck, sink = PIPELINES[q]
        per_q.append((file_batches(os.path.join(output, "_checkpoints", ck)),
                      commit_times_ns(os.path.join(output, sink))))
    out = {}
    for f in files:
        t = 0
        for batches, commits in per_q:
            b = batches.get(f)
            c = commits.get(b) if b is not None else None
            if c is None:
                t = None
                break
            t = max(t, c)
        out[f] = t
    return out


def sink_lineage(sink_dir):
    """[(batch id, lineage rows, Σ partition rows)] for committed batches."""
    out = []
    for b in sorted(commit_times_ns(sink_dir)):
        p = os.path.join(sink_dir, "_lineage", f"{b}.json")
        if not os.path.exists(p):
            p = os.path.join(sink_dir, "_commits", str(b))
        with open(p) as f:
            doc = json.load(f)
        out.append((b, int(doc["rows"]), sum(int(x["rows"]) for x in doc["partitions"])))
    return out
