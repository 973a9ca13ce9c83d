"""Readers for the traces the launcher switches on from outside the
program: the JVM GC log and Spark's uncompressed event log. Also the
span tree written at the end of a traced run."""
import collections
import glob
import json
import os
import re

# only pauses that collect: Remark and Cleanup lines report occupancy
# without evacuating, so their "after" is not a post-GC heap
_GC = re.compile(r"\[([0-9.]+)s\].*GC\(\d+\) (Pause (?:Young|Full)[^()]*(?:\([^)]*\))*).*? (\d+)M->(\d+)M\((\d+)M\)")


def gc_events(path):
    """[(uptime s, heap after the pause in MB)] from a `-Xlog:gc` file."""
    out = []
    if not path or not os.path.exists(path):
        return out
    with open(path) as f:
        for line in f:
            m = _GC.search(line)
            if m:
                out.append((float(m.group(1)), int(m.group(4))))
    return out


def heap_after_gc_peak_mb(path):
    ev = gc_events(path)
    return max((after for _, after in ev), default=None)


def events(event_log_dir):
    for f in sorted(glob.glob(os.path.join(event_log_dir, "**", "events_*"), recursive=True)):
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


def summarize_event_log(event_log_dir):
    """Streaming progress per query, plus scheduler/executor/shuffle totals."""
    prog = collections.defaultdict(list)
    app_start = None
    jobs = stages = tasks = 0
    delay = run = cpu_ns = gc = sh_read = sh_write = spill = 0
    for e in events(event_log_dir):
        kind = e.get("Event")
        if kind == "SparkListenerApplicationStart":
            app_start = e.get("Timestamp")
        elif kind == PROGRESS:
            prog[e["progress"]["name"]].append(e["progress"])
        elif kind == "SparkListenerJobStart":
            jobs += 1
        elif kind == "SparkListenerStageCompleted":
            stages += 1
        elif kind == "SparkListenerTaskEnd":
            tasks += 1
            info = e.get("Task Info", {})
            m = e.get("Task Metrics") or {}
            launch, finish = info.get("Launch Time", 0), info.get("Finish Time", 0)
            run_ms = m.get("Executor Run Time", 0)
            deser = m.get("Executor Deserialize Time", 0)
            ser = m.get("Result Serialization Time", 0)
            fetch = info.get("Getting Result Time", 0)
            delay += max(0, (finish - launch) - run_ms - deser - ser - fetch)
            run += run_ms
            cpu_ns += m.get("Executor CPU Time", 0)
            gc += m.get("JVM GC Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            sh_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            sh_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return {
        "progress": dict(prog), "app_start_ms": app_start,
        "scheduler.jobs": jobs, "scheduler.stages": stages, "scheduler.tasks": tasks,
        "scheduler.delay_ms": delay, "executor.run_ms": run,
        "executor.cpu_ms": cpu_ns / 1e6, "executor.gc_ms": gc,
        "shuffle.read_bytes": sh_read, "shuffle.write_bytes": sh_write, "spill.bytes": spill,
    }


class Spans:
    """Spans with parent links, kept in memory and written at the end."""

    def __init__(self):
        self.spans = []

    def add(self, name, start_ns, end_ns, parent=None, **attrs):
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "start_ns": int(start_ns),
                           "end_ns": int(end_ns), "parent": parent, **attrs})
        return sid

    def self_times_ms(self):
        """Per span name, Σ (duration − union of its children's intervals)."""
        kids = collections.defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start_ns"], s["end_ns"]))
        out = collections.Counter()
        for s in self.spans:
            covered, cur_s, cur_e = 0, None, None
            for a, b in sorted(kids[s["id"]]):
                a, b = max(a, s["start_ns"]), min(b, s["end_ns"])
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["name"]] += (s["end_ns"] - s["start_ns"] - covered) / 1e6
        return dict(out)

    def write(self, path):
        with open(path, "w") as f:
            json.dump(self.spans, f)
