"""Spans and Spark-side counters for the traced run.

Spans are recorded in memory around the benchmark's own calls into the
engine and written once, at the end. Each span tags the Spark jobs it
causes through the `perfbench.span` local property, which the pipeline's
fetch-pool threads inherit. Job, stage and task counters come from
Spark's own `EventLoggingListener`, which the benchmark attaches to the
running context for the traced part of a run and reads back afterwards.
"""
import glob
import json
import os
import time

TAG = "perfbench.span"


class Span:
    __slots__ = ("name", "parent", "start", "end")

    def __init__(self, name, parent, start, end=None):
        self.name, self.parent, self.start, self.end = name, parent, start, end

    @property
    def dur(self):
        return self.end - self.start


class Tracer:
    """Nested spans. With a Spark context, each span's name is set as the
    thread's `perfbench.span` property while it is open, so jobs can be
    attributed to the innermost span."""

    def __init__(self, sc=None):
        self.sc, self.spans, self.stack = sc, [], []  # sc: a pyspark SparkContext

    def span(self, name):
        return _Open(self, name)

    def _tag(self, name):
        if self.sc is not None:
            self.sc.setLocalProperty(TAG, name)


class _Open:
    def __init__(self, tr, name):
        self.tr, self.name = tr, name

    def __enter__(self):
        parent = self.tr.stack[-1] if self.tr.stack else None
        self.s = Span(self.name, parent, time.time())
        self.tr.stack.append(self.s)
        self.tr._tag(self.name)
        return self.s

    def __exit__(self, *exc):
        self.s.end = time.time()
        self.tr.stack.pop()
        self.tr.spans.append(self.s)
        self.tr._tag(self.tr.stack[-1].name if self.tr.stack else None)
        return False


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def self_time(span, spans):
    """A span's duration minus the part its child spans cover."""
    kids = [(c.start, c.end) for c in spans if c.parent is span]
    return span.dur - covered(kids, span.start, span.end)


def dump(path, spans, extra):
    with open(path, "w") as f:
        json.dump({"spans": [{"name": s.name, "parent": s.parent and s.parent.name, "start": s.start,
                              "end": s.end, "self_s": self_time(s, spans)} for s in spans],
                   **extra}, f, indent=1)


class EventLog:
    """Spark's EventLoggingListener attached to a running context."""

    def __init__(self, spark, scala, out_dir):
        self.dir = out_dir
        os.makedirs(out_dir, exist_ok=True)
        sc = spark.sparkContext._jsc.sc()
        jvm = spark._jvm
        conf = sc.conf().clone().set("spark.eventLog.compress", "false") \
            .set("spark.eventLog.rolling.enabled", "false")
        uri = jvm.java.net.URI("file://" + os.path.abspath(out_dir))
        self.sc = sc
        self.listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            "trace", scala.none(), uri, conf, sc.hadoopConfiguration())
        self.listener.start()
        sc.addSparkListener(self.listener)

    def close(self):
        """Detach after the listener bus drained, and return the events."""
        self.sc.listenerBus().waitUntilEmpty()
        self.sc.removeSparkListener(self.listener)
        self.listener.stop()
        events = []
        for f in sorted(glob.glob(os.path.join(self.dir, "*"))):
            with open(f) as fh:
                events += [json.loads(l) for l in fh if l.strip()]
        return events


class Jobs:
    """Per-tag job, stage and task counters from event-log records."""

    def __init__(self, events):
        self.jobs = {}    # job id -> dict(tag, start, end, stages)
        self.stage_tag = {}
        self.tasks = []   # (tag, metrics dict, launch, finish)
        for e in events:
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                self.jobs[e["Job ID"]] = {"tag": e.get("Properties", {}).get(TAG),
                                          "start": e["Submission Time"] / 1000, "end": None,
                                          "stages": len(e.get("Stage IDs", []))}
            elif ev == "SparkListenerJobEnd" and e["Job ID"] in self.jobs:
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
            elif ev == "SparkListenerStageSubmitted":
                self.stage_tag[e["Stage Info"]["Stage ID"]] = e.get("Properties", {}).get(TAG)
            elif ev == "SparkListenerTaskEnd":
                info = e.get("Task Info", {})
                self.tasks.append((self.stage_tag.get(e["Stage ID"]), e.get("Task Metrics") or {},
                                   info.get("Launch Time", 0) / 1000, info.get("Finish Time", 0) / 1000))

    def of(self, match):
        """Counters over jobs and tasks whose tag satisfies `match`."""
        jobs = [j for j in self.jobs.values() if j["tag"] is not None and match(j["tag"])
                and j["end"] is not None]
        tasks = [t for t in self.tasks if t[0] is not None and match(t[0])]
        m = {"jobs": len(jobs), "stages": sum(j["stages"] for j in jobs), "tasks": len(tasks),
             "intervals": [(j["start"], j["end"]) for j in jobs],
             "first_job": min((j["start"] for j in jobs), default=None),
             "task_cpu_s": 0.0, "task_run_s": 0.0, "shuffle_read_bytes": 0,
             "shuffle_write_bytes": 0, "spill_bytes": 0, "peak_task_mem_mb": 0.0,
             "bytes_read": 0, "records_read": 0, "bytes_written": 0}
        for _, tm, _, _ in tasks:
            m["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["task_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            sr = tm.get("Shuffle Read Metrics", {})
            m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            m["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            m["peak_task_mem_mb"] = max(m["peak_task_mem_mb"], tm.get("Peak Execution Memory", 0) / 2**20)
            m["bytes_read"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
            m["records_read"] += tm.get("Input Metrics", {}).get("Records Read", 0)
            m["bytes_written"] += tm.get("Output Metrics", {}).get("Bytes Written", 0)
        return m
