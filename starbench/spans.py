"""Spans, Spark job groups and per-layer counters for the benchmark.

A span is one call into a layer: name, start, end, parent and run id,
kept in memory. Every span runs its Spark jobs under a job group of its
own, so the application status store (``sc._jsc.sc().statusStore()``)
attributes each job, and through it each stage's task time, shuffle,
spill and output bytes, to exactly one span. Counters are read once, at
the end of the run, after the listener bus has drained.

Untraced runs open only the spans the benchmark itself opens (the root
span of each timed operation gives its job count); ``wrap`` puts the
package's public calls in spans for the traced run.
"""

from __future__ import annotations

import contextlib
import functools
import os
import time

# counter -> unit, for every layer: summed over the layer's spans,
# inclusive of descendant spans except ``self_s``
COUNTERS = {
    "s": "s", "self_s": "s", "jobs": "count", "task_s": "s",
    "shuffle_bytes": "bytes", "spill_bytes": "bytes",
    "bytes_written": "bytes", "files_written": "count",
}


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def count_files(path: str) -> int:
    n = 0
    for _, _, files in os.walk(path):
        n += sum(1 for f in files if not f.startswith((".", "_")))
    return n


class Tracer:
    def __init__(self, spark, run_id: str, traced: bool) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.traced = traced
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        # directory whose new files a staging span counts (trace only)
        self.watch_dir: str | None = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans), "name": name, "run_id": self.run_id,
            "parent": parent["id"] if parent else None,
            "group": f"{self.run_id}-{len(self.spans)}", **attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        files_before = None
        if self.traced and self.watch_dir and name.endswith(".stage"):
            files_before = count_files(self.watch_dir)
        self.sc.setJobGroup(sp["group"], name)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            if files_before is not None:
                sp["files_written"] = count_files(self.watch_dir) - files_before

    def wrap(self, owner, attr: str, name, attrs=None) -> None:
        """Replace ``owner.attr`` by a version that runs inside a span;
        ``name`` is the span name or a function of the call's args, and
        ``attrs`` an optional function of them giving span attributes."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            label = name(*args, **kwargs) if callable(name) else name
            extra = attrs(*args, **kwargs) if attrs else {}
            with self.span(label, **extra):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    # -- counters ------------------------------------------------------
    def collect(self, first: int = 0) -> None:
        """Attach job ids to every span from index ``first`` on and, in a
        traced run, job intervals and stage counters too. Call once,
        after the last timed action."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        tracker = self.sc.statusTracker()
        for sp in self.spans[first:]:
            ids = tracker.getJobIdsForGroup(sp["group"])
            sp["job_ids"] = list(ids)
            sp["job_intervals"] = []
            if not self.traced:
                continue
            task_ms = shuffle = spill = written = 0
            for j in ids:
                jd = store.job(j)
                if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                    sp["job_intervals"].append((
                        jd.submissionTime().get().getTime() / 1000.0,
                        jd.completionTime().get().getTime() / 1000.0,
                    ))
                for s in conv.asJava(jd.stageIds()):
                    try:
                        sd = store.lastStageAttempt(s)
                    except Exception:  # noqa: BLE001 — stage evicted or never run
                        continue
                    task_ms += sd.executorRunTime()
                    shuffle += sd.shuffleWriteBytes()
                    spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                    written += sd.outputBytes()
            sp.update(task_s=task_ms / 1000.0, shuffle_bytes=shuffle,
                      spill_bytes=spill, bytes_written=written)

    def children(self, sp: dict) -> list[dict]:
        return [c for c in self.spans if c["parent"] == sp["id"]]

    def descendants(self, sp: dict) -> list[dict]:
        out, todo = [], [sp]
        while todo:
            cur = todo.pop()
            kids = self.children(cur)
            out += kids
            todo += kids
        return out

    def inclusive(self, sp: dict, key: str) -> float:
        return sp.get(key, 0) + sum(d.get(key, 0) for d in self.descendants(sp))

    def job_count(self, sp: dict) -> int:
        return len(sp["job_ids"]) + sum(len(d["job_ids"]) for d in self.descendants(sp))

    def self_s(self, sp: dict) -> float:
        kids = [(c["start"], c["end"]) for c in self.children(sp)]
        return (sp["end"] - sp["start"]) - _union(kids)

    def off_job_s(self, sp: dict) -> float:
        """Wall time of ``sp`` during which none of its jobs ran (the
        driver-side share: planning, listing, commit I/O)."""
        jobs = [iv for d in [sp, *self.descendants(sp)] for iv in d["job_intervals"]]
        return (sp["end"] - sp["start"]) - _union(jobs)

    def coverage(self, sp: dict) -> float:
        """Share of ``sp``'s wall time covered by its child spans."""
        kids = [(c["start"], c["end"]) for c in self.children(sp)]
        return _union(kids) / (sp["end"] - sp["start"])

    def layer_totals(self, root: dict) -> dict[str, dict[str, float]]:
        """Per layer name, each counter summed over the layer's spans
        under ``root`` (nested spans of one layer are counted once)."""
        out: dict[str, dict[str, float]] = {}
        subtree = self.descendants(root)
        ids = {d["id"]: d for d in subtree}
        for sp in subtree:
            anc, same = sp["parent"], False
            while anc in ids:
                if ids[anc]["name"] == sp["name"]:
                    same = True
                    break
                anc = ids[anc]["parent"]
            if same:
                continue
            acc = out.setdefault(sp["name"], dict.fromkeys(COUNTERS, 0.0))
            acc["s"] += sp["end"] - sp["start"]
            acc["self_s"] += self.self_s(sp)
            acc["jobs"] += self.job_count(sp)
            for k in ("task_s", "shuffle_bytes", "spill_bytes", "bytes_written",
                      "files_written"):
                acc[k] += self.inclusive(sp, k)
        return out

    def dump(self, first: int = 0) -> list[dict]:
        """Spans from index ``first`` on, with their self times."""
        return [
            {**{k: v for k, v in sp.items() if k != "job_intervals"},
             "self_s": self.self_s(sp)}
            for sp in self.spans[first:]
        ]


def cpu_s(pid: int) -> float:
    """User plus system CPU seconds used so far by all threads of a
    process (Linux). Time the hypervisor steals from the VM is not
    charged to it."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def peak_rss_reset(pid: int) -> None:
    """Reset the kernel's peak-RSS mark of a process (Linux)."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
