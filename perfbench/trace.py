"""Spans around calls into the library's layers, and the Spark stage
metrics of each span's job group.

Everything here runs from outside the library: a span sets a Spark job
group, the library call inside it runs its jobs under that group, and
after the operation the stage metrics of every group are read from
the SparkContext's status store (which is kept with the UI disabled).
Spans live in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

# per-span Spark metrics, summed over the stages of the span's jobs
STAGE_FIELDS = ("busy_core_s", "gc_s", "stages", "tasks", "failed_tasks",
                "shuffle_write_mb", "spill_mb", "output_mb", "rows_out")
SPARK_LAYERS = (
    "pipeline.ner", "pipeline.candidates", "pipeline.canonicalize",
    "pipeline.triples", "pipeline.incremental", "sources.tsv",
    "measures.sets", "measures.clustering", "stats.significance",
)
# useful-outcome and work ratios; a workload that never calls the
# layer reports 0
RATIOS = (
    "pipeline.ner.mentions_per_page", "pipeline.candidates.cands_per_mention",
    "pipeline.candidates.linked_frac", "pipeline.canonicalize.nil_clusters",
    "pipeline.triples.files_written", "pipeline.incremental.reuse_frac",
    "stats.significance.doc_trials_per_s",
)
MB = 1024.0 * 1024.0


class Tracer:
    """Records spans (name, start, end, parent, op id) and one Spark
    job group per span.  ``span`` nests: the parent's job group is
    restored when a child ends, so each job lands in exactly one
    span."""

    def __init__(self, sc, op_id: str):
        self.sc = sc
        self.op_id = op_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = {"id": len(self.spans), "name": name, "op": self.op_id,
             "parent": parent["id"] if parent else None,
             "group": f"{self.op_id}/{len(self.spans)}/{name}",
             "start": time.time(), "end": None}
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s["group"], name)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def collect_stage_metrics(self, timeout_s: float = 30.0) -> None:
        """Attach the stage metrics of each span's job group.  Waits
        for the listener bus so that stages finished by the last
        action are in the status store."""
        jsc = self.sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty(int(timeout_s * 1000))
        except Exception:  # noqa: BLE001 - private API; fall back to polling
            time.sleep(1.0)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for s in self.spans:
            acc = dict.fromkeys(STAGE_FIELDS, 0.0)
            intervals = []
            for job_id in tracker.getJobIdsForGroup(s["group"]):
                info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                for stage_id in info.stageIds:
                    sd = _last_attempt(store, stage_id)
                    if sd is None:
                        continue
                    acc["stages"] += 1
                    acc["tasks"] += sd.numTasks()
                    acc["failed_tasks"] += sd.numFailedTasks()
                    acc["busy_core_s"] += sd.executorRunTime() / 1000.0
                    acc["gc_s"] += sd.jvmGcTime() / 1000.0
                    acc["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                    acc["spill_mb"] += (sd.memoryBytesSpilled()
                                        + sd.diskBytesSpilled()) / MB
                    acc["output_mb"] += sd.outputBytes() / MB
                    acc["rows_out"] += sd.outputRecords()
                    sub, done = sd.submissionTime(), sd.completionTime()
                    if sub.isDefined() and done.isDefined():
                        intervals.append((sub.get().getTime() / 1000.0,
                                          done.get().getTime() / 1000.0))
            s["spark"] = acc
            s["stage_intervals"] = intervals

    def layer_metrics(self) -> dict[str, dict[str, float]]:
        """Per span name: self_s, driver_s and the summed stage
        metrics.  self_s is the span minus its children; driver_s is
        the part of the self time during which none of the span's own
        stages ran."""
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            children = [(c["start"], c["end"]) for c in self.spans
                        if c["parent"] == s["id"]]
            own = [(max(a, s["start"]), min(b, s["end"]))
                   for a, b in s.get("stage_intervals", [])]
            dur = s["end"] - s["start"]
            self_s = dur - _covered(children)
            driver_s = dur - _covered(children + own)
            m = out.setdefault(s["name"], dict.fromkeys(
                ("self_s", "driver_s") + STAGE_FIELDS, 0.0))
            m["self_s"] += self_s
            m["driver_s"] += driver_s
            for k, v in s.get("spark", {}).items():
                m[k] += v
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def _last_attempt(store, stage_id):
    """The stage's last attempt if it ran (skipped and pending stages
    have no submission and did no work)."""
    from py4j.protocol import Py4JJavaError

    try:
        sd = store.lastStageAttempt(stage_id)
    except Py4JJavaError:
        return None
    if sd.status().toString() not in ("COMPLETE", "FAILED"):
        return None
    return sd


def _covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
