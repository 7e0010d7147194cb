"""Spans around calls into the program, with the Spark work of each call.

Each span is tagged with its own Spark job group, and after the timed pass
the tracer reads the group's jobs and stages from the status tracker and the
status store. Neither read runs a Spark action. With ``enabled=False`` a span
only measures its wall time and sets no job group.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

COUNTS = ("jobs", "stages", "tasks")


class Tracer:
    def __init__(self, spark, cores: int, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.cores = cores
        self.enabled = enabled
        self.spans: list[dict] = []
        self.current: str | None = None
        self._groups = 0
        self._counted_stages: set[int] = set()

    def reset(self) -> None:
        self.spans = []
        self.current = None

    @contextmanager
    def span(self, name: str):
        """Time one call into the program; ``current`` names the call in
        flight, so a raising call can be charged to its operation."""
        self.current = name
        group = None
        if self.enabled:
            self._groups += 1
            group = f"perfbench-{self._groups}"
            self.sc.setJobGroup(group, name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            if group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(
                {"name": name, "parent": "pass", "start": start, "end": end,
                 "group": group}
            )

    def note_rounds(self, result) -> None:
        """Record the rounds of the span just closed from its
        ``SuperstepResult.history`` (a resumed entry has no ``sec``)."""
        secs = [h["sec"] for h in result.history if "sec" in h]
        self.spans[-1].update(
            rounds=len(secs),
            round_s_median=statistics.median(secs) if secs else 0.0,
        )

    def read_counts(self) -> None:
        """Attach jobs, stages, tasks, shuffle bytes and executor time to
        every span of the pass. A stage is charged to the first span whose
        jobs list it and that ran it; stages Spark skipped are left out."""
        if not self.enabled:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for sp in self.spans:
            jobs = sorted(tracker.getJobIdsForGroup(sp["group"]))
            stage_ids: set[int] = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                stage_ids.update(info.stageIds if info is not None else ())
            stages = tasks = run_ms = shw = 0
            for sid in sorted(stage_ids - self._counted_stages):
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                self._counted_stages.add(sid)
                stages += 1
                tasks += sd.numTasks()
                run_ms += sd.executorRunTime()
                shw += sd.shuffleWriteBytes()
            wall = sp["end"] - sp["start"]
            sp.update(
                wall_s=wall,
                jobs=len(jobs),
                stages=stages,
                tasks=tasks,
                shuffle_write_mb=shw / 1e6,
                executor_run_s=run_ms / 1e3,
                idle_core_s=self.cores * wall - run_ms / 1e3,
            )


def span_metrics(passes: list[list[dict]]) -> dict[str, float]:
    """Per-span metrics over the timed passes: times are medians, counts
    come from the first pass (``count_mismatches`` checks they repeat)."""
    out: dict[str, float] = {}
    first = passes[0]
    for i, sp in enumerate(first):
        name = sp["name"]
        for key in ("wall_s", "shuffle_write_mb", "executor_run_s", "idle_core_s",
                    "round_s_median"):
            if key in sp:
                out[f"{name}.{key}"] = statistics.median(p[i][key] for p in passes)
        for key in COUNTS + ("rounds",):
            if key in sp:
                out[f"{name}.{key}"] = sp[key]
    return out


def count_mismatches(passes: list[list[dict]]) -> list[str]:
    """Spans whose jobs, stages or tasks differ between passes."""
    bad = []
    for i, sp in enumerate(passes[0]):
        for key in COUNTS:
            vals = [p[i].get(key) for p in passes]
            if len(set(vals)) > 1:
                bad.append(f"{sp['name']}.{key}={vals}")
    return bad


def reconcile(spans: list[dict], wall_s: float) -> dict[str, float]:
    """Share of the pass's wall time that no span covers: the benchmark's
    own glue between calls."""
    covered = sum(sp["end"] - sp["start"] for sp in spans)
    gap = wall_s - covered
    return {"span_sum_s": covered, "gap_s": gap, "gap_share": gap / wall_s}
