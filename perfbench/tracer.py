"""Spans and counters for the traced run.

A :class:`Tracer` records a span around each call the benchmark makes
into a layer of the program.  A span keeps its name, start, end, parent
span and op id, the py4j round trips and fsyncs made inside it, and the
Spark jobs that ran inside it.  Each op also records the bytes and
files that appeared under the table roots it names.  Spans stay in
memory and are written out when the run ends.

Counting works by wrapping, in this process only:

- the py4j gateway client's ``send_command`` (one call is one round
  trip), leaving out the reference releases py4j sends when Python
  garbage-collects a proxy of a JVM object: their timing follows the
  Python collector, not the program;
- ``os.fsync``;
- nothing in Spark: when a span ends, the jobs started since the last
  span are read back from the status store
  (``sc._jsc.sc().statusStore()``) once the listener bus has drained.

The tracer's own py4j calls are not counted.  When the tracer is off
every hook is a no-op, so the timed run carries none of this.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

from py4j import protocol

# py4j's "release this object" command
_RELEASE = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME


def dir_usage(root: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``root``."""
    total = files = 0
    for d, _subdirs, names in os.walk(root):
        for n in names:
            try:
                total += os.stat(os.path.join(d, n)).st_size
                files += 1
            except FileNotFoundError:
                pass
    return total, files


def _union_ms(intervals: list[tuple[int, int]], lo: float, hi: float) -> float:
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    spans = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tracer:
    """Spans and counts of one run; every method is a no-op when
    ``enabled`` is false."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._op: dict | None = None
        self._py4j = 0
        self._fsyncs = 0
        self._counting = False
        self._next_job = 0
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.ops: list[dict] = []
        self.cycle = None

    # -- installation -----------------------------------------------------
    def install(self, spark) -> None:
        if not self.enabled:
            return
        self.spark = spark
        self.sc = spark.sparkContext
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counted_send(command, *a, **kw):
            if self._counting and not command.startswith(_RELEASE):
                self._py4j += 1
            return send(command, *a, **kw)

        client.send_command = counted_send
        fsync = os.fsync

        def counted_fsync(fd):
            if self._counting:
                self._fsyncs += 1
            return fsync(fd)

        os.fsync = counted_fsync
        self._restore = (client, send, fsync)
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self._next_job = self._scan_jobs(self._next_job)[1]

    def uninstall(self) -> None:
        if self.enabled and hasattr(self, "_restore"):
            client, send, fsync = self._restore
            client.send_command = send
            os.fsync = fsync
            del self._restore

    # -- ops and spans ----------------------------------------------------
    def begin_op(self, op_id: int, kind: str, roots=(), rows=None) -> None:
        if not self.enabled:
            return
        # jobs run since the last span (a result check's) belong to no op
        self._next_job = self._scan_jobs(self._next_job)[1]
        self._op = {"op": op_id, "type": kind, "cycle": self.cycle,
                    "rows": rows, "roots": list(roots),
                    "before": {r: dir_usage(r) for r in roots}}
        self.sc.setJobGroup(f"perfbench-op-{op_id}", kind)
        self._counting = True

    def end_op(self) -> None:
        if not self.enabled:
            return
        self._counting = False
        op = self._op
        op["bytes"], op["files"] = {}, {}
        for r in op.pop("roots"):
            b0, f0 = op["before"].pop(r)
            b1, f1 = dir_usage(r)
            op["bytes"][r] = b1 - b0
            op["files"][r] = f1 - f0
        del op["before"]
        self.sc._jsc.clearJobGroup()
        self.ops.append(op)
        self._op = None

    def sample(self, name: str, value: float) -> None:
        """A gauge read between ops, e.g. the live file count."""
        if self.enabled:
            self.samples[name].append(value)

    def span(self, name: str):
        if not self.enabled:
            return nullcontext()
        return self._span(name)

    @contextmanager
    def _span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = {"name": name, "layer": name.split(".")[0],
             "op": self._op["op"] if self._op else None,
             "type": self._op["type"] if self._op else None,
             "parent": parent["id"] if parent else None,
             "id": len(self.spans), "jobs": []}
        self.spans.append(s)
        self._stack.append(s)
        p0, f0 = self._py4j, self._fsyncs
        s["start"] = time.time()
        try:
            yield s
        finally:
            s["end"] = time.time()
            counting, self._counting = self._counting, False
            s["py4j"] = self._py4j - p0
            s["fsyncs"] = self._fsyncs - f0
            # jobs that started since the last claim belong to this,
            # the innermost open span
            ids, self._next_job = self._scan_jobs(self._next_job)
            s["jobs"] = [self._job(j) for j in ids]
            self._stack.pop()
            self._counting = counting

    def _scan_jobs(self, start: int) -> tuple[list[int], int]:
        """Job ids from ``start`` up that the status store knows."""
        self._bus.waitUntilEmpty()
        ids = []
        j = start
        while True:
            try:
                self._store.job(j)
            except Exception:
                return ids, j
            ids.append(j)
            j += 1

    def _job(self, job_id: int) -> dict:
        jd = self._store.job(job_id)
        sub = jd.submissionTime()
        comp = jd.completionTime()
        out = {"id": job_id,
               "start_ms": sub.get().getTime() if sub.isDefined() else None,
               "end_ms": comp.get().getTime() if comp.isDefined() else None,
               "stages": 0, "tasks": 0, "cpu_s": 0.0, "input_bytes": 0,
               "shuffle_read": 0, "shuffle_write": 0, "spill": 0}
        sids = jd.stageIds()
        for i in range(sids.size()):
            try:
                sd = self._store.lastStageAttempt(sids.apply(i))
            except Exception:
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["cpu_s"] += sd.executorCpuTime() / 1e9
            out["input_bytes"] += sd.inputBytes()
            out["shuffle_read"] += sd.shuffleReadBytes()
            out["shuffle_write"] += sd.shuffleWriteBytes()
            out["spill"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

    # -- reductions -------------------------------------------------------
    def span_stats(self, s: dict) -> dict:
        """Counts of one span including its children."""
        kids = [c for c in self.spans if c["parent"] == s["id"]]
        jobs = list(s["jobs"])
        for c in kids:
            jobs += self.span_stats(c)["job_list"]
        wall = s["end"] - s["start"]
        job_ms = _union_ms([(j["start_ms"], j["end_ms"]) for j in jobs
                            if j["start_ms"] and j["end_ms"]],
                           s["start"] * 1000, s["end"] * 1000)
        return {"wall_s": wall, "job_list": jobs, "jobs": len(jobs),
                "stages": sum(j["stages"] for j in jobs),
                "tasks": sum(j["tasks"] for j in jobs),
                "cpu_s": sum(j["cpu_s"] for j in jobs),
                "input_bytes": sum(j["input_bytes"] for j in jobs),
                "shuffle_bytes": sum(j["shuffle_read"] + j["shuffle_write"]
                                     for j in jobs),
                "spill": sum(j["spill"] for j in jobs),
                "job_s": job_ms / 1000, "driver_s": wall - job_ms / 1000,
                "py4j": s["py4j"], "fsyncs": s["fsyncs"]}

    def by_name(self) -> dict[str, list[dict]]:
        """{span name: [inclusive stats of each span]} over timed ops."""
        out = defaultdict(list)
        for s in self.spans:
            if s["op"] is None:
                continue
            st = self.span_stats(s)
            st.pop("job_list")
            out[s["name"]].append(st)
        return out

    def op_stats(self) -> list[dict]:
        """Each timed op with the summed stats of its top-level spans."""
        tops = defaultdict(list)
        for s in self.spans:
            if s["op"] is not None and s["parent"] is None:
                tops[s["op"]].append(self.span_stats(s))
        out = []
        for op in self.ops:
            row = dict(op)
            for k in ("jobs", "stages", "tasks", "cpu_s", "input_bytes",
                      "shuffle_bytes", "spill", "py4j", "fsyncs"):
                row[k] = sum(st[k] for st in tops[op["op"]])
            out.append(row)
        return out

    def self_time_by_layer(self) -> dict[str, float]:
        """Span duration minus the part its child spans cover, per layer,
        over timed ops."""
        out = defaultdict(float)
        for s in self.spans:
            if s["op"] is None:
                continue
            kids = [(c["start"], c["end"]) for c in self.spans
                    if c["parent"] == s["id"]]
            out[s["layer"]] += (s["end"] - s["start"]) - _union_ms(
                kids, s["start"], s["end"])
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        """Write the spans, gauges and per-op counts as JSON.  The
        ``ops`` rows (op id, type, jobs, py4j, fsyncs, ...) are what the
        repeatability check compares between two runs of one seed."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans, "samples": self.samples,
                       "ops": self.op_stats()}, f, default=str)
