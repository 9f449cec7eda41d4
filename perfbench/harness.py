"""Timing, operation accounting and check bookkeeping shared by the
workloads.

Every call into the program is timed from outside with
``time.perf_counter`` (:meth:`Run.call`). In a traced run the same call
also sets a Spark job group named after the layer, so the event-log parser
(``eventlog.py``) can attribute each Spark job to the call that caused it.
An operation (:meth:`Run.op`) is one unit of ``attempted`` and fails when
it raises; each correctness check (:meth:`Run.check`) is one more unit of
``attempted`` and fails when the check fails, so a new failure always
raises ``failed``, whatever else already fails. Operations of
one kind can be grouped into passes (``op(name, pass_=...)``): the
end-to-end figure of a kind is the median over passes of the mean time per
operation in a pass, which keeps a mix of unequal operations (three
different queries, say) from making the median jump between them.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager


class Run:
    def __init__(self, spark, trace: bool):
        self.spark = spark
        self.trace = trace
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.passes: dict[str, dict] = defaultdict(lambda: defaultdict(list))
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self.attempted = 0
        self.failed_ops: set[str] = set()
        self.checks: set[str] = set()
        self.check_failures: list[str] = []
        self.verified = False
        self._labels: list[str] = []

    # -- timing -------------------------------------------------------------
    def _set_group(self) -> None:
        if not self.trace:
            return
        sc = self.spark.sparkContext
        if self._labels:
            sc.setJobGroup(self._labels[-1], self._labels[-1].split("#")[0])
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def call(self, layer: str):
        """Time one call into ``layer``; nested calls each get a span."""
        label = f"{layer}#{len(self.spans)}"
        self._labels.append(label)
        self._set_group()
        start_ms = time.time() * 1000.0
        t0 = time.perf_counter()
        ok = False
        try:
            yield
            ok = True
        finally:
            dt = time.perf_counter() - t0
            self._labels.pop()
            self._set_group()
            self.spans.append(
                {"label": label, "layer": layer, "start_ms": start_ms, "end_ms": start_ms + dt * 1000.0, "s": dt}
            )
            if ok:
                self.samples[layer].append(dt)

    @contextmanager
    def op(self, name: str, pass_=None):
        """One attempted operation, timed under ``name`` and counted in pass
        ``pass_`` (each operation is its own pass when None). An exception
        is reported on stderr and counts the operation as failed; the run
        goes on with the next operation."""
        self.attempted += 1
        key = self.attempted if pass_ is None else pass_
        t0 = time.perf_counter()
        try:
            with self.call(name):
                yield
            self.passes[name][key].append(time.perf_counter() - t0)
        except Exception:  # a failing operation must not end the run
            self.failed_ops.add(f"{name}@{self.attempted}")
            traceback.print_exc(file=sys.stderr)

    def check(self, name: str, ok: bool, why: str) -> None:
        """One correctness check, an attempted operation of its own: it
        fails when ``ok`` is false. Names are unique within a run."""
        if name in self.checks:
            raise ValueError(f"check {name!r} made twice")
        self.checks.add(name)
        self.attempted += 1
        if not ok:
            self.failed_ops.add(f"check:{name}")
            self.check_failures.append(f"{name}: {why}")
            print(f"CHECK FAILED {name}: {why}", file=sys.stderr)

    # -- results ------------------------------------------------------------
    @property
    def failed(self) -> int:
        return len(self.failed_ops)

    def pass_median(self, name: str) -> float:
        """Median over passes of the mean time of one ``name`` operation."""
        means = [statistics.fmean(xs) for xs in self.passes.get(name, {}).values()]
        return statistics.median(means) if means else 0.0

    def median(self, layer: str) -> float:
        xs = self.samples.get(layer, [])
        return statistics.median(xs) if xs else 0.0


def dir_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring checksum and marker files."""
    files = size = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            if f.startswith(".") or f.startswith("_"):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dp, f))
    return files, size


def host_calibration() -> float:
    """Seconds for a fixed pure-Python integer loop: a reading that makes a
    window of stolen CPU visible in the run's detail output. Not a metric
    and not used to normalise anything."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0
