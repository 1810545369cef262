"""The host's speed, measured with fixed work that runs no engine code.

The benchmark runs on shared machines whose speed drifts by up to 2x over
seconds to minutes, while the engine's share of a run does not change.

``HostSpeed`` serves the single-threaded ``emit_route``: each measured
span (an emit block, a fresh start) sits next to two calibration slices on
the same thread, a fixed set of JSON round trips and dict builds over
events generated from seed 0, the same on every run and every commit. A
span's time at the reference speed is its time × ``REF_S`` / the mean of
its two slices; ``REF_S`` is what a slice takes on a quiet 4-vCPU x86_64
VM.

``JvmSpeed`` serves ``analytics``, whose Spark work runs on every vCPU:
a slice is a JDK ``Arrays.parallelSort`` of a fixed array in the session's
JVM (no Spark and no engine code), and the run's times are scaled by
``JVM_REF_S`` / the median of its slices, taken between the run's spans.

A change to the engine moves the spans and not the slices, so it moves a
scaled time by the same share as the raw one.
"""

from __future__ import annotations

import json
import random
import statistics
import time

from perfbench import gen

REF_S = 0.0090  # one slice's seconds at the reference speed
SUB_SLICES = 3  # a slice is the median of this many runs of the payload


def _payload() -> list:
    rng = random.Random(0)
    small = [gen._small_event(rng, i) for i in range(200)]
    return small + [{"records": gen.large_pool(0)[0][:108]}]


class HostSpeed:
    def __init__(self) -> None:
        self.payload = _payload()
        self.slices: list[float] = []

    def slice(self) -> float:
        """Time one slice (seconds); kept in ``slices``."""
        runs = []
        for _ in range(SUB_SLICES):
            t0 = time.perf_counter()
            for ev in self.payload:
                d = json.loads(json.dumps(ev, separators=(",", ":")))
                {k.upper(): v for k, v in d.items()}
            runs.append(time.perf_counter() - t0)
        runs.sort()
        self.slices.append(runs[SUB_SLICES // 2] * SUB_SLICES)
        return self.slices[-1]

    def scale(self) -> float:
        """The factor for the span between the last two slices: times
        multiply by it, rates divide by it."""
        return REF_S / ((self.slices[-2] + self.slices[-1]) / 2)


JVM_REF_S = 0.040  # one JVM slice's seconds at the reference speed
JVM_SORT_LONGS = 1_000_000


class JvmSpeed:
    def __init__(self, spark) -> None:
        self.jvm = spark._jvm
        self.data = self.jvm.java.util.Random(0).longs(JVM_SORT_LONGS).toArray()
        self.slices: list[float] = []

    def slice(self) -> float:
        """Time one slice (the faster of two sorts); kept in ``slices``."""
        arrays = self.jvm.java.util.Arrays
        runs = []
        for _ in range(2):
            copy = arrays.copyOf(self.data, JVM_SORT_LONGS)
            t0 = time.perf_counter()
            arrays.parallelSort(copy)
            runs.append(time.perf_counter() - t0)
        self.slices.append(min(runs))
        return self.slices[-1]

    def scale(self) -> float:
        """The run's factor: times multiply by it, rates divide by it."""
        return JVM_REF_S / statistics.median(self.slices)
