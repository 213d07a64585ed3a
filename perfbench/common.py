"""Helpers the workloads share: timed operations with failure
accounting, directory sizes and the metric record format."""

from __future__ import annotations

import itertools
import json
import os
import statistics
import time
import traceback

from stats import Outcomes, summarize


# single probes a traced run sends both traced and untraced
OVERHEAD_PAIRS = 6

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "BENCHMARK.json")


def per_layer_units() -> dict[str, str]:
    """Name → unit of every per-layer metric BENCHMARK.json declares."""
    with open(BENCHMARK) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def layer_metrics(tracer, recorder, values: dict) -> dict:
    """The full per-layer record: ``values`` from the workload, 0 for
    layers it does not load, plus session start and tracing overhead
    (median traced over median untraced request time, summed over the
    request kinds that ran both ways)."""
    units = per_layer_units()
    out = dict.fromkeys(units, 0.0)
    unknown = set(values) - set(units)
    if unknown:
        raise KeyError(f"undeclared per-layer metrics {sorted(unknown)}")
    out.update(values)
    out["session.start_s"] = sum(
        r["end"] - r["start"] for r in tracer.named("session.start"))
    traced = untraced = 0.0
    for kind, walls in recorder.walls.items():
        plain = recorder.walls.get(f"{kind}.untraced")
        if plain:
            traced += statistics.median(walls)
            untraced += statistics.median(plain)
    out["trace.overhead_frac"] = traced / untraced - 1.0 if untraced else 0.0
    return {k: metric(v, units[k]) for k, v in out.items()}


def closed_loop(t0: float, seconds: float, plan: list[str], minimum: dict[str, int]):
    """Yield the request kinds of ``plan``, cycling, one at a time,
    until ``seconds`` have passed since ``t0`` and every kind was sent
    at least ``minimum[kind]`` times; once the time is up, only kinds
    short of their minimum are sent."""
    sent = dict.fromkeys(plan, 0)
    for kind in itertools.cycle(plan):
        if time.monotonic() - t0 >= seconds:
            if all(sent[k] >= n for k, n in minimum.items()):
                return
            if sent[kind] >= minimum.get(kind, 0):
                continue
        sent[kind] += 1
        yield kind


def mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def duration(span: dict) -> float:
    return span["end"] - span["start"]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


class Recorder:
    """Runs the benchmark's operations in a closed loop: each one
    starts after the previous one returned. Keeps the wall time of
    every successful measured operation by kind; an exception or a
    failed check counts the operation as failed."""

    def __init__(self, tracer=None):
        self.tracer = tracer
        self.outcomes = Outcomes()
        self.walls: dict[str, list[float]] = {}
        self._n = 0

    def op(self, kind: str, fn, check=None, traced: bool = True):
        """Time ``fn()``; ``check(result)`` returns an error string or
        None. Returns the result, or None when the operation failed.
        In a traced run, ``traced=False`` times the operation with
        tracing off, under the kind ``<kind>.untraced``."""
        self._n += 1
        tracing = self.tracer is not None and traced
        if self.tracer is not None:
            self.tracer.enabled = tracing
        key = kind if traced or self.tracer is None else f"{kind}.untraced"
        try:
            t0 = time.monotonic()
            if tracing:
                with self.tracer.traced_request(f"r{self._n}", f"request.{kind}"):
                    result = fn()
            else:
                result = fn()
            wall = time.monotonic() - t0
            if self.tracer is not None:
                self.tracer.enabled = False
            error = check(result) if check else None
        except Exception as exc:  # one failed request must not end the run
            traceback.print_exc()
            self.outcomes.record(False, f"{key}: {type(exc).__name__}: {exc}")
            return None
        finally:
            if self.tracer is not None:
                self.tracer.enabled = False
        if self.outcomes.record(error is None, f"{key}: {error}"):
            self.walls.setdefault(key, []).append(wall)
            return result
        return None

    def warmup_s(self) -> float:
        """Wall of the set-up operations, the kinds named ``warmup.*``."""
        return sum(sum(w) for k, w in self.walls.items() if k.startswith("warmup."))

    def median(self, kind: str) -> float | None:
        """Median wall of ``kind``. A kind without one successful
        request is itself a failure, and its metrics read 0."""
        walls = self.walls.get(kind)
        if walls:
            return statistics.median(walls)
        self.outcomes.record(False, f"{kind}: no successful request")
        return None

    def tracing_modes(self, n: int) -> tuple[bool, ...]:
        """How to send the n-th probe: once, untraced, in untraced
        runs. In a traced run the first OVERHEAD_PAIRS probes go twice,
        traced and untraced in alternating order, so that the tracing
        overhead is measured on identical requests; later ones go
        once, traced."""
        if self.tracer is None:
            return (False,)
        if n >= OVERHEAD_PAIRS:
            return (True,)
        return (True, False) if n % 2 == 0 else (False, True)

    def report(self) -> list[str]:
        lines = []
        for kind, walls in sorted(self.walls.items()):
            s = summarize(walls)
            tail = f", p{s['tail_pct']:g} {s['tail']:.4f} s" if "tail" in s else ""
            lines.append(f"op {kind}: n={s['n']}, p50 {s['p50']:.4f} s{tail}")
            lines.append("  samples (s, in order): " + " ".join(f"{w:.3f}" for w in walls))
        return lines
