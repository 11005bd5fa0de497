"""Spans around calls into the package's layers, for the traced run.

A :class:`Tracer` belongs to one traced iteration. Every call it wraps runs
under a Spark job group named ``<iteration>/<layer>[/<kind>]`` and becomes
a span (name, start, end, parent). Four kinds of step:

- ``prefix``: materialise a DataFrame with the ``noop`` sink; its wall is
  the wall of the job cut after that layer (cumulative);
- ``step``: an eager call that extends the chain (a write, a collect); its
  wall is cumulative like a prefix's. A step that ``materialises`` its
  output (a checkpoint) ends the chain: the next one starts from it;
- ``call``: the eager part of a lazy-looking call (driver collects inside
  an operator); added to the layer's self time as is;
- ``standalone``: a whole job of its own (the resume pass); its self time
  is its wall.

:func:`layer_times` and :func:`layer_task_sums` turn the recorded steps into
self times and Spark task-metric sums per layer.
"""

from __future__ import annotations

import gc
import time
from contextlib import contextmanager

from eventlog import TaskSums
from stats import prefix_self_times

#: pause after a collection, for Spark's context cleaner to drop the
#: blocks and shuffles the collection released
SETTLE_S = 1.0


class Tracer:
    def __init__(self, spark, iteration: int, t_origin: float):
        self.sc = spark.sparkContext
        self.it = iteration
        self.t_origin = t_origin
        self.root = f"trace/{iteration}"
        self.spans: list[dict] = []
        self.chain: list[tuple[str, float, str]] = []
        #: indices into ``chain`` where a new chain starts
        self.breaks: list[int] = []
        self.calls: list[tuple[str, float, str]] = []
        self.standalones: list[tuple[str, float, str]] = []
        self.values: dict[str, float] = {}
        self.rows: dict[str, int] = {}
        #: (job group, wall) of the latest ``group`` block
        self.last: tuple[str, float] = ("", 0.0)

    def settle(self) -> None:
        """Collect garbage on both sides of the gateway before a timed step,
        so that no step pays for the cleanup of the steps before it (the
        checkpoints and shuffles an earlier prefix left behind)."""
        gc.collect()
        self.sc._jvm.System.gc()
        time.sleep(SETTLE_S)

    @contextmanager
    def group(self, name: str):
        group = f"{self.it}/{name}"
        self.settle()
        self.sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            yield group
        finally:
            t1 = time.perf_counter()
            self.sc.setJobGroup("untagged", "untagged")
            self.spans.append({
                "name": name,
                "group": group,
                "start": t0 - self.t_origin,
                "end": t1 - self.t_origin,
                "parent": self.root,
            })
            self.last = (group, t1 - t0)

    def _timed(self, name: str, fn):
        with self.group(name):
            out = fn()
        return out, self.last

    def prefix(self, layer: str, df, rows_out: bool = False, extra: dict | None = None):
        """Materialise ``df`` (the job cut after ``layer``). ``df`` may be a
        function that builds the DataFrame: it is then called inside the
        span, so the eager part of building it (planning, partition
        counts) is timed with the layer. With ``rows_out`` returns its row
        count; with ``extra`` ({name: aggregate Column}) returns those
        observed values."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        aggs = dict(extra or {})
        if rows_out:
            aggs.setdefault("rows", F.count(F.lit(1)))
        obs = Observation(f"{layer}-{self.it}") if aggs else None

        def run():
            d = df() if callable(df) else df
            if obs is not None:
                d = d.observe(obs, *[c.alias(k) for k, c in aggs.items()])
            d.write.format("noop").mode("overwrite").save()

        _, (group, wall) = self._timed(layer, run)
        self.chain.append((layer, wall, group))
        if obs is None:
            return None
        got = obs.get
        if rows_out:
            self.rows[layer] = int(got["rows"])
            return self.rows[layer]
        return {k: (got[k] or 0) for k in aggs}

    def step(self, layer: str, fn, chained: bool = True, materialises: bool = False):
        out, (group, wall) = self._timed(layer, fn)
        (self.chain if chained else self.standalones).append((layer, wall, group))
        if materialises:
            self.breaks.append(len(self.chain))
        return out

    def standalone(self, layer: str, fn):
        return self.step(layer, fn, chained=False)

    def call(self, layer: str, fn):
        out, (group, wall) = self._timed(f"{layer}/call", fn)
        self.calls.append((layer, wall, group))
        return out

    def value(self, name: str, v: float) -> None:
        self.values[name] = v


def chains(tr: Tracer) -> list[list[tuple[str, float, str]]]:
    """The recorded chain, split where a step materialised its output."""
    cuts = [0, *tr.breaks, len(tr.chain)]
    return [tr.chain[a:b] for a, b in zip(cuts, cuts[1:]) if b > a]


def layer_times(tr: Tracer) -> dict[str, float]:
    """Self seconds per (sub-)layer: prefix differences within each chain,
    plus calls and standalones."""
    out: dict[str, float] = {}
    for chain in chains(tr):
        out.update(prefix_self_times([(layer, wall) for layer, wall, _ in chain]))
    for layer, wall, _ in tr.calls + tr.standalones:
        out[layer] = out.get(layer, 0.0) + wall
    return out


def call_times(tr: Tracer) -> dict[str, float]:
    out: dict[str, float] = {}
    for layer, wall, _ in tr.calls:
        out[layer] = out.get(layer, 0.0) + wall
    return out


def layer_task_sums(tr: Tracer, sums: dict[str, TaskSums]) -> dict[str, TaskSums]:
    """Task-metric sums per (sub-)layer, by the same prefix-difference rule
    as the self times (a prefix's jobs recompute every upstream layer)."""
    out: dict[str, TaskSums] = {}
    for chain in chains(tr):
        prev = TaskSums()
        for layer, _, group in chain:
            cur = sums.get(group, TaskSums())
            out[layer] = out.get(layer, TaskSums()) + (cur - prev)
            prev = cur
    for layer, _, group in tr.calls + tr.standalones:
        out[layer] = out.get(layer, TaskSums()) + sums.get(group, TaskSums())
    return out
