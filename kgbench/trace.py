"""Traced run: spans around the calls into each layer, and per-layer
numbers from the spans plus the Spark event log.

``Tracer.install`` replaces the public functions listed in
``LAYER_CALLS`` by wrappers, in the module namespaces the pipeline
looks them up in.  Each wrapper opens a span {name, start, end,
parent}, sets the Spark job group to the span, and forces a
``persist`` + ``count`` of a returned DataFrame, so the lazy plan a
layer built runs inside that layer's span.  Self time is a span's
duration minus the part of it its child spans cover.  Task counts,
failures, GC, shuffle, spill, I/O and task-time skew come from the
event log, keyed by job group.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# (module, attribute, layer): where each layer's public function is
# looked up by its callers.  A function imported into several modules
# is listed once per caller module.
LAYER_CALLS = [
    ("ner_spark.io.read", "read_transcripts", "io.read"),
    ("ner_spark.kg.skew", "salted_repartition", "kg.skew"),
    ("ner_spark.ner.tagger", "tag_turns", "ner.tagger"),
    ("ner_spark.pipeline", "tag_turns", "ner.tagger"),
    ("ner_spark.pipeline", "mentions_from_turns", "ner.tagger"),
    ("ner_spark.pipeline", "extract_triples", "kg.cooccur"),
    ("ner_spark.kg.linking", "surface_nodes", "kg.linking"),
    ("ner_spark.kg.linking", "match_edges", "kg.linking"),
    ("ner_spark.kg.materialize", "entity_assignments", "kg.materialize"),
    ("ner_spark.kg.materialize", "connected_components", "kg.cc"),
    ("ner_spark.kg.materialize", "build_entities", "kg.materialize"),
    ("ner_spark.kg.materialize", "build_edges", "kg.materialize"),
    ("ner_spark.checkpoint.resume", "tag_turns", "ner.tagger"),
    ("ner_spark.checkpoint.resume", "mentions_from_turns", "ner.tagger"),
    ("ner_spark.checkpoint.resume", "extract_triples", "kg.cooccur"),
    ("ner_spark.checkpoint.resume", "commit_stage", "checkpoint.lineage"),
    ("ner_spark.checkpoint.resume", "validate_stage", "checkpoint.lineage"),
    ("ner_spark.checkpoint.lineage", "commit_stage", "checkpoint.lineage"),
]

GROUP_PREFIX = "kgbench-span-"

#: the installed tracer, or None in an untraced run
ACTIVE: "Tracer | None" = None


@contextmanager
def phase(layer: str, name: str):
    """A span opened by the benchmark around a call it makes itself;
    does nothing in an untraced run."""
    if ACTIVE is None:
        yield None
    else:
        with ACTIVE.span(layer, name) as s:
            yield s


# -- probes: extra counts a layer's span records, run after its forced
# count inside a child "trace:probe" span (so outside the layer's self
# time).  Each takes (span, call args, call result).
def _probe_layout(span, args, out):
    span.attrs["max_partition_rows"] = (
        out.groupBy(F.spark_partition_id()).count().agg(F.max("count")).first()[0]
        or 0
    )


def _probe_match_edges(span, args, out):
    from ner_spark.kg.linking import candidate_pairs

    span.attrs["candidate_pairs"] = candidate_pairs(args[0]).count()


def _probe_cc(span, args, out):
    span.attrs["edges"] = args[0].count()
    span.attrs["components"] = out.select("component").distinct().count()


def _probe_commit(span, args, out):
    """Lineage rows this commit wrote; they count as recomputed when
    the stage already had committed buckets (a resume)."""
    from ner_spark.checkpoint.lineage import LINEAGE_TABLE

    ldir = os.path.join(args[1], LINEAGE_TABLE, args[2])
    stamps = []
    for fn in glob.glob(os.path.join(ldir, "*.json")):
        with open(fn) as f:
            stamps.append(json.load(f)["committed_at"])
    written = sum(t >= span.start for t in stamps)
    span.attrs["buckets_written"] = written
    span.attrs["buckets_recomputed"] = written if len(stamps) > written else 0


PROBES = {
    "salted_repartition": _probe_layout,
    "match_edges": _probe_match_edges,
    "connected_components": _probe_cc,
    "commit_stage": _probe_commit,
}


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    rows: int | None = None
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple] = []
        self._persisted: list[DataFrame] = []

    # -- spans ----------------------------------------------------------
    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{span.id}", span.name)

    @contextmanager
    def span(self, layer: str, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            len(self.spans),
            f"{layer}:{name}",
            layer,
            time.time(),
            parent=parent.id if parent else None,
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(parent)

    def materialize(self, span: Span, df: DataFrame) -> DataFrame:
        """Layer boundary: run the plan now, inside ``span``."""
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self._persisted.append(df)
        span.rows = df.count()
        return df

    # -- patching -------------------------------------------------------
    def _wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, fn.__name__) as s:
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = self.materialize(s, out)
                probe = PROBES.get(fn.__name__)
                if probe is not None:
                    with self.span("trace", "probe"):
                        probe(s, args, out)
            return out

        return traced

    def install(self) -> None:
        global ACTIVE
        ACTIVE = self
        for module, attr, layer in LAYER_CALLS:
            mod = importlib.import_module(module)
            fn = getattr(mod, attr)
            self._patches.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(fn, layer))

    def uninstall(self) -> None:
        """Restore the layer functions.  What the spans persisted stays
        cached, as the traced outputs are built on it, until ``release``."""
        global ACTIVE
        ACTIVE = None
        for mod, attr, fn in reversed(self._patches):
            setattr(mod, attr, fn)
        self._patches.clear()
        self._set_group(None)

    def release(self) -> None:
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    # -- derived --------------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """span id → duration minus the union of its children's
        intervals (clipped to the span)."""
        children = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append((s.start, s.end))
        out = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children[s.id]):
                lo, hi = max(lo, s.start), min(hi, s.end)
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s.id] = (s.end - s.start) - covered
        return out

    def descendants(self, span_id: int) -> list[Span]:
        kids = defaultdict(list)
        for s in self.spans:
            kids[s.parent].append(s)
        out, todo = [], list(kids[span_id])
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids[s.id])
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selfs = self.self_times()
        with open(path, "w") as f:
            json.dump(
                [dict(asdict(s), self_s=selfs[s.id]) for s in self.spans],
                f,
                indent=1,
            )


def event_log_stats(event_dir: str) -> dict[int, dict]:
    """span id → counters of the jobs run under its job group:
    jobs, tasks, tasks_failed, gc_s, run_s, shuffle_write_bytes,
    spill_bytes, input_bytes, records_read, bytes_written, and
    ``stage_task_s`` (stage id → per-task executor run times)."""
    stage_span: dict[int, int] = {}
    stats: dict[int, dict] = defaultdict(
        lambda: defaultdict(float, stage_task_s=defaultdict(list))
    )
    paths = glob.glob(os.path.join(event_dir, "**", "events_*"), recursive=True)
    if not paths:
        raise FileNotFoundError(f"no Spark event log under {event_dir}")
    for path in sorted(paths):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not group or not group.startswith(GROUP_PREFIX):
                        continue
                    sid = int(group[len(GROUP_PREFIX) :])
                    stats[sid]["jobs"] += 1
                    for stage in ev.get("Stage IDs", []):
                        stage_span.setdefault(stage, sid)
                elif kind == "SparkListenerTaskEnd":
                    sid = stage_span.get(ev.get("Stage ID"))
                    if sid is None:
                        continue
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    st = stats[sid]
                    st["tasks"] += 1
                    st["tasks_failed"] += bool(info.get("Failed"))
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1000
                    st["run_s"] += m.get("Executor Run Time", 0) / 1000
                    st["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                    st["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    inp = m.get("Input Metrics") or {}
                    st["input_bytes"] += inp.get("Bytes Read", 0)
                    st["records_read"] += inp.get("Records Read", 0)
                    st["bytes_written"] += (m.get("Output Metrics") or {}).get(
                        "Bytes Written", 0
                    )
                    st["stage_task_s"][ev["Stage ID"]].append(
                        m.get("Executor Run Time", 0) / 1000
                    )
    return stats


def task_skew(stage_task_s: dict[int, list[float]]) -> float:
    """max ÷ median task run time of the busiest stage (0 if none)."""
    if not stage_task_s:
        return 0.0
    times = max(stage_task_s.values(), key=sum)
    med = statistics.median(times)
    return max(times) / med if med > 0 else 0.0
