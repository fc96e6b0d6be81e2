"""Per-layer measurements for the traced run.

Spans are recorded by the benchmark around the public calls
`pipeline.run_pipeline` makes (`transform`, `DataFrameWriter.parquet`,
`table_io.write_manifest_entry`); nothing inside the package is edited.
Spark-layer times come from forcing partial plans to the `noop` sink, core
layers from single-threaded calls of the frozen core functions on the
workload's own captions, and the `spark.*` counters from the session's
event log.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import Counter
from pathlib import Path
from typing import Callable, Dict, List, Optional

import pandas as pd

# --- spans ------------------------------------------------------------------


class Tracer:
    """In-memory spans: (name, start, end, parent, run id)."""

    def __init__(self) -> None:
        self.spans: List[Dict] = []
        self.enabled = False
        self.run_id = 0
        self.stack: List[int] = []

    def open(self, name: str, start: Optional[float] = None,
             parent: Optional[int] = None) -> int:
        if parent is None and self.stack:
            parent = self.stack[-1]
        self.spans.append({
            "name": name,
            "start": time.perf_counter() if start is None else start,
            "end": None,
            "parent": parent,
            "run": self.run_id,
        })
        return len(self.spans) - 1

    def close(self, idx: int, end: Optional[float] = None) -> None:
        self.spans[idx]["end"] = time.perf_counter() if end is None else end

    def patch(self, owner, attr: str, name: str, before: Callable = None,
              after: Callable = None) -> None:
        """Replace owner.attr by a wrapper that records a span while enabled;
        `before()` runs first and `after(span)` once the span has closed."""
        orig = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            if before is not None:
                before()
            idx = self.open(name)
            self.stack.append(idx)
            try:
                return orig(*args, **kwargs)
            finally:
                self.stack.pop()
                self.close(idx)
                if after is not None:
                    after(self.spans[idx])

        setattr(owner, attr, wrapper)

    def of_run(self, run: int) -> List[Dict]:
        return [s for s in self.spans if s["run"] == run]


def self_times(spans: List[Dict]) -> Dict[str, float]:
    """Per-name self time: duration minus what direct children cover."""
    child = Counter()
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    out: Counter = Counter()
    for i, s in enumerate(spans):
        out[s["name"]] += (s["end"] - s["start"]) - child[i]
    return dict(out)


class PipelineTrace:
    """Spans for one run_pipeline call: batch spans open at each
    `transform` call; the readback span runs from the end of the batch's
    write until its first manifest entry starts."""

    def __init__(self, tracer: Tracer) -> None:
        from pyspark.sql.readwriter import DataFrameWriter

        from pii_filter_spark import pipeline
        from pii_filter_spark.sources import table_io

        self.t = tracer
        self._batch: Optional[int] = None
        self._write_end: Optional[float] = None
        tracer.patch(pipeline, "transform", "operators.fused.transform",
                     before=self._new_batch)
        tracer.patch(DataFrameWriter, "parquet", "pipeline.write",
                     after=self._wrote)
        tracer.patch(table_io, "write_manifest_entry",
                     "sources.table_io.manifest_entry", before=self._readback)

    def _wrote(self, span: Dict) -> None:
        self._write_end = span["end"]

    def _new_batch(self) -> None:
        self._end_batch()
        self._batch = self.t.open("pipeline.batch")
        self.t.stack.append(self._batch)

    def _end_batch(self) -> None:
        if self._batch is not None:
            self.t.stack.remove(self._batch)
            self.t.close(self._batch)
            self._batch = None

    def _readback(self) -> None:
        if self._write_end is not None:
            idx = self.t.open("operators.metrics.readback", start=self._write_end)
            self.t.close(idx)
            self._write_end = None

    def run(self, run_pipeline: Callable, *args, **kwargs):
        self.t.enabled = True
        root = self.t.open("pipeline.run_pipeline")
        self.t.stack.append(root)
        try:
            return run_pipeline(*args, **kwargs)
        finally:
            self._end_batch()
            self.t.stack.remove(root)
            self.t.close(root)
            self.t.enabled = False


# --- spark layers -----------------------------------------------------------

def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def median_time(fn: Callable, reps: int) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def spark_layers(spark, table: str, num_parts: int, scrub: bool,
                 reps: int = 2) -> Dict[str, float]:
    """Whole-table stage times, each forced to the noop sink."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from pii_filter_spark.pipeline import scrub_bytes_stage, transform, with_part_id
    from pii_filter_spark.sources.table_io import read_table

    @pandas_udf("string")
    def same_str(s: pd.Series) -> pd.Series:
        return s

    @pandas_udf("binary")
    def same_bin(s: pd.Series) -> pd.Series:
        return s

    src = with_part_id(read_table(spark, table), num_parts)
    scan = median_time(lambda: noop(src), reps)
    rt_caption = median_time(
        lambda: noop(src.withColumn("caption", same_str(F.col("caption")))), reps
    ) - scan
    rt_bytes = median_time(
        lambda: noop(src.withColumn("bytes", same_bin(F.col("bytes")))), reps
    ) - scan
    fused = median_time(lambda: noop(transform(src)), reps) - scan - rt_caption
    strip = median_time(lambda: noop(scrub_bytes_stage(src)), reps) - scan - rt_bytes
    return {
        "sources.scan_s": scan,
        "spark.arrow_roundtrip_s": rt_caption + (rt_bytes if scrub else 0.0),
        "operators.fused.stage_s": fused,
        "images.scrub_bytes_stage_s": strip,
    }


def batch_noop_s(spark, table: str, num_parts: int, batch_parts: int,
                 scrub: bool) -> List[float]:
    """Each pipeline batch's transform forced to noop instead of parquet."""
    from pyspark.sql import functions as F

    from pii_filter_spark.pipeline import (
        PART_COL, scrub_bytes_stage, transform, with_part_id)
    from pii_filter_spark.sources.table_io import read_table

    src = with_part_id(read_table(spark, table), num_parts)
    if scrub:
        src = scrub_bytes_stage(src)
    out = []
    for b in range(0, num_parts, batch_parts):
        batch = list(range(b, b + batch_parts))
        out.append(median_time(
            lambda: noop(transform(src.where(F.col(PART_COL).isin(batch)))), 1))
    return out


def arrow_batch_unique_ratio(spark, table: str, num_parts: int,
                             batch_parts: int) -> float:
    """Unique captions / rows, counted per Arrow batch as the fused UDF
    receives them (same batch filters, same maxRecordsPerBatch)."""
    from pyspark.sql import functions as F

    from pii_filter_spark.pipeline import PART_COL, with_part_id
    from pii_filter_spark.sources.table_io import read_table

    def count(batches):
        for pdf in batches:
            yield pd.DataFrame({"n": [len(pdf)], "u": [pdf["caption"].nunique()]})

    src = with_part_id(read_table(spark, table), num_parts)
    n = u = 0
    for b in range(0, num_parts, batch_parts):
        part = src.where(F.col(PART_COL).isin(list(range(b, b + batch_parts))))
        for r in part.select("caption").mapInPandas(count, "n long, u long").collect():
            n += r["n"]
            u += r["u"]
    return u / n


# --- core layers ------------------------------------------------------------

CHUNK = 2048  # the session's spark.sql.execution.arrow.maxRecordsPerBatch
MAX_CORE_ROWS = 2 * CHUNK


def _per_row_us(fn: Callable, chunks: List[list]) -> float:
    rows = sum(len(c) for c in chunks)
    t0 = time.perf_counter()
    for c in chunks:
        fn(c)
    return (time.perf_counter() - t0) / rows * 1e6


def core_layers(captions: List[str], images: List[bytes]) -> Dict[str, float]:
    """Single-threaded µs/row of each core layer on the workload's captions,
    plus the ratios measured where that work happens."""
    from pii_filter_spark.core import detect, langid, ner_dictionary, perplexity
    from pii_filter_spark.core import quality, sensitive, toxicity
    from pii_filter_spark.images.jpeg_metadata import strip_jpeg_metadata
    from pii_filter_spark.images.metadata import is_png, strip_ancillary
    from pii_filter_spark.operators.fused import fused_udf

    caps = captions[:MAX_CORE_ROWS]
    chunks = [caps[i : i + CHUNK] for i in range(0, len(caps), CHUNK)]
    texts = [[t for t in c if isinstance(t, str)] for c in chunks]
    langs = [[langid.detect_language(t) for t in c] for c in texts]
    ppls = [[perplexity.perplexity(t) for t in c] for c in texts]
    words = [[ner_dictionary.text_words(t) for t in c] for c in texts]
    pairs = [list(zip(c, w)) for c, w in zip(texts, words)]
    # first calls build models and compile patterns; keep that out of timing
    fused_udf.func(pd.Series(caps[:64]))

    udf = fused_udf.func
    m = {
        "operators.fused.udf_us_per_row": _per_row_us(lambda c: udf(pd.Series(c)), chunks),
        "core.langid.us_per_row": _per_row_us(
            lambda c: [langid.detect_language(t) for t in c], texts),
        "core.perplexity.us_per_row": _per_row_us(
            lambda c: [perplexity.perplexity(t) for t in c], texts),
        "core.ner_dictionary.text_words_us_per_row": _per_row_us(
            lambda c: [ner_dictionary.text_words(t) for t in c], texts),
        "core.detect.regex_us_per_row": _per_row_us(
            lambda c: [detect.resolve_regex_overlaps(detect.find_regex_matches(t))
                       for t in c], texts),
        "core.ner_dictionary.us_per_row": _per_row_us(
            lambda c: [ner_dictionary.find_entities(t, w) for t, w in c], pairs),
        "core.toxicity.us_per_row": _per_row_us(
            lambda c: [toxicity.find_toxic(t, w) for t, w in c], pairs),
        "core.sensitive.us_per_row": _per_row_us(
            lambda c: [sensitive.find_sensitive(t, w) for t, w in c], pairs),
        "core.detect.scrub_us_per_row": _per_row_us(detect.scrub_batch, chunks),
    }
    triples = [list(zip(c, lg, pp)) for c, lg, pp in zip(texts, langs, ppls)]
    m["core.quality.us_per_row"] = _per_row_us(
        lambda c: [quality.drop_reasons(t, lg, pp) for t, lg, pp in c], triples)
    m["core.detect.resolve_us_per_row"] = m["core.detect.scrub_us_per_row"] - sum(
        m[k] for k in (
            "core.ner_dictionary.text_words_us_per_row", "core.detect.regex_us_per_row",
            "core.ner_dictionary.us_per_row", "core.toxicity.us_per_row",
            "core.sensitive.us_per_row"))
    imgs = images[:MAX_CORE_ROWS]
    m["images.strip_us_per_row"] = _per_row_us(
        lambda c: [strip_ancillary(b) if is_png(b) else strip_jpeg_metadata(b) for b in c],
        [imgs])

    flat = [t for c in texts for t in c]
    raw = sum(len(detect.find_regex_matches(t, validate=False)) for t in flat)
    valid = sum(len(detect.find_regex_matches(t)) for t in flat)
    m["core.validators.accept_ratio"] = valid / raw if raw else 1.0
    hits = sum(1 for t, w in zip(flat, (w for c in words for w in c))
               if ner_dictionary.find_entities(t, w))
    m["core.ner_dictionary.hit_ratio"] = hits / len(flat)
    return m


# --- event log --------------------------------------------------------------

_PY_SENT = "data sent to Python workers"
_PY_RECEIVED = "data returned from Python workers"
_FILES_READ = "size of files read"


def _scan_size_ids(plan: Dict, out: set) -> None:
    for m in plan.get("metrics", []):
        if m["name"] == _FILES_READ:
            out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _scan_size_ids(child, out)


def read_event_log(path: Path, job_group: str) -> Dict[str, float]:
    """Counters of the jobs and SQL executions run under `job_group`.

    spark.input_bytes sums the scan nodes' "size of files read": the task
    counter "Bytes Read" misses most parquet column reads on the local
    filesystem (a full 76 MB scan reports ~0.2 MB).
    """
    stages = set()
    execs = set()
    size_ids: set = set()
    plans: List[Dict] = []
    driver_accums: Dict[int, Dict[int, int]] = {}
    tasks: List[Dict] = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                if (ev.get("Properties") or {}).get("spark.jobGroup.id") == job_group:
                    stages.update(ev["Stage IDs"])
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                if ev.get("jobGroupId") == job_group:
                    execs.add(ev["executionId"])
                plans.append(ev)
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                plans.append(ev)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                driver_accums.setdefault(ev["executionId"], {}).update(
                    dict(ev["accumUpdates"]))
    for ev in plans:
        if ev["executionId"] in execs:
            _scan_size_ids(ev["sparkPlanInfo"], size_ids)
    c: Counter = Counter()
    c["spark.input_bytes"] = sum(
        v for e in execs for k, v in driver_accums.get(e, {}).items() if k in size_ids)
    for ev in tasks:
        if ev["Stage ID"] not in stages:
            continue
        tm = ev.get("Task Metrics") or {}
        c["spark.tasks"] += 1
        c["spark.shuffle_bytes"] += tm.get("Shuffle Write Metrics", {}).get(
            "Shuffle Bytes Written", 0)
        c["spark.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        c["spark.executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
        c["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        for acc in ev["Task Info"].get("Accumulables", []):
            if acc.get("Name") == _PY_SENT:
                c["spark.python_bytes_sent"] += int(acc.get("Update", 0))
            elif acc.get("Name") == _PY_RECEIVED:
                c["spark.python_bytes_received"] += int(acc.get("Update", 0))
    return dict(c)
