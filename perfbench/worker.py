"""One workload in one fresh process: set up Spark, time run_pipeline, check.

Started by run.py with the repo root as cwd and on PYTHONPATH, so the
Python workers Spark forks import the package the same way the driver does.
Argument: one JSON object (see run.py); the result goes to its `result`
path as JSON.
"""

from __future__ import annotations

import importlib
import json
import os
import statistics
import subprocess
import sys
import threading
import time
from collections import Counter
from pathlib import Path
from typing import Dict, List

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import layers  # noqa: E402

NUM_PARTS = 256  # jobs/run_scrub_job.py defaults
BATCH_PARTS = 32
SETUPS = 3  # setup_s is the median of this many session builds + warm-ups
# The traced run's calls. The first full-size call still runs while the JIT
# compiles the per-batch path, so it stays out of the comparison. Calls keep
# getting faster after it, which favours the untraced third call: the
# overhead is an upper estimate. (ABBA order would cancel that drift but
# costs two more calls, and the run must end within 180 s on a busy host.)
TRACE_ORDER = ("first", "traced", "untraced")
DRIVER_MEM = os.environ["SPARK_DRIVER_MEM"]  # set by run.py
_PAGE = os.sysconf("SC_PAGE_SIZE")


# --- resident memory of the JVM and the Python workers -----------------------

def _tree_rss(root: int) -> Dict[str, int]:
    """RSS bytes by command name of the JVM and Python processes below
    `root`. Other names are skipped: they include the JVM's short-lived
    forks (Hadoop runs chmod per written file), which share its pages."""
    parent: Dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat", "rb") as fh:
                    parent[int(d)] = int(fh.read().rsplit(b")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    kids: Dict[int, List[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    by_name: Dict[str, int] = {}
    todo = list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm", "rb") as fh:
                rss = int(fh.read().split()[1]) * _PAGE
            with open(f"/proc/{pid}/comm", encoding="utf-8") as fh:
                name = fh.read().strip()
        except (OSError, IndexError, ValueError):
            continue
        if name == "java" or name.startswith("python"):
            by_name[name] = by_name.get(name, 0) + rss
    return by_name


def _cpu_steal() -> tuple:
    """(steal ticks, all ticks) from /proc/stat: time the hypervisor ran
    another guest while this one wanted the CPU."""
    with open("/proc/stat", encoding="ascii") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


class PeakRss(threading.Thread):
    """Samples, every 100 ms, the RSS of this process's descendants: the
    driver JVM and the Python workers it forks."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak = 0
        self.at_peak: Dict[str, int] = {}
        self._stop_evt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_evt.wait(0.1):
            by_name = _tree_rss(me)
            total = sum(by_name.values())
            if total > self.peak:
                self.peak, self.at_peak = total, by_name

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return self.peak


# --- session ----------------------------------------------------------------

def session_conf(scratch: Path, event_log: Path | None) -> Dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(scratch / "warehouse"),
        # a fixed, pre-touched heap keeps heap resizing out of peak_rss_mb
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def setup(conf: Dict[str, str], warm_table: str, out: Path, scrub: bool):
    """get_spark() plus one warm-up run_pipeline call over every layer."""
    from pii_filter_spark.pipeline import run_pipeline
    from pii_filter_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{os.cpu_count()}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    run_pipeline(spark, warm_table, str(out), num_parts=BATCH_PARTS,
                 batch_parts=BATCH_PARTS, scrub_image_bytes=scrub)
    return spark, time.perf_counter() - t0


def restart(spark) -> None:
    """Stop the session so the next setup builds a new one. Module-level
    pandas UDFs cache their JVM function, bound to the stopped context's
    accumulator server, so the package's operator modules are reloaded."""
    spark.stop()
    for name in sorted(sys.modules):
        if name.startswith("pii_filter_spark.operators."):
            importlib.reload(sys.modules[name])


def commit_intervals(out: Path, start_ns: int) -> List[float]:
    """Seconds between consecutive batch commits; a batch commits when the
    last manifest entry of its parts lands, the first is timed from the
    run_pipeline call."""
    done: Dict[int, int] = {}
    for f in (out / "_manifest").glob("part-*.json"):
        b = int(f.stem[len("part-"):]) // BATCH_PARTS
        done[b] = max(done.get(b, 0), f.stat().st_mtime_ns)
    times = [start_ns] + [done[b] for b in sorted(done)]
    return [(b - a) / 1e9 for a, b in zip(times, times[1:])]


def percentile(xs: List[float], q: int) -> float:
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def timed_call(spark, input_dir: Path, out: Path, scrub: bool, run=None) -> float:
    from pii_filter_spark.pipeline import run_pipeline

    t0 = time.perf_counter()
    args = (spark, str(input_dir / "table"), str(out))
    kwargs = dict(num_parts=NUM_PARTS, batch_parts=BATCH_PARTS, scrub_image_bytes=scrub)
    if run is None:
        run_pipeline(*args, **kwargs)
    else:
        run(run_pipeline, *args, **kwargs)
    return time.perf_counter() - t0


def stop_session(spark) -> None:
    proc = spark.sparkContext._gateway.proc  # noqa: SLF001 - the JVM we started
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


# --- modes ------------------------------------------------------------------

def end_to_end(a: Dict) -> Dict:
    input_dir, scratch = Path(a["input_dir"]), Path(a["scratch"])
    meta = json.loads((input_dir / "meta.json").read_text())
    scrub, rows = meta["scrub_image_bytes"], meta["rows"]
    conf = session_conf(scratch, None)

    setups = []
    spark = None
    for i in range(SETUPS):
        if spark is not None:
            restart(spark)
        spark, dt = setup(conf, str(input_dir / "warm"), scratch / f"warm{i}", scrub)
        setups.append(dt)

    steal0 = _cpu_steal()
    rss = PeakRss()
    rss.start()
    walls, starts, outs, errors = [], [], [], []
    t_end = time.perf_counter() + a["seconds"]
    while not walls or time.perf_counter() < t_end:
        out = scratch / f"out{len(outs)}"
        outs.append(out)
        starts.append(time.time_ns())
        try:
            walls.append(timed_call(spark, input_dir, out, scrub))
        except Exception as e:  # a failed call counts in failed_frac
            errors.append(f"run {len(outs) - 1}: {type(e).__name__}: {e}")
            walls.append(None)
    peak = rss.stop()
    steal = _cpu_steal()
    steal = (steal[0] - steal0[0]) / max(1, steal[1] - steal0[1])
    stop_session(spark)

    intervals: List[float] = []
    for i, out in enumerate(outs):
        if walls[i] is None:
            continue
        problems, _ = gen.check_output(out, input_dir)
        if problems:
            errors.append(f"run {i}: " + "; ".join(problems))
            walls[i] = None
        else:
            intervals.extend(commit_intervals(out, starts[i]))
    ok = [w for w in walls if w is not None]
    metrics = {
        "images_per_s": (statistics.median(rows / w for w in ok) if ok else 0.0, "1/s"),
        "batch_commit_s.p50": (percentile(intervals, 50) if intervals else 0.0, "s"),
        "batch_commit_s.p90": (percentile(intervals, 90) if intervals else 0.0, "s"),
        "setup_s": (statistics.median(setups), "s"),
        "peak_rss_mb": (peak / 2 ** 20, "MB"),
    }
    info = {
        "failed_frac": (len(walls) - len(ok)) / len(walls),
        "run_pipeline_s": walls,
        "setups_s": setups,
        "peak_rss_mb_by_process": {k: v / 2 ** 20 for k, v in rss.at_peak.items()},
        "batch_commit_s": intervals,
        "cpu_steal_frac": steal,
    }
    return {"attempted": len(walls), "failed": len(walls) - len(ok),
            "errors": errors, "metrics": metrics, "info": info}


def traced(a: Dict) -> Dict:
    import pyarrow.parquet as pq

    input_dir, scratch = Path(a["input_dir"]), Path(a["scratch"])
    meta = json.loads((input_dir / "meta.json").read_text())
    scrub, rows = meta["scrub_image_bytes"], meta["rows"]
    table = str(input_dir / "table")
    event_log = scratch / "eventlog"
    spark, _ = setup(session_conf(scratch, event_log), str(input_dir / "warm"),
                     scratch / "warm", scrub)
    sc = spark.sparkContext

    tracer = layers.Tracer()
    ptrace = layers.PipelineTrace(tracer)
    walls: Dict[str, List[float]] = {kind: [] for kind in TRACE_ORDER}
    outs = []
    for i, kind in enumerate(TRACE_ORDER):
        out = scratch / f"call{i}-{kind}"
        outs.append(out)
        if kind == "traced":
            tracer.run_id = i
            sc.setJobGroup("traced", "traced run_pipeline")
            walls[kind].append(timed_call(spark, input_dir, out, scrub, ptrace.run))
            sc.setJobGroup("other", "")
        else:
            walls[kind].append(timed_call(spark, input_dir, out, scrub))
    noops = layers.batch_noop_s(spark, table, NUM_PARTS, BATCH_PARTS, scrub)
    m = layers.spark_layers(spark, table, NUM_PARTS, scrub)
    m["operators.fused.unique_caption_ratio"] = layers.arrow_batch_unique_ratio(
        spark, table, NUM_PARTS, BATCH_PARTS)
    stop_session(spark)

    errors = []
    traced_runs = [i for i, kind in enumerate(TRACE_ORDER) if kind == "traced"]
    per_call = []
    for i in traced_runs:
        spans = tracer.of_run(i)
        root = next(s for s in spans if s["name"] == "pipeline.run_pipeline")
        sums: Dict[str, float] = {}
        for s in spans:
            sums[s["name"]] = sums.get(s["name"], 0.0) + s["end"] - s["start"]
        writes = [s["end"] - s["start"] for s in spans if s["name"] == "pipeline.write"]
        coverage = sums.get("pipeline.batch", 0.0) / (root["end"] - root["start"])
        if coverage < 0.9:
            errors.append(f"call {i}: batch spans cover {coverage:.3f} of run_pipeline")
        per_call.append({
            "pipeline.write_s": sum(w - n for w, n in zip(writes, noops)),
            "operators.metrics.readback_s": sums.get("operators.metrics.readback", 0.0),
            "sources.table_io.manifest_s": sums.get("sources.table_io.manifest_entry", 0.0),
            "trace.batch_coverage": coverage,
            "pipeline.batches": sum(1 for s in spans if s["name"] == "pipeline.batch"),
        })
    for k in per_call[0]:
        m[k] = statistics.mean(c[k] for c in per_call)
    with open(Path(a["result"]).with_suffix(".spans.jsonl"), "w", encoding="utf-8") as fh:
        for s in tracer.spans:
            fh.write(json.dumps(s) + "\n")

    untraced = statistics.mean(rows / w for w in walls["untraced"])
    traced_rate = statistics.mean(rows / w for w in walls["traced"])
    m["trace.untraced_images_per_s"] = untraced
    m["trace.images_per_s"] = traced_rate
    m["trace.overhead_frac"] = 1.0 - traced_rate / untraced

    log = next(p for p in event_log.iterdir() if not p.name.endswith(".inprogress"))
    for k, v in layers.read_event_log(log, "traced").items():
        m[k] = v / len(traced_runs)
    m["sources.scan_amplification"] = m["spark.input_bytes"] / meta["input_bytes"]

    data_files = list(outs[traced_runs[0]].glob("part_id=*/*.parquet"))
    m["pipeline.output_files"] = len(data_files)
    m["pipeline.output_bytes"] = sum(f.stat().st_size for f in data_files)
    failed = {e.split(":")[0] for e in errors}
    masks = None
    for i, out in enumerate(outs):
        problems, counts = gen.check_output(out, input_dir)
        masks = masks or counts
        if problems:
            errors.append(f"call {i}: " + "; ".join(problems))
            failed.add(f"call {i}")

    inp = pq.read_table(table, columns=["caption", "bytes"])
    m.update(layers.core_layers(inp.column("caption").to_pylist(),
                                inp.column("bytes").to_pylist()))
    for t in MASK_TYPES:
        m[f"core.detect.masks.{t}"] = masks.get(t, 0)
    m["input.rows"] = rows
    m["input.bytes"] = meta["input_bytes"]
    m["input.unique_caption_ratio"] = meta["unique_caption_ratio"]

    self_s = Counter()
    for i in traced_runs:
        self_s.update(layers.self_times(tracer.of_run(i)))
    metrics = {k: (v, unit_of(k)) for k, v in m.items()}
    return {"attempted": len(outs), "failed": len(failed), "errors": errors,
            "metrics": metrics,
            "info": {"self_s_per_call": {k: v / len(traced_runs) for k, v in self_s.items()},
                     "run_pipeline_s": walls, "batch_noop_s": noops}}


MASK_TYPES = (
    "CPF", "RG", "EMAIL", "TELEFONE", "CEP", "NOME_COMPLETO", "CARGO", "LOCAL",
    "ORGANIZACAO", "TOXICO", "AGENCIA_BANCARIA", "CONDICAO_DE_SAUDE",
    "CONTA_BANCARIA", "DATA_NASCIMENTO", "DEPARTAMENTO", "HISTORICO_DISCIPLINAR",
    "INFORMACAO_FINANCEIRA_DETALHADA", "IP_ADDRESS", "MATRICULA",
    "PROBLEMA_PESSOAL_FAMILIAR", "REGISTRO_PONTO", "SALARIO", "USUARIO_REDE",
)

_BYTES = ("spark.input_bytes", "spark.shuffle_bytes", "spark.python_bytes_sent",
          "spark.python_bytes_received", "pipeline.output_bytes", "input.bytes")


def unit_of(name: str) -> str:
    if name in _BYTES:
        return "bytes"
    if name.endswith("images_per_s"):
        return "1/s"
    if name.endswith("us_per_row"):
        return "us"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_ratio", "_frac", "coverage", "amplification")):
        return "ratio"
    return "count"


def main() -> int:
    a = json.loads(sys.argv[1])
    result = traced(a) if a["trace"] else end_to_end(a)
    Path(a["result"]).write_text(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
