"""Deterministic benchmark inputs and the reference outputs they must produce.

Every input is a pure function of (workload, seed, row count) and is cached
under the benchmark's scratch directory, so generation never runs inside a
timed region. The reference is built in-process from the frozen core
functions the fused UDF is specified against (`detect_language`,
`perplexity`, `drop_reasons`, `scrub_batch`, plus `strip_ancillary` /
`strip_jpeg_metadata` when the workload scrubs image bytes), never from the
Spark operators under test.

Workloads:
  * caption_mix    -- `synth.gen_row` rows as generated: tiny images, ~36%
    exact-duplicate captions, PII in about two thirds of the rows.
  * caption_unique -- the same generator with repeated captions dropped
    (unique ratio 1.0), so per-batch memoization has nothing to reuse.
  * image_heavy    -- PNG-only rows of >=100 KB, each carrying a PII-bearing
    tEXt chunk, run with scrub_image_bytes=True.
"""

from __future__ import annotations

import functools
import hashlib
import json
import multiprocessing
import os
import shutil
import sys
import zlib
from collections import Counter
from concurrent.futures import Executor, ProcessPoolExecutor
from pathlib import Path
from typing import Dict, List, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows: input size; scrub: run_pipeline(scrub_image_bytes=...).
WORKLOADS: Dict[str, Dict] = {
    "caption_mix": {"rows": 6000, "scrub": False},
    "caption_unique": {"rows": 6000, "scrub": False},
    "image_heavy": {"rows": 600, "scrub": True},
}

# One file per local core: the session packs files into about one split per
# core, so equal files give exactly one split each. With 32 files the
# packing gave 4 splits on some seeds and 4 + a small 5th on others, a
# second task wave that made those seeds ~15% slower.
INPUT_FILES = os.cpu_count() or 4
WARM_ROWS = 256
CACHED_INPUTS = 16
JPEG_POOL = 64
POOL_CHUNKS = 16  # generation and reference run in this many pieces
HEAVY_SIDE = (184, 225)  # PNG side range: ~105-155 KB per image

SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("bytes", pa.binary()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("fmt", pa.string()),
        ("caption", pa.string()),
        ("phash", pa.int64()),
    ]
)

# columns of the written table that the output check reads
CHECK_COLUMNS = [
    "image_id", "bytes", "w", "h", "fmt", "caption", "phash", "lang", "ppl",
    "drop_reasons", "keep", "scrubbed_caption", "pii_masked", "scrub_count",
]
_MAPPING_KEYS = ("placeholder", "original_value", "type", "span_start", "span_end")


def source_digest(repo: Path) -> str:
    """Digest of the sources that determine inputs and reference: a cached
    input is reused only by the code that produced it."""
    h = hashlib.sha256()
    files = sorted((repo / "pii_filter_spark").rglob("*.py"))
    for p in files + [Path(__file__).resolve()]:
        h.update(p.name.encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def row_digest(row: Dict) -> bytes:
    """Digest of one output row in the shape the output check compares."""
    masked = tuple(
        tuple(m[k] for k in _MAPPING_KEYS) for m in (row["pii_masked"] or [])
    )
    key = (
        row["image_id"], hashlib.blake2b(row["bytes"], digest_size=16).digest(),
        row["w"], row["h"], row["fmt"], row["caption"], row["phash"],
        row["lang"], repr(row["ppl"]), tuple(row["drop_reasons"] or ()),
        row["keep"], row["scrubbed_caption"], masked, row["scrub_count"],
    )
    return hashlib.blake2b(repr(key).encode(), digest_size=16).digest()


# --- row generators ---------------------------------------------------------

@functools.lru_cache(maxsize=2)
def _jpeg_pool(seed: int) -> Tuple[bytes, ...]:
    from pii_filter_spark.images import encode_image
    from pii_filter_spark.sources import synth

    rng = np.random.default_rng((seed, 0x7E6))
    pool = []
    for _ in range(JPEG_POOL):
        w, h = (int(v) for v in rng.integers(24, 65, size=2))
        pool.append(encode_image(synth.make_image(rng, w, h), "jpeg",
                                 quality=synth.LOSSY_QUALITY))
    return tuple(pool)


def _synth_rows(seed: int, start: int, stop: int) -> List[Dict]:
    """synth.gen_row rows, with JPEG bytes drawn from a per-seed pool of real
    encodes. The pure-Python JPEG encoder costs ~8 ms per image, and the
    caption workloads never decode the bytes: every other field, the
    caption included, is exactly what gen_row produces."""
    from pii_filter_spark.images import encode_image
    from pii_filter_spark.sources import synth

    pool = _jpeg_pool(seed)

    def encode(pixels, fmt, quality=90):
        if fmt == "jpeg":
            return pool[zlib.crc32(pixels.tobytes()) % JPEG_POOL]
        return encode_image(pixels, fmt, quality)

    orig = synth.encode_image
    synth.encode_image = encode
    try:
        return [synth.gen_row(seed, i) for i in range(start, stop)]
    finally:
        synth.encode_image = orig


def _heavy_rows(seed: int, start: int, stop: int) -> List[Dict]:
    from pii_filter_spark.images import encode_image
    from pii_filter_spark.images.metadata import add_text_chunk
    from pii_filter_spark.sources import synth

    rows = []
    for idx in range(start, stop):
        rng = np.random.default_rng((seed, 0x1A6E, idx))
        w, h = (int(v) for v in rng.integers(*HEAVY_SIDE, size=2))
        png = encode_image(synth.make_image(rng, w, h), "png")
        note = (f"Fotografado por {synth._mk_name(rng)}, CPF "
                f"{synth._mk_cpf(rng, True)}, contato {synth._mk_email(rng)}")
        rows.append({
            "image_id": f"img_{idx:08d}",
            "bytes": add_text_chunk(png, "Comment", note),
            "w": w,
            "h": h,
            "fmt": "png",
            "caption": synth.make_caption(rng),
            "phash": int(rng.integers(-(2 ** 62), 2 ** 62, dtype=np.int64)),
        })
    return rows


def _gen_rows(workload: str, seed: int, start: int, stop: int) -> List[Dict]:
    if workload == "image_heavy":
        return _heavy_rows(seed, start, stop)
    return _synth_rows(seed, start, stop)


def _ranges(start: int, stop: int, parts: int) -> List[Tuple[int, int]]:
    step = -(-(stop - start) // parts)
    return [(a, min(a + step, stop)) for a in range(start, stop, step)]


def _rows(workload: str, seed: int, n: int, pool: Executor) -> List[Dict]:
    """n rows of the workload; caption_unique keeps the first row of each
    caption in generator order until n rows are kept."""
    rows: List[Dict] = []
    seen = set()
    start = 0
    while len(rows) < n:
        stop = start + (n if workload != "caption_unique" else 2 * (n - len(rows)))
        futures = [pool.submit(_gen_rows, workload, seed, a, b)
                   for a, b in _ranges(start, stop, POOL_CHUNKS)]
        for f in futures:
            for r in f.result():
                if workload == "caption_unique":
                    if r["caption"] in seen or len(rows) == n:
                        continue
                    seen.add(r["caption"])
                rows.append(r)
        start = stop
    return rows


# --- reference --------------------------------------------------------------

def reference(rows: List[Dict], scrub_bytes: bool) -> Tuple[Dict[str, str], Dict]:
    """Per-row digests and manifest totals the pipeline must reproduce."""
    from pii_filter_spark.core.detect import scrub_batch
    from pii_filter_spark.core.langid import detect_language
    from pii_filter_spark.core.perplexity import perplexity
    from pii_filter_spark.core.quality import drop_reasons
    from pii_filter_spark.images.jpeg_metadata import strip_jpeg_metadata
    from pii_filter_spark.images.metadata import is_png, strip_ancillary

    digests: Dict[str, str] = {}
    totals = {"rows_in": 0, "rows_kept": 0, "rows_dropped": 0, "scrub_count": 0}
    for row in rows:
        t = row["caption"]
        if isinstance(t, str):
            lang, ppl = detect_language(t), perplexity(t)
        else:
            lang, ppl = "und", 0.0
        reasons = drop_reasons(t if isinstance(t, str) else None, lang, ppl)
        scrubbed, masked = scrub_batch([t])[0]
        data = row["bytes"]
        if scrub_bytes:
            data = strip_ancillary(data) if is_png(data) else strip_jpeg_metadata(data)
        out = dict(row, bytes=data, lang=lang, ppl=ppl, drop_reasons=reasons,
                   keep=not reasons, scrubbed_caption=scrubbed,
                   pii_masked=masked, scrub_count=len(masked))
        digests[row["image_id"]] = row_digest(out).hex()
        totals["rows_in"] += 1
        totals["rows_kept"] += int(not reasons)
        totals["rows_dropped"] += int(bool(reasons))
        totals["scrub_count"] += len(masked)
    return digests, totals


def _reference(rows: List[Dict], scrub_bytes: bool, pool: Executor):
    digests: Dict[str, str] = {}
    totals: Counter = Counter()
    futures = [pool.submit(reference, rows[a:b], scrub_bytes)
               for a, b in _ranges(0, len(rows), POOL_CHUNKS)]
    for f in futures:
        d_part, t_part = f.result()
        digests.update(d_part)
        totals.update(t_part)
    return digests, totals


# --- cache ------------------------------------------------------------------

def _write_parquet(rows: List[Dict], out: Path, files: int) -> int:
    out.mkdir(parents=True)
    step = -(-len(rows) // files)
    for i in range(files):
        chunk = rows[i * step : (i + 1) * step]
        table = pa.Table.from_pylist(chunk, schema=SCHEMA)
        pq.write_table(table, out / f"part-{i:05d}.parquet")
    return sum(p.stat().st_size for p in out.iterdir())


def ensure_input(scratch: Path, repo: Path, workload: str, seed: int) -> Path:
    """Build (once) and return the cache dir for (workload, seed):
    table/ (the input), warm/ (the warm-up table), meta.json, reference.json."""
    spec = WORKLOADS[workload]
    key = f"{workload}-s{seed}-n{spec['rows']}-f{INPUT_FILES}-{source_digest(repo)}"
    d = scratch / "inputs" / key
    if (d / "meta.json").is_file():
        os.utime(d)  # recently used: evicted last
        return d
    tmp = scratch / "inputs" / (key + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)

    # warm-up rows come from another seed, so the warm-up sees the same
    # kind of rows without touching the measured ones
    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(os.cpu_count(), mp_context=ctx) as pool:
        warm = _rows(workload, seed + 1_000_003, WARM_ROWS, pool)
        rows = _rows(workload, seed, spec["rows"], pool)
        digests, totals = _reference(rows, spec["scrub"], pool)
    _write_parquet(warm, tmp / "warm", INPUT_FILES)
    input_bytes = _write_parquet(rows, tmp / "table", INPUT_FILES)
    captions = [r["caption"] for r in rows]
    meta = {
        "workload": workload,
        "seed": seed,
        "rows": len(rows),
        "input_bytes": input_bytes,
        "unique_caption_ratio": len(set(captions)) / len(captions),
        "scrub_image_bytes": spec["scrub"],
        "totals": dict(totals),
    }
    (tmp / "reference.json").write_text(json.dumps(digests))
    (tmp / "meta.json").write_text(json.dumps(meta, indent=1))
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    _evict(d.parent)
    return d


def _evict(inputs: Path) -> None:
    """Keep the CACHED_INPUTS most recently used inputs (~0.1 GB each)."""
    cached = [p for p in inputs.iterdir() if (p / "meta.json").is_file()]
    cached.sort(key=lambda p: p.stat().st_mtime, reverse=True)
    for old in cached[CACHED_INPUTS:]:
        shutil.rmtree(old)


# --- output check -----------------------------------------------------------

def check_output(out: Path, input_dir: Path) -> Tuple[List[str], Counter]:
    """Compare a written table and its manifest with the reference.

    Returns (problems, mask counts by PII type); no problems means pass.
    """
    from pii_filter_spark.sources.table_io import read_manifest

    want: Dict[str, str] = json.loads((input_dir / "reference.json").read_text())
    totals = json.loads((input_dir / "meta.json").read_text())["totals"]
    problems: List[str] = []
    seen = set()
    masks: Counter = Counter()
    wrong: List[str] = []
    for f in sorted(out.glob("part_id=*/*.parquet")):
        for row in pq.read_table(f, columns=CHECK_COLUMNS).to_pylist():
            iid = row["image_id"]
            if iid in seen:
                problems.append(f"duplicate row {iid}")
            seen.add(iid)
            if want.get(iid) != row_digest(row).hex():
                wrong.append(iid)
            masks.update(m["type"] for m in row["pii_masked"] or [])
    if wrong:
        problems.append(f"{len(wrong)} rows differ from the reference, e.g. {wrong[:3]}")
    missing = len(want.keys() - seen)
    if missing:
        problems.append(f"{missing} rows missing")
    manifest = read_manifest(str(out))
    got = {k: sum(e[k] for e in manifest) for k in totals}
    if got != totals:
        problems.append(f"manifest totals {got} != reference {totals}")
    return problems, masks


def main(argv: List[str]) -> int:
    """gen.py SCRATCH WORKLOAD SEED: build the input if it is not cached and
    print its directory as the last line."""
    scratch, workload, seed = Path(argv[0]), argv[1], int(argv[2])
    repo = Path(__file__).resolve().parent.parent
    print(ensure_input(scratch, repo, workload, seed))
    return 0


if __name__ == "__main__":
    # through the importable module, so the pool's workers unpickle gen.*
    import gen

    sys.exit(gen.main(sys.argv[1:]))
