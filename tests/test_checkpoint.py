"""Resume-after-kill: identical output + idempotent metrics (FIXTURES.md B3)."""

import os
from urllib.parse import urlparse

import pytest

from pii_filter_spark.pipeline import run_pipeline
from pii_filter_spark.sources import table_io
from pii_filter_spark.sources.synth import write_input_table

N = 200
SEED = 13


def _table_fingerprint(spark, path):
    df = table_io.read_table(spark, path)
    rows = df.select(
        "image_id", "scrubbed_caption", "keep", "scrub_count", "part_id"
    ).collect()
    return sorted((r[0], r[1], r[2], r[3], r[4]) for r in rows)


def test_kill_and_resume_identical(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("ckpt")
    inp = str(root / "input")
    write_input_table(spark, inp, N, seed=SEED, num_partitions=4)

    # uninterrupted baseline
    ref_out = str(root / "ref")
    run_pipeline(spark, inp, ref_out, num_parts=12, batch_parts=3)
    ref_fp = _table_fingerprint(spark, ref_out)
    ref_manifest = {e["part_id"]: e for e in table_io.read_manifest(ref_out)}

    # killed run: dies after 2 of 4 batches
    out = str(root / "resumed")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline(spark, inp, out, num_parts=12, batch_parts=3, fail_after_batch=2)
    done_before = set(table_io.completed_part_ids(out))
    assert 0 < len(done_before) < 12

    # resume: must only process the missing partitions
    processed = run_pipeline(spark, inp, out, num_parts=12, batch_parts=3)
    assert set(processed) == set(range(12)) - done_before

    assert _table_fingerprint(spark, out) == ref_fp
    manifest = {e["part_id"]: e for e in table_io.read_manifest(out)}
    assert set(manifest) == set(range(12))
    for p, e in manifest.items():
        for key in ("rows_in", "rows_kept", "rows_dropped", "scrub_count",
                    "drop_reason_counts"):
            assert e[key] == ref_manifest[p][key], (p, key)


def test_rerun_on_complete_output_is_noop(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("noop")
    inp = str(root / "input")
    write_input_table(spark, inp, 60, seed=SEED, num_partitions=2)
    out = str(root / "out")
    run_pipeline(spark, inp, out, num_parts=4, batch_parts=2)
    fp1 = _table_fingerprint(spark, out)
    assert run_pipeline(spark, inp, out, num_parts=4, batch_parts=2) == []
    assert _table_fingerprint(spark, out) == fp1


def test_readback_reads_only_batch_parts(spark, tmp_path_factory, monkeypatch):
    """More parts than rows: empty parts commit zero entries, each batch's
    read-back touches only its own part_id=K directories, and the manifest
    equals one computed from a whole-table read-back."""
    from pyspark.sql import functions as F

    root = tmp_path_factory.mktemp("scope")
    inp = str(root / "input")
    write_input_table(spark, inp, 20, seed=SEED, num_partitions=2)
    parts, batch_parts = 40, 8

    reads = []
    batch_reader = table_io.read_partitions

    def recording_reader(spark_, path, part_col, part_ids, schema):
        df = batch_reader(spark_, path, part_col, part_ids, schema)
        reads.append((path, list(part_ids), df.inputFiles()))
        return df

    out = str(root / "out")
    monkeypatch.setattr(table_io, "read_partitions", recording_reader)
    run_pipeline(spark, inp, out, num_parts=parts, batch_parts=batch_parts)

    def whole_table_reader(spark_, path, part_col, part_ids, schema):
        return table_io.read_table(spark_, path).where(F.col(part_col).isin(part_ids))

    ref = str(root / "ref")
    monkeypatch.setattr(table_io, "read_partitions", whole_table_reader)
    run_pipeline(spark, inp, ref, num_parts=parts, batch_parts=batch_parts)

    assert len(reads) == parts // batch_parts
    for path, part_ids, files in reads:
        assert path == out
        dirs = {p: os.path.join(out, f"part_id={p}") + os.sep for p in part_ids}
        local = [urlparse(f).path for f in files]
        assert all(any(f.startswith(d) for d in dirs.values()) for f in local)
        assert {p for p, d in dirs.items() if os.path.isdir(d)} == {
            p for p, d in dirs.items() if any(f.startswith(d) for f in local)
        }

    def payloads(path):
        return {e["part_id"]: {k: v for k, v in e.items() if k != "wall_ms"}
                for e in table_io.read_manifest(path)}

    manifest = payloads(out)
    assert set(manifest) == set(range(parts))
    empty = [p for p in range(parts)
             if not os.path.isdir(os.path.join(out, f"part_id={p}"))]
    assert len(empty) >= parts - 20
    zero = {"rows_in": 0, "rows_kept": 0, "rows_dropped": 0, "scrub_count": 0,
            "drop_reason_counts": {}}
    for p in empty:
        assert {k: manifest[p][k] for k in zero} == zero, p
    assert sum(e["rows_in"] for e in manifest.values()) == 20
    assert manifest == payloads(ref)
