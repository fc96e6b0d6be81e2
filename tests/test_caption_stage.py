"""Caption-stage plan contract and the package surface perfbench/ imports.

Each caption-stage call site evaluates exactly one pandas UDF in one
ArrowEvalPython node: the pipeline and the flagship entry() run fused_udf
(the pipeline with no shuffle and only the caption column shipped to
Python); quality_stage and scrub_stage each run their own UDF.
"""

import re

import pandas as pd

from pii_filter_spark.operators.fused import quality_stage, scrub_stage
from pii_filter_spark.sources.synth import gen_pandas


_EVAL_NODE = re.compile(r"ArrowEvalPython \[(.*?)\], \[")


def _python_udfs(df):
    """(per ArrowEvalPython node, its [(udf name, argument list)]; plan)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    nodes = [
        re.findall(r"(\w+)\(([^)]*)\)#\d+", udfs) for udfs in _EVAL_NODE.findall(plan)
    ]
    return nodes, plan


def test_pipeline_transform_one_python_stage_caption_only(spark):
    from pii_filter_spark import pipeline
    from pii_filter_spark.sources.synth import build_input_table

    nodes, plan = _python_udfs(
        pipeline.transform(build_input_table(spark, 64, num_partitions=4))
    )
    assert len(nodes) == 1 and len(nodes[0]) == 1, plan
    name, args = nodes[0][0]
    assert name == "fused_udf" and re.fullmatch(r"caption#\d+", args), plan
    assert "Exchange" not in plan, plan


def test_entry_one_python_stage(spark):
    import __spark_entry__ as em

    nodes, plan = _python_udfs(em.entry(spark))
    assert [[n for n, _ in udfs] for udfs in nodes] == [["fused_udf"]], plan


def test_quality_and_scrub_stages_one_python_stage_each(spark):
    pdf = gen_pandas(20, seed=3)[["image_id", "caption"]]
    df = spark.createDataFrame(pdf)
    for stage, udf in ((quality_stage, "quality_udf"), (scrub_stage, "scrub_udf")):
        nodes, plan = _python_udfs(stage(df))
        assert [[n for n, _ in udfs] for udfs in nodes] == [[udf]], plan


def test_perfbench_import_surface():
    from pii_filter_spark.operators.fused import fused_udf
    from pii_filter_spark.pipeline import (  # noqa: F401
        PART_COL,
        run_pipeline,
        scrub_bytes_stage,
        transform,
        with_part_id,
    )
    from pii_filter_spark.sources.table_io import (  # noqa: F401
        read_manifest,
        read_table,
        write_manifest_entry,
    )

    caps = pd.Series(
        ["Foto de João Silva, CPF 529.982.247-25, no escritório central.", None, "foto"]
    )
    out = fused_udf.func(caps)
    assert list(out.columns) == [
        "lang", "ppl", "drop_reasons", "keep", "scrubbed_caption", "pii_masked",
    ]
    assert len(out) == 3
    assert out["drop_reasons"][1] == ["empty"] and out["scrubbed_caption"][1] == ""
    assert "[CPF_1]" in out["scrubbed_caption"][0]
