"""Caption stage: quality filter + PII/toxicity scrub as pandas UDFs.

The single Spark implementation of the caption rules. Two batch functions
over the frozen core build every column: `_quality` runs language-ID,
perplexity and the heuristic rules (core/quality.drop_reasons) per caption,
`_scrub` runs detection, precedence resolution and one substitution
(core/detect.scrub_batch). Each pandas UDF below is one Arrow round-trip
that ships only the caption column (Catalyst prunes the MB-scale `bytes`
column away from its projection):

  quality_udf  lang, ppl, drop_reasons, keep
  scrub_udf    scrubbed_caption, pii_masked
  fused_udf    all six in one pass — the production hot path

`fused_quality_scrub` is the pipeline's stage: chaining
scrub_stage(quality_stage(df)) gives the same columns and values
(tests/test_spark_stages.py::test_fused_stage_equals_chained_stages) but
pays two Python stages, two worker processes per task and two Arrow
(de)serializations of the caption column.

Pattern, dictionary and model state compiles once per Python worker at
module import, the moral equivalent of a broadcast variable.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..core.detect import scrub_batch
from ..core.langid import detect_language
from ..core.perplexity import perplexity
from ..core.quality import drop_reasons

MAPPING_TYPE = StructType(
    [
        StructField("placeholder", StringType()),
        StructField("original_value", StringType()),
        StructField("type", StringType()),
        StructField("span_start", IntegerType()),
        StructField("span_end", IntegerType()),
    ]
)

_QUALITY_TYPE = StructType(
    [
        StructField("lang", StringType()),
        StructField("ppl", DoubleType()),
        StructField("drop_reasons", ArrayType(StringType())),
        StructField("keep", BooleanType()),
    ]
)
_SCRUB_TYPE = StructType(
    [
        StructField("scrubbed_caption", StringType()),
        StructField("pii_masked", ArrayType(MAPPING_TYPE)),
    ]
)
_FUSED_TYPE = StructType(_QUALITY_TYPE.fields + _SCRUB_TYPE.fields)


def _quality(captions: pd.Series) -> dict:
    langs, ppls, reasons = [], [], []
    for t in captions:
        if isinstance(t, str):
            lg, pp = detect_language(t), perplexity(t)
        else:
            lg, pp = "und", 0.0
        langs.append(lg)
        ppls.append(pp)
        reasons.append(drop_reasons(t if isinstance(t, str) else None, lg, pp))
    return {
        "lang": langs,
        "ppl": ppls,
        "drop_reasons": reasons,
        "keep": [len(r) == 0 for r in reasons],
    }


def _scrub(captions: pd.Series) -> dict:
    scrubbed = scrub_batch(captions)
    return {
        "scrubbed_caption": [r[0] for r in scrubbed],
        "pii_masked": [r[1] for r in scrubbed],
    }


@pandas_udf(_QUALITY_TYPE)
def quality_udf(captions: pd.Series) -> pd.DataFrame:
    return pd.DataFrame(_quality(captions))


@pandas_udf(_SCRUB_TYPE)
def scrub_udf(captions: pd.Series) -> pd.DataFrame:
    return pd.DataFrame(_scrub(captions))


@pandas_udf(_FUSED_TYPE)
def fused_udf(captions: pd.Series) -> pd.DataFrame:
    return pd.DataFrame({**_quality(captions), **_scrub(captions)})


def _expand(df: DataFrame, udf, caption_col: str) -> DataFrame:
    """Adds one column per field of `udf`'s struct result, plus
    scrub_count when the struct carries pii_masked."""
    out = df.withColumn("_fx", udf(F.col(caption_col)))
    cols = {n: F.col(f"_fx.{n}") for n in udf.returnType.fieldNames()}
    if "pii_masked" in cols:
        cols["scrub_count"] = F.size(cols["pii_masked"])
    return out.withColumns(cols).drop("_fx")


def quality_stage(df: DataFrame, caption_col: str = "caption") -> DataFrame:
    """Adds lang, ppl, drop_reasons (ordered array<string>) and keep."""
    return _expand(df, quality_udf, caption_col)


def scrub_stage(df: DataFrame, caption_col: str = "caption") -> DataFrame:
    """Adds scrubbed_caption, pii_masked, scrub_count columns."""
    return _expand(df, scrub_udf, caption_col)


def fused_quality_scrub(df: DataFrame, caption_col: str = "caption") -> DataFrame:
    """Equivalent of scrub_stage(quality_stage(df)) in one Python stage."""
    return _expand(df, fused_udf, caption_col)
