"""Analyzers as Arrow-vectorized pandas UDFs.

This is the extension point the reference exposes as Analyzer/TokenStream
(src/Lucene.Net/Analysis/Analyzer.cs) re-expressed as a column function:
the lang-keyed analyzer dispatch runs as a vectorized pandas_udf that
yields array<struct<term, pos>> per row.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .tokenizers import tokenize

_TOKPOS_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("term", T.StringType(), False),
            T.StructField("pos", T.IntegerType(), False),
        ]
    )
)


@F.pandas_udf(_TOKPOS_SCHEMA)
def analyze_per_lang(text: pd.Series, lang: pd.Series) -> pd.Series:
    """PerFieldAnalyzerWrapper analogue: dispatch on the lang column."""
    return pd.Series([tokenize(t, lg) for t, lg in zip(text, lang)])
