"""Column-level building blocks (pure ``pyspark.sql.functions`` compositions)
and the batch indicator enrichment.

Everything here returns Columns or applies narrow ``withColumn`` chains —
no shuffles beyond the symbol grouping the caller asked for.
"""

from big_data_engineering_financial_analysis_spark.functions.indicators import (  # noqa: F401
    with_indicators,
    enrich,
)
