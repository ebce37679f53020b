"""datafusion_functions_financial_spark — a PySpark-native analytics
engine with the query and data-processing capabilities of the
``datafusion-functions-financial`` reference crate, designed for
100 TB-scale execution.

Public surface:

- ``register(spark)`` — attach the SQL indicator surface (parity with
  the reference's ``register_financial_functions``).
- ``functions.indicators`` — ``with_indicators`` / ``sma_native`` and
  the ``sma/ema/rsi/macd`` spec constructors.
- ``functions.sql.sql_with_indicators`` — run the reference's SQL
  strings (indicator window calls) on Spark.
- ``sources.polygon`` — Polygon flat-file client (CSV.gz, local/S3).
- ``plans.signals`` / ``plans.validate`` — batch signal detectors and
  data-quality validators.
- ``streaming`` — per-tick Python engine + Structured Streaming path.
- ``operators`` — dedup (exact/MinHash-LSH/SimHash/Jaccard), similarity
  search (brute-force + LSH ANN), text analysis, multimodal plumbing.
"""

from . import _pyworker
from .functions import indicators
from .functions.sql import register, sql_with_indicators

__version__ = "0.1.0"

# Python workers only: keeps each reused worker's task from re-reading
# pyspark.zip (see _pyworker).
_pyworker.install()

__all__ = ["indicators", "register", "sql_with_indicators", "__version__"]
