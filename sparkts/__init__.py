"""sparkts — a PySpark-native time-series rollup + downsample + retention +
forecasting engine with the query/data-processing capabilities of
Nixtla/statsforecast, re-expressed Spark-first.

Everything is DataFrame/SQL/Catalyst plus vectorized pandas/Arrow UDFs:
no per-row Python UDFs anywhere, no RDDs.

Layout
------
- ``sparkts.session``        SparkSession builder tuned for the engine
- ``sparkts.datagen``        deterministic synthetic web_pages / panel corpora
- ``sparkts.operators``      rollup tiers, gap-fill, retention, compression,
                             dedup, similarity, text stats
- ``sparkts.kernels``        per-series numpy forecast kernels (the model zoo)
- ``sparkts.engine``         SparkForecast: forecast / cross_validation surface
- ``sparkts.plans``          output-schema derivation (models × levels → StructType)
- ``sparkts.lineage``        checkpoint + per-partition lineage / resume
"""

__version__ = "0.1.0"

from sparkts import _zipimport  # noqa: F401  (first: see its docstring)
from sparkts.compat import StatsForecast  # noqa: F401
from sparkts.engine import SparkForecast  # noqa: F401
