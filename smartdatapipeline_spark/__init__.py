"""smartdatapipeline_spark — a PySpark-native analytics engine.

Re-expresses the query and data-processing capabilities of the reference
ETL + analytics pipeline (fencingbuddha/SmartDataPipeline) Spark-first:

- bronze/silver/gold staging as parquet DataFrames (reference: SQLAlchemy
  tables, see ``schemas.py``)
- daily KPI aggregation as a Catalyst ``groupBy`` (reference:
  ``backend/app/services/kpi.py``)
- rolling-window anomaly detection as Spark window functions (reference:
  ``backend/app/services/anomaly.py``, ``backend/app/routers/metrics.py``)
- forecasting with the reference's naive fallback semantics: SARIMAX in
  per-group ``applyInPandas`` when statsmodels is installed, else a
  from-scratch ARIMA(1,1,1) fit run as one Spark plan (reference:
  ``backend/app/services/forecast.py``)
- plus large-scale training-data-pipeline extensions: dedup (exact/
  MinHash-LSH/SimHash/Jaccard/embedding), ANN similarity search, text
  analysis, and multimodal column plumbing.

Everything is the DataFrame/SQL API; Python UDFs appear only where model
fitting genuinely requires them (Arrow-batched, grouped-map).
"""

__version__ = "0.1.0"

from smartdatapipeline_spark.session import get_spark  # noqa: F401
