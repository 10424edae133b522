"""lvm_datapipe_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of litwellchi/lvm_datapipe (MMTrail-20M pipeline).

The reference is a script-per-stage batch ETL over video-clip metadata
(scene cut → scoring → captioning → analytics). This engine re-expresses the
same semantics Spark-first:

- one canonical ``clips`` DataFrame (nested basic/scene/camera/misc schema)
  persisted as Parquet,
- every pipeline stage = ``read → filter/join → (pandas UDF) → withColumn →
  write snapshot``,
- relational operators declared through the DataFrame/SQL API so Catalyst
  does pushdown/pruning/join-selection,
- model kernels behind Arrow-batched pandas UDFs with executor-cached state,
- plus the large-scale training-data extensions the reference lacks:
  deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding
  cosine), similarity search, text analysis, and Structured Streaming.

See SURVEY.md for the operator-by-operator mapping to the reference.
"""

from lvm_datapipe_spark.session import get_spark
from lvm_datapipe_spark.catalog import load_tables, register_views

__all__ = ["get_spark", "load_tables", "register_views"]
__version__ = "0.1.0"
