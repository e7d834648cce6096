"""Assemble the engine's declared-query registry.

Importing this module imports every operator family for its registration
side effects; registry order is import order and carries no meaning.
"""

from pyspark_ml_features_spark import pipeline  # noqa: F401
from pyspark_ml_features_spark.operators import advanced_sql  # noqa: F401
from pyspark_ml_features_spark.operators import basic  # noqa: F401
from pyspark_ml_features_spark.operators import dedup  # noqa: F401
from pyspark_ml_features_spark.operators import features  # noqa: F401
from pyspark_ml_features_spark.operators import graph  # noqa: F401
from pyspark_ml_features_spark.operators import ml  # noqa: F401
from pyspark_ml_features_spark.operators import multimodal  # noqa: F401
from pyspark_ml_features_spark.operators import packing  # noqa: F401
from pyspark_ml_features_spark.operators import python_udfs  # noqa: F401
from pyspark_ml_features_spark.operators import quality  # noqa: F401
from pyspark_ml_features_spark.operators import relational  # noqa: F401
from pyspark_ml_features_spark.operators import scaling  # noqa: F401
from pyspark_ml_features_spark.operators import sessionize  # noqa: F401
from pyspark_ml_features_spark.operators import similarity  # noqa: F401
from pyspark_ml_features_spark.operators import sketches  # noqa: F401
from pyspark_ml_features_spark.operators import textops  # noqa: F401
from pyspark_ml_features_spark.streaming import events  # noqa: F401
from pyspark_ml_features_spark.streaming import stateful  # noqa: F401
