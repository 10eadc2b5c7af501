"""holochatstats_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference (mipacd/HoloChatStats, surveyed in SURVEY.md), re-expressed
Spark-first: declarative DataFrame/Spark-SQL plans optimized by Catalyst,
with Pandas UDFs only where built-in operators cannot express the semantics.
"""

__version__ = "0.1.0"

from holochatstats_spark.session import get_spark  # noqa: F401
from holochatstats_spark.tables import TABLES, load_table  # noqa: F401
