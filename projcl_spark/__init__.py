"""projcl_spark — a from-scratch PySpark-native spatial-join + tiling engine
with the computational capabilities of evanmiller/ProjCL (reference v0.8.6),
re-expressed Spark-first: closed-form math as JVM-codegen column expressions,
iterative numerics as Arrow-batched pandas UDFs, everything relational as
DataFrame/Catalyst plans.

Ships via ``spark-submit --py-files dist/projcl_spark.zip`` (see Makefile).
"""

__version__ = "0.1.0"

from .core.params import ProjectionParams  # noqa: F401
from .core.spheroid import Spheroid  # noqa: F401
from .session import get_spark, install_zip_cache  # noqa: F401

install_zip_cache()
