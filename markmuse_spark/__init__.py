"""markmuse_spark — PySpark-native main-content extraction engine.

A from-scratch rebuild of the capabilities of the MarkMuse reference
(PDF/HTML -> Markdown pipeline + relational control plane), Spark-first:
DataFrame/SQL plans optimized by Catalyst, vectorized Arrow-batch kernels
for the one operator Spark lacks (layout extraction), explicit skew/resume
/lineage handling for 10^12-document scale.  See README.md and COVERAGE.md.
"""

__version__ = "0.1.0"

from markmuse_spark.worker_zipimport import install_in_worker as _install_in_worker

# a no-op outside a Spark task; see worker_zipimport
_install_in_worker()
