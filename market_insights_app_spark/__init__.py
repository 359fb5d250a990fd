"""market_insights_app_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first implementation of the query and
data-processing capabilities of the reference application
``mrayirebi/market-insights-app`` (FastAPI + SQLite + browser-side JS
analytics), re-expressed as DataFrame / SQL / Structured Streaming
plans, plus the large-scale training-data-pipeline operators
(dedup, similarity search, text analysis, multimodal plumbing)
the reference lacks.

Layout
------
- ``session``    : SparkSession builder tuned for the workload
- ``schemas``    : explicit StructType registry (reference db.py DDL analog)
- ``sources``    : parquet table loaders + HTTP-quote connector parsing
- ``functions``  : scalar/text column-expression library (F1-F19, text ops)
- ``operators``  : relational operators (filters, windows, joins, aggs,
                   dedup, similarity, pagination, multimodal)
- ``streaming``  : Structured Streaming surface (ST1-ST5)
- ``plans``      : the query registry consumed by ``__spark_entry__.py``
"""

__version__ = "0.1.0"

# Pin BLAS/OpenMP thread pools to 1 BEFORE any in-package module can
# `import numpy`: OpenBLAS binds its pool size when the shared library
# loads, so the equivalent pin in session.get_spark() (kept, for
# workers spawned later and real-cluster executorEnv) is too late for
# the DRIVER process — bench.py imports the plan registry (→ operators
# → numpy) before it ever builds a session, leaving driver-side numpy
# matmuls running ncpu OpenBLAS threads against the 32 local executor
# threads.  Measured r13 on the dense-mask CC (3 927×3 927 adjacency):
# 1.4–12.8 s unpinned in-driver vs ~0.05 s single-threaded — the same
# 46× oversubscription collapse session.py documents for workers.
# setdefault: an explicit user/operator setting always wins.
import os as _os

BLAS_THREAD_VARS = (
    "OPENBLAS_NUM_THREADS",
    "OMP_NUM_THREADS",
    "MKL_NUM_THREADS",
    "NUMEXPR_NUM_THREADS",
)
for _var in BLAS_THREAD_VARS:
    _os.environ.setdefault(_var, "1")
del _os, _var
