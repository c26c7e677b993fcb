"""nyu_search_engine_spark — a PySpark-native full-text index + BM25 engine.

Brand-new engine with the query/data-processing capabilities of
babysuse/NYU_search-engine (crawler / C++ inverted-index builder / C++ BM25
query processor — /root/reference/README.md:5-7), re-expressed Spark-first:
DataFrame/SQL plans, Arrow-vectorized kernels, a document-sharded Parquet
index layout designed for 10^12-file scale.
"""

from . import zipimport_guard  # noqa: F401  (Spark Python task floor; see module)
from .constants import BM25_B, BM25_K1, DEFAULT_TOP_K  # noqa: F401
from .plans.search import Query, bruteforce_topk  # noqa: F401
