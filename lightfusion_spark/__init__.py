"""lightfusion_spark — a PySpark-native engine with the capabilities of
milenkovicm/lightfusion (reference read-only at /root/reference).

Layer A (reference-authored, rebuilt Spark-first): ``CREATE FUNCTION ...
LANGUAGE LIGHTGBM`` DDL, Arrow-vectorized LightGBM inference, ``argmax``,
the validated ``lightfusion.*`` config namespace, settings introspection.

Layer B (reference-inherited): the full relational SQL surface — provided by
Spark's own Catalyst/SQL engine and verified query-by-query against a DuckDB
oracle (see ``__spark_entry__.py``).

Extensions: large-scale training-data pipeline operators (dedup, similarity
search, text analysis, multimodal column plumbing) under ``operators/``.
"""

from ._worker_imports import install as _install_worker_imports

__version__ = "0.1.0"
__all__ = ["configure_session", "LightFusionSession", "__version__"]

# Inside a Spark task (a worker unpickling one of the package's UDFs), stop
# every later task from re-reading the worker's zip archives.
_install_worker_imports()


def __getattr__(name):
    # Lazy (PEP 562): a worker importing ``functions.inference`` never loads
    # the driver-side session / frontdoor modules.
    if name in ("configure_session", "LightFusionSession"):
        from . import session

        return getattr(session, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
