"""Session bootstrap — the Spark analogue of ``configure_context()``.

The reference wires RuntimeEnv + SessionConfig (information_schema on, the
lightfusion config extension) + default features + the FunctionFactory into
a DataFusion ``SessionContext`` and pre-registers ``argmax``
(``src/lib.rs:97-115``).  Here:

* :func:`spark_conf` is the one ``SparkConf`` every session this repo
  builds starts from (``local[cores]``, ``cores`` shuffle partitions,
  Arrow-vectorized Python UDF transfer, AQE, UTC session time);
  :func:`start_spark` builds a ``SparkSession`` from it;
* ``configure_session()`` builds (or adopts) a ``SparkSession``;
* applies the ``lightfusion.*`` config defaults and publishes the
  ``df_settings`` introspection view;
* registers ``argmax`` (JVM-side SQL UDF);
* wraps the session in :class:`LightFusionSession`, whose ``.sql()`` is the
  front-door that understands ``CREATE FUNCTION ... LANGUAGE LIGHTGBM``,
  validated ``SET lightfusion.*``, ``information_schema.df_settings``, and
  bracket array literals (see ``frontdoor.py``).

Everything else — the entire relational surface the reference inherits from
DataFusion's ``with_default_features()`` (``src/lib.rs:106``) — is Spark's
own SQL engine, exposed untouched.
"""

from __future__ import annotations

import os

from pyspark import SparkConf
from pyspark.sql import DataFrame, SparkSession

from . import config as lf_config
from . import frontdoor
from .functions.argmax import register_argmax
from .functions.inference import register_lightgbm_function
from .sources.tsv import read_headerless_tsv

#: Confs applied at builder time when we create the session ourselves.
BUILDER_DEFAULTS = {
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
}


def spark_conf(cores: int | str | None = None, **conf: str) -> SparkConf:
    """The settings of every session this repo builds: ``local[cores]``,
    ``cores`` shuffle partitions and :data:`BUILDER_DEFAULTS`, then
    ``conf`` (full Spark keys, e.g. ``**{"spark.driver.memory": "16g"}``)
    on top.  ``cores`` defaults to ``$SPARK_GRAFT_CPUS``, else
    ``min(cpu_count, 32)``."""
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS") or min(os.cpu_count() or 8, 32)
    settings = {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "lightfusion-spark",
        **BUILDER_DEFAULTS,
        "spark.sql.shuffle.partitions": str(cores),
        **conf,
    }
    return SparkConf(loadDefaults=False).setAll([(k, str(v)) for k, v in settings.items()])


def start_spark(cores: int | str | None = None, **conf: str) -> SparkSession:
    """A ``SparkSession`` built from ``spark_conf(cores, **conf)`` (or the
    running one, as ``getOrCreate`` does), logging errors only."""
    spark = SparkSession.builder.config(conf=spark_conf(cores, **conf)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class LightFusionSession:
    """Thin wrapper adding the SQL front-door; delegates everything else."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    # -- the front-door -----------------------------------------------------
    def sql(self, query: str, **kwargs) -> DataFrame:
        stmt = frontdoor.parse_create_function(query)
        if stmt is not None:
            register_lightgbm_function(
                self.spark,
                name=stmt.name,
                model_path=stmt.model_path,
                input_type=stmt.input_type,
                return_type=stmt.return_type,
            )
            # DDL in Spark returns an empty result; mirror that shape.
            return self.spark.sql("SELECT 1 WHERE false")
        ext = frontdoor.parse_create_external_table(query)
        if ext is not None:
            if ext.format == "csv":
                if ext.header:
                    df = (
                        self.spark.read.option("delimiter", ext.delimiter)
                        .option("header", "true")
                        .option("inferSchema", "true")
                        .csv(ext.location)
                    )
                else:
                    # DataFusion-compatible column_1..column_N naming
                    df = read_headerless_tsv(self.spark, ext.location, delimiter=ext.delimiter)
            elif ext.format == "parquet":
                df = self.spark.read.parquet(ext.location)
            else:
                df = self.spark.read.json(ext.location)
            df.createOrReplaceTempView(ext.name)
            return self.spark.sql("SELECT 1 WHERE false")
        kv = frontdoor.parse_set_lightfusion(query)
        if kv is not None:
            key, value = kv
            self.spark.conf.set(key, value)
            lf_config.refresh_settings_view(self.spark)
            # the reference's SET returns an empty batch (examples/
            # lightfusion_tsv.rs:5-9); mirror that shape
            return self.spark.sql("SELECT 1 WHERE false")
        return self.spark.sql(frontdoor.preprocess(query), **kwargs)

    def __getattr__(self, name):
        return getattr(self.spark, name)


def configure_session(
    spark: SparkSession | None = None, cores: int | None = None
) -> LightFusionSession:
    """Build/adopt a SparkSession and install the lightfusion surface.

    Pass an existing ``spark`` (e.g. the driver's) to adopt it: runtime
    confs, the config extension, ``argmax`` and ``df_settings`` are applied
    to it in place.  Without one, the session is ``start_spark(cores)``.
    """
    if spark is None:
        spark = start_spark(cores)
    # Runtime-settable confs are (re)applied even to adopted sessions.
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    lf_config.apply_defaults(spark)
    lf_config.refresh_settings_view(spark)
    register_argmax(spark)
    return LightFusionSession(spark)
