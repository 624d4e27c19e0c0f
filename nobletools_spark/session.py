"""SparkSession construction + package shipping.

On a real cluster the engine deploys as ``spark-submit --py-files
nobletools_spark.zip job.py`` (north_rule). In notebooks / tests /
driver-side embedding, ``ship_package(spark)`` reproduces that contract
at runtime: it zips the installed package once and registers it with
``sc.addPyFile`` so every Python worker can import ``nobletools_spark``
regardless of the driver's cwd. Idempotent per session.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

_SHIPPED_ATTR = "_nobletools_spark_shipped"


def local_table(spark, rows, schema):
    """Driver-literal dimension table as a JVM ``LocalRelation``
    (plan: ``LocalTableScan``), not a pickled Python RDD.

    ``spark.createDataFrame(list, schema)`` plans as ``Scan
    ExistingRDD`` — every evaluation (each probe of a broadcast build,
    each branch of a union) round-trips through spawned Python workers,
    and the relation has no statistics, so tiny dim⋈dim joins fall back
    to SortMergeJoin with full-width exchanges. Routing the rows
    through pandas + Arrow ships them to the JVM ONCE at creation:
    evaluation is pure JVM, sizes are known (auto-broadcast works), and
    ``ConvertToLocalRelation`` can fold projections/filters over it at
    optimization time — the local analog of reading a dim table from
    parquet instead of re-running its producer job.

    Falls back to the plain path for rows Arrow can't convert (e.g.
    nested structs expressed as tuples).
    """
    from pyspark.sql import types as T

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    rows = list(rows)
    try:
        import pandas as pd

        names = [f.name for f in schema.fields]
        if rows:
            # build each column as an object Series DIRECTLY —
            # from_records would coerce a nullable int column to
            # float64 first, silently corrupting values > 2^53
            # (e.g. 60-bit hash keys) before any astype could help
            pdf = pd.DataFrame({
                n: pd.Series([r[i] for r in rows], dtype=object)
                for i, n in enumerate(names)})
            df = spark.createDataFrame(pdf, schema)
        else:
            # Arrow skips empty frames; a one-null-row LocalRelation
            # under limit(0) folds to an empty LocalRelation
            pdf = pd.DataFrame.from_records(
                [tuple(None for _ in names)], columns=names)
            df = spark.createDataFrame(pdf, schema).limit(0)
        # verify Arrow actually took the LocalRelation path (it falls
        # back silently on conversion failure)
        if "LocalRelation" not in df._jdf.queryExecution() \
                .analyzed().toString():
            raise ValueError("arrow conversion fell back")
        return df
    except Exception:
        return spark.createDataFrame(rows, schema)


def package_zip_path() -> str:
    """Build (once per source state) a zip of the nobletools_spark
    package. The cache file is keyed by a digest of the source file
    list + sizes + mtimes — NOT the pid: a recycled pid (or two
    processes racing) must never ship a stale zip, because py-files
    shadow site-packages on the workers and every parity/bench number
    would silently be measured against old executor code."""
    import hashlib

    import nobletools_spark

    pkg_dir = os.path.dirname(os.path.abspath(nobletools_spark.__file__))
    sources = []
    for root, _dirs, files in os.walk(pkg_dir):
        if "__pycache__" in root:
            continue
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            full = os.path.join(root, f)
            st = os.stat(full)
            sources.append((full,
                            os.path.join("nobletools_spark",
                                         os.path.relpath(full, pkg_dir)),
                            st.st_size, int(st.st_mtime_ns)))
    sources.sort(key=lambda s: s[1])
    digest = hashlib.md5(repr([s[1:] for s in sources]).encode()) \
        .hexdigest()[:16]
    out = os.path.join(tempfile.gettempdir(),
                       f"nobletools_spark-{digest}.zip")
    if not os.path.exists(out):
        tmp = f"{out}.{os.getpid()}.tmp"  # per-process tmp: racing
        #              builders each os.replace atomically, same bytes
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for full, rel, _sz, _mt in sources:
                zf.write(full, rel)
        os.replace(tmp, out)
    return out


def hadoop_fs(spark, path: str):
    """(FileSystem, Path) for ``path`` via the JVM Hadoop FS API — the
    same resolution Spark's own readers and writers use, so local, HDFS
    and S3A paths all resolve alike (pipeline manifests land on the
    SAME filesystem as the stage parquet, not the driver's local
    disk)."""
    jvm = spark.sparkContext._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, p


def ship_package(spark) -> None:
    """Make nobletools_spark importable on executors (--py-files analog)."""
    sc = spark.sparkContext
    if getattr(sc, _SHIPPED_ATTR, False):
        return
    sc.addPyFile(package_zip_path())
    setattr(sc, _SHIPPED_ATTR, True)


def get_spark(cores: int | str = "*", shuffle_partitions: int | None = None,
              app_name: str = "nobletools_spark", driver_mem: str = "48g",
              ui: bool = False):
    """Local-mode session tuned per the scale guidance: AQE on, Arrow on,
    shuffle partitions sized to cores (not the 200 default)."""
    from pyspark.sql import SparkSession

    if cores in ("*", None):
        cores, n = "*", os.cpu_count()  # None would build 'local[None]'
    else:
        n = int(cores)
    builder = (
        SparkSession.builder
        .master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or max(int(n or 8), 8)))
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", str(ui).lower())
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark
