"""SparkSession construction with scale-appropriate defaults.

Local runs use local[$SPARK_GRAFT_CPUS]; on a real cluster the same
settings ride through spark-submit --conf.  Everything here is plain
Spark configuration — no custom Catalyst rules (SURVEY.md §4).
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import SparkSession

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _package_zip() -> str:
    """Zip the package for shipment to executors (what
    ``spark-submit --py-files latex_ocr_spark.zip`` does on a real
    cluster; here we addPyFile it so plain ``python script.py`` runs
    work identically)."""
    out = os.path.join("/tmp", "latex_ocr_spark_pyfiles.zip")
    pkg_dir = os.path.join(_REPO_ROOT, "latex_ocr_spark")
    with zipfile.ZipFile(out, "w") as zf:
        for dirpath, _dirnames, filenames in os.walk(pkg_dir):
            for fn in filenames:
                # .json rides along so executor-side kernels that read
                # packaged resources (e.g. resources/tokenizer.json via
                # the SQL bpe_encode UDF) resolve them from the zip too
                if fn.endswith((".py", ".json")):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, _REPO_ROOT))
    return out


def get_spark(
    app_name: str = "latex_ocr_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a session.

    Shuffle partitions default to the core count locally; on a cluster
    AQE coalescing makes the static value non-critical, but we still
    size it to ~2-3× total cores via --conf at submit time.
    """
    cores = cores or default_parallelism()
    shuffle_partitions = shuffle_partitions or cores
    # local mode: python workers are forked with the driver's env, so
    # exporting PYTHONPATH before the JVM starts makes the package
    # importable on executors regardless of the caller's cwd
    os.environ["PYTHONPATH"] = (
        _REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    )
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size bounds UDF memory per task; 10k rows of
        # transcript text ≈ tens of MB — safe at executor defaults.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    # cluster-mode equivalent of --py-files; harmless no-op locally
    try:
        spark.sparkContext.addPyFile(_package_zip())
    except Exception:  # pragma: no cover — an already-added file
        pass
    return spark


def has_data(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` holds at least one visible file: the one probe
    for durable state ("is there a lineage / sink / index / input
    here yet?").  Asked of the Hadoop ``FileSystem`` of the path, so
    ``file://``, ``s3a://`` and HDFS paths answer the same way, and
    without a Spark read, so a fresh path costs no failed analysis and
    no job.  A name starting with ``_`` or ``.`` is hidden below
    ``path``, as in Spark's file index: a directory holding only a
    lock, ``_SUCCESS``, checksums or an aborted ``_temporary`` write
    has no data.  Filesystem errors (permission, I/O) raise; a visible
    file that is corrupt is left for the caller's read to reject."""
    root = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsparkSession.sessionState().newHadoopConf())
    if not fs.exists(root):
        return False
    stack = [root]
    while stack:
        for status in fs.listStatus(stack.pop()):
            if status.getPath().getName().startswith(("_", ".")):
                continue
            if status.isFile():
                return True
            stack.append(status.getPath())
    return False
