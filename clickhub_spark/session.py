"""SparkSession factory with the engine's standard configuration.

Settings rationale (100 TB design point, tested on local[32]):
- UTC session timezone: the reference stores DateTime('UTC')
  (reference types.json:6); all event-time semantics are UTC.
- AQE on: runtime join-strategy switches, skew-join splitting and
  shuffle-partition coalescing are the scale story for ad-hoc queries.
- Arrow on: every pandas_udf / toPandas crosses the JVM boundary in
  columnar batches (the analog of the reference's Native-format pipe,
  reference repo/importer.py:104-108).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "clickhub-spark",
    cpus: str | int | None = None,
    profile: str = "local",
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``profile``:
    - ``"local"`` (default): the driver/bench/test surface.  Always a
      ``local[cpus]`` master (``cpus`` defaults to ``$SPARK_GRAFT_CPUS``
      or all cores); small ``maxPartitionBytes`` so single-file bench
      tables still fan out across cores.
    - ``"cluster"``: settings for a real multi-executor deployment —
      no master is set (spark-submit supplies it), 128 MB
      maxPartitionBytes (tables have many files there; tiny splits
      would flood the scheduler with tasks), shuffle partitions sized
      from the cluster's default parallelism at first action via AQE
      coalescing from a high initial count rather than a fixed 32.

    Shared settings (both profiles): UTC session time, AQE with skew
    join + partition coalescing, Arrow batching for every
    pandas_udf/mapInPandas boundary, zstd parquet with INT64 µs
    timestamps (footer min/max for timestamp columns).
    """
    return _builder(app_name, cpus, profile).getOrCreate()


def _builder(
    app_name: str, cpus: str | int | None, profile: str
) -> SparkSession.Builder:
    """The config assembly behind ``get_spark`` (separate so tests can
    inspect a profile's settings without creating a second session —
    ``getOrCreate`` merges configs into any live session)."""
    if profile not in ("local", "cluster"):
        raise ValueError(f"unknown profile {profile!r}; use 'local' or 'cluster'")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python DataSource planning-time filter pushdown (sources/
        # pyds.NumbersPushdownReader); Spark 4.1 gates pushFilters
        # behind this flag and fails fast when a reader implements it
        # with the flag off.  Registered queries use only pushdown-free
        # sources so they also run on vanilla sessions.
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # zstd, not the snappy default: measured on a 60M-row fact
        # table (``tools/scale codecs``) it is 18% smaller AND ~3×
        # faster to scan — at 100 TB that is ~18 TB of storage and
        # the dominant scan-cost term.  Transparent to readers.
        .config("spark.sql.parquet.compression.codec", "zstd")
        # INT64 µs timestamps, not the INT96 default: INT96 columns
        # carry no footer min/max, and the app path answers max(time)
        # and min(updated_at) per repo from part footers
        # (introspect.table_parts).  Readers see the same values.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
    )
    if profile == "cluster":
        # AQE coalesces down from a high initial partition count; the
        # fixed-32 local setting would bottleneck a 1000-core cluster.
        builder = (
            builder.config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "2000")
            .config(
                "spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "128m"),
            )
        )
        return builder
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", "32")
        # Split small-but-CPU-heavy scans across cores: the bench SFs
        # arrive as single ~10 MB files, which the 128 MB default maps
        # to ONE partition (one core).  4 MB saturates local[32]
        # (q_agg_multi 2.7× faster).  This branch always builds a
        # local[] session, so the small default is safe; the cluster
        # profile keeps the 128 MB default — right when tables have
        # many files.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "4m"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    return builder


def ship_package(spark: SparkSession) -> str:
    """Ship the clickhub_spark package to executors as a zip via
    ``SparkContext.addPyFile`` — required on any multi-process master
    (local-cluster, standalone, YARN, k8s) where executor Python
    workers do not share the driver's sys.path.  mapInPandas /
    pandas_udf closures reference module-level functions (e.g.
    operators.multimodal.probe_image), which cloudpickle serializes BY
    REFERENCE — the worker must be able to ``import clickhub_spark``
    or every such query dies with ModuleNotFoundError.  (Found by the
    round-5 local-cluster gate: only the multimodal queries failed,
    because every other Python boundary closes over locals.)

    A real deployment can equivalently ``spark-submit --py-files`` or
    pip-install the package on executors; this helper is the
    no-infrastructure fallback.  Returns the zip path (driver-local).
    Idempotent per session: re-shipping the same content is a no-op
    for workers that already imported it."""
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    base = os.path.join(tempfile.gettempdir(), "clickhub_spark_pyfiles")
    # stable path per content: addPyFile rejects re-adding a changed
    # file of the same name, so key the zip dir by a digest of every
    # source file's (path, size, mtime_ns).  Whole-second mtime alone
    # collides when a file is edited twice within one second (or
    # restored with a preserved mtime) — the gate would then silently
    # ship and test STALE code.
    import hashlib

    sig = hashlib.md5()
    for r, _, fs in sorted(os.walk(pkg_dir)):
        for f in sorted(fs):
            fp = os.path.join(r, f)
            st = os.stat(fp)
            sig.update(f"{fp}:{st.st_size}:{st.st_mtime_ns};".encode())
    zdir = f"{base}_{sig.hexdigest()[:12]}"
    zpath = os.path.join(zdir, "clickhub_spark.zip")
    if not os.path.exists(zpath):
        os.makedirs(zdir, exist_ok=True)
        stage = os.path.join(zdir, "stage")
        shutil.rmtree(stage, ignore_errors=True)
        shutil.copytree(
            pkg_dir,
            os.path.join(stage, "clickhub_spark"),
            ignore=shutil.ignore_patterns("__pycache__"),
        )
        shutil.make_archive(zpath[: -len(".zip")], "zip", stage)
        shutil.rmtree(stage, ignore_errors=True)
    spark.sparkContext.addPyFile(zpath)
    return zpath
