"""SparkSession factory tuned for the CDC/analytics engine.

Local mode is the sandbox proxy for a multi-executor cluster; every setting
here is also correct on a real cluster (AQE, Arrow, UTC, shuffle partitions
sized to parallelism). The engine itself never assumes local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    cpus: int | None = None,
    app_name: str = "datachain_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cpus: parallelism for local mode; defaults to $SPARK_GRAFT_CPUS or '*'.
    shuffle_partitions: defaults to 2x cpus (small-data local tuning; a
    cluster deployment would size this to total cores via spark-submit conf).
    """
    if cpus is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        ncores = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cpus}]"
        ncores = cpus
    if shuffle_partitions is None:
        shuffle_partitions = max(8, 2 * ncores)

    # Throughput GC: G1's concurrent phases compete with mutator threads
    # and anti-scale badly at high thread counts on throttled hosts —
    # measured on this box: the CDC replay at local[32] ran SLOWER than
    # local[8] under G1 (ratio 0.9x) and 2.1x faster under ParallelGC,
    # matching the host's granted-capacity probe. Batch/ETL engines want
    # max-throughput GC; a cluster deployment would set the same via
    # spark.executor.extraJavaOptions. Overridable through extra_conf.
    #
    # GC threads are capped at the SESSION's core count, not the host's:
    # the JVM sizes ParallelGCThreads from the physical CPU count (~23 on
    # this 32-core host), so a local[8] session would silently borrow 23
    # host threads for GC bursts — capacity a real 8-core executor JVM
    # does not have (and an unfair subsidy to the small level in N-vs-4N
    # scaling runs). Measured on the 3.9e6-event apply: local[32]
    # 3.47s -> 3.28s with the cap; local[8] 7.43s -> 7.84s (it loses its
    # borrowed GC threads) — i.e. the cap is also what a per-executor
    # deployment would see.
    java_opts = f"-XX:+UseParallelGC -XX:ParallelGCThreads={ncores}"
    if extra_conf and "spark.driver.extraJavaOptions" in extra_conf:
        java_opts = extra_conf["spark.driver.extraJavaOptions"]

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # LakeTable reads pass exact segment paths from the manifest, yet
        # Spark's file index still lists each one, and above this threshold
        # (default 32) it does so in a Spark job with one task per path: a
        # 64-80 task job per full scan of a 32-bucket table. The largest
        # layout here, 64 buckets x max_segments 8, passes 512 paths.
        # Measured at local[4] on local disk: serial driver-side listing of
        # 512 / 1024 / 2048 files took 50-80 / 110-120 / 180-210 ms, the
        # listing job 1.3 / 2.2 / 4.2 s. 1024 leaves 2x headroom for
        # buckets waiting on staggered compaction. On an object store,
        # where one listing call costs tens of ms, lower it via extra_conf.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        # Generated-class cache (default 100 entries). One pass of the
        # 80-query registry at sf0.01 compiled 1080 distinct classes (the
        # CodegenMetrics compilation count with an unbounded cache; a
        # second pass compiled 4 more). At 100 entries every pass evicts
        # and recompiles them: three consecutive passes of the 27 headline
        # queries compiled 533, 511 and 509 classes (each then JIT-compiled
        # again); at 2000, 446, 4 and 0. 2000 holds the registry's working
        # set with ~85% headroom.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # Spark 4.1's ChecksumCheckpointFileManager deadlocks committing
        # HDFSBackedStateStore deltas on local filesystems (awaitResult
        # hang observed in applyInPandasWithState) — checksums off
        .config("spark.sql.streaming.checkpointFileChecksum.enabled", "false")
        .config("spark.sql.streaming.stateStore.checksumEnabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    # $SPARK_GRAFT_CONF: semicolon-separated k=v pairs applied LAST —
    # an override hatch for deployment tuning and controlled A/B runs
    # (e.g. SPARK_GRAFT_CONF="spark.io.compression.codec=zstd") without
    # threading new parameters through every entry point.
    env_conf = os.environ.get("SPARK_GRAFT_CONF", "")
    for item in env_conf.split(";"):
        if item.strip():
            k, _, v = item.partition("=")
            if extra_conf and k.strip() in extra_conf:
                # env wins (it is the deployment override hatch), but an
                # inherited variable silently beating an explicit argument
                # is surprising — say so (r5 ADVICE)
                import warnings

                warnings.warn(
                    f"SPARK_GRAFT_CONF overrides explicit config {k.strip()!r}",
                    stacklevel=2,
                )
            builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    """Stop the active session (used between parallelism levels in bench)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def is_studio() -> bool:
    """True when running inside a hosted/studio runtime (reference
    lib/dc/utils.py:27-29 reads DATACHAIN_IS_STUDIO). There is no hosted
    tier for this engine; the flag is honored for code written against
    the reference API."""
    return os.environ.get(
        "DATACHAIN_SPARK_IS_STUDIO", os.environ.get("DATACHAIN_IS_STUDIO", "")
    ).lower() in ("1", "true", "yes")


def is_local() -> bool:
    """Inverse of is_studio() (reference lib/dc/utils.py:32-34)."""
    return not is_studio()


class Session:
    """Temp-dataset lifecycle context (reference query/session.py:35-150):
    datasets saved without a name get `session_<name>_<suuid>_<duuid>`
    names and are deleted when the session exits. The reference's Session
    also owns the catalog/warehouse connection; on Spark that role belongs
    to SparkSession + catalog_root, so this class carries both and stays a
    thin tracker. `with Session("etl") as s: ch.save()` — or no context at
    all, in which case a global session collects temp datasets and
    `cleanup()` is explicit."""

    GLOBAL_SESSION: "Session | None" = None
    _CONTEXTS: list["Session"] = []

    def __init__(
        self,
        name: str = "",
        catalog_root: str | None = None,
        spark: SparkSession | None = None,
    ):
        if name and not name.isalnum():
            raise ValueError(f"session name must be alphanumeric: {name!r}")
        import uuid

        from datachain_spark.chain import DEFAULT_CATALOG

        self.name = name
        self.uuid = uuid.uuid4().hex[:6]
        self.catalog_root = catalog_root or DEFAULT_CATALOG
        self._spark = spark
        self._temp_datasets: list[str] = []

    @property
    def spark(self) -> SparkSession:
        if self._spark is None:
            self._spark = get_spark()
        return self._spark

    def generate_temp_dataset_name(self) -> str:
        """`session_<name>_<session-uuid>_<dataset-uuid>` (reference
        session.py:43-48 format)."""
        import uuid

        mid = f"{self.name}_" if self.name else ""
        n = f"session_{mid}{self.uuid}_{uuid.uuid4().hex[:6]}"
        self._temp_datasets.append(n)
        return n

    def track_dataset(self, name: str) -> None:
        """Register an extra name for cleanup (save() re-registers the
        namespace-qualified form of a temp name)."""
        if name not in self._temp_datasets:
            self._temp_datasets.append(name)

    def cleanup(self) -> None:
        """Drop every temp dataset this session created (reference
        _cleanup_created_versions). Missing ones are fine — a nested
        session or explicit delete may have removed them."""
        from datachain_spark.chain import DatasetNotFoundError, delete_dataset

        for n in self._temp_datasets:
            try:
                delete_dataset(n, self.catalog_root, force=True)
            except DatasetNotFoundError:
                pass
        self._temp_datasets.clear()

    def __enter__(self) -> "Session":
        Session._CONTEXTS.append(self)
        return self

    def __exit__(self, *exc: object) -> None:
        if Session._CONTEXTS and Session._CONTEXTS[-1] is self:
            Session._CONTEXTS.pop()
        self.cleanup()

    @classmethod
    def get(
        cls,
        session: "Session | None" = None,
        catalog_root: str | None = None,
    ) -> "Session":
        """Explicit session > innermost context > lazily-created global
        (reference Session.get, session.py:120-150)."""
        if session is not None:
            return session
        if cls._CONTEXTS:
            return cls._CONTEXTS[-1]
        if cls.GLOBAL_SESSION is None:
            cls.GLOBAL_SESSION = cls("global", catalog_root=catalog_root)
        return cls.GLOBAL_SESSION
