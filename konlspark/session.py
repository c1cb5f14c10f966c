"""SparkSession factory with the engine's tuned defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "konlspark", cores: int | None = None,
              shuffle_partitions: int | None = None,
              driver_memory: str | None = None) -> SparkSession:
    """Local-mode session tuned for this engine.

    In production this is ``spark-submit`` against a real cluster and
    every setting below except Arrow/AQE comes from the cluster conf;
    ``cores`` maps to executor count for the scaling-efficiency runs.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS")
                    or len(os.sched_getaffinity(0)))
    if shuffle_partitions is None:
        shuffle_partitions = max(8, cores)
    if driver_memory is None:
        driver_memory = (os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                         or _default_driver_memory())
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # small-input floors, kept as constants because the build
        # measures faster with them (perfbench build_bulk, 4-core VM,
        # alternating pairs): with neither of them nor a minPartitionNum
        # floor, request p50 went 18.1 -> 21.6 s, slower in 8 of 10
        # pairs; with only the AQE floor, 17.5 -> 18.3 s, inside noise.
        # openCost 64k (default 4 MB) splits small parquet scans finer.
        # AQE minPartitionSize 256k (default 1 MB) keeps byte-light,
        # compute-dense shuffle stages from coalescing onto a few tasks,
        # and it fixes the postings file layout: without it
        # index_bytes_per_text_byte moves. minPartitionNum is left at
        # its default, which in local[n] is already n.
        .config("spark.sql.files.openCostInBytes", str(64 * 1024))
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                "256k")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.io.tmpdir=/tmp")
        # shuffle/spill on tmpfs: the VM's virtio disk has high variable
        # latency that makes local-mode shuffle timings bimodal; a real
        # cluster would use local SSDs
        .config("spark.local.dir", _local_dir())
        # executors must be able to import konlspark
        .config("spark.executorEnv.PYTHONPATH", _repo_root())
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """24g, capped at half the host's ``MemTotal`` (whole GiB, at least
    1g): in local mode the driver JVM shares the host with the Python
    workers. 24g when ``meminfo`` is unreadable or has no MemTotal."""
    try:
        with open(meminfo) as f:
            for line in f:
                key, _, rest = line.partition(":")
                if key == "MemTotal":
                    gib = int(rest.split()[0]) >> 20  # the value is in kB
                    return f"{max(1, min(24, gib // 2))}g"
    except OSError:
        pass
    return "24g"


def _repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _local_dir() -> str:
    if os.path.isdir("/dev/shm"):
        path = "/dev/shm/konlspark-spark-tmp"
        os.makedirs(path, exist_ok=True)
        return path
    return "/tmp"
