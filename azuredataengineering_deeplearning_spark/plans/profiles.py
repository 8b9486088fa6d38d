"""Spark configuration profiles (SURVEY §4; reference
``databricks_notebook_settings.sql:1-40`` distilled).

``CLUSTER_PROFILE`` is the 100 TB posture: the session's
``LOCAL_PROFILE`` plus three cluster overrides. AQE owns runtime shuffle
sizing (replacing the reference's hand-set 96/5000 partition counts),
skew-join splitting on, Kryo + G1GC-friendly serialization, high static
shuffle partitions that AQE coalesces down. Executor/driver sizing
belongs to spark-submit / cluster config (the reference runs 5-core /
31 GB executors with dynamic allocation 18-151).
"""

from azuredataengineering_deeplearning_spark.session import LOCAL_PROFILE

CLUSTER_PROFILE: dict[str, str] = {
    **LOCAL_PROFILE,
    # high static count; AQE coalesces — safe for 100 TB shuffles
    "spark.sql.shuffle.partitions": "2000",
    # scan parallelism: default 128m; the reference's 16m trade is
    # compute-bound-only (documented, not default)
    "spark.sql.files.maxPartitionBytes": "134217728",
    # bounded output files (reference: repartition + maxRecordsPerFile)
    "spark.sql.files.maxRecordsPerFile": "5000000",
}
