"""Engine configuration + session builder (SURVEY.md §2.1 S12).

The reference reads ~/.wikicrawler/config.json with env overrides
(/root/reference/src/wikicrawler/core/utils/config.py:7-42). The engine's
analog is a small dataclass: nothing in the data plane reads ambient state,
every knob is explicit and serializable.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


@dataclass
class EngineConfig:
    master: str = field(
        default_factory=lambda: os.environ.get("WCS_MASTER", "local[*]"))
    shuffle_partitions: int = field(
        default_factory=lambda: int(os.environ.get("WCS_SHUFFLE_PARTITIONS", "32")))
    driver_memory: str = field(
        default_factory=lambda: os.environ.get("WCS_DRIVER_MEM", "24g"))
    arrow_max_records_per_batch: int = 2048  # giant-doc memory bound (§4.2)


def build_session(cfg: EngineConfig | None = None, app: str = "wikicrawler_spark"):
    from pyspark.sql import SparkSession

    cfg = cfg or EngineConfig()
    spark = (
        SparkSession.builder.master(cfg.master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(cfg.shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                str(cfg.arrow_max_records_per_batch))
        .config("spark.driver.memory", cfg.driver_memory)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark
