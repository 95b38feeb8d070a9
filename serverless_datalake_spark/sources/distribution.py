"""Distribution topics (reference E3, SURVEY.md §3): per-source
delivery with late-bound topic resolution.

The reference publishes each record to its source's SNS topic, whose
ARN is resolved at publish time from SSM (`/{stack}/DistributionTopics/
{source}`, stack.py:240–246, recorder:59–60), and the test subscriber
reads that topic (stack.py:251–265). Here the delivery root is one
Hive-partitioned table, ``<root>/source=<s>/``, so a topic is a
partition of it. Ingest publishes byte copies of the lake files it
wrote for the batch there (the records it stored, as the reference
publishes them), and a replay publishes copies of the selected
batches' lake files in the same layout; only the selected rows of a
lake file that mixes batches (compaction output) are re-written,
through `ingest.fan_out`. A subscriber reads the root filtered on its
source, and partition pruning keeps that scan to one directory.

Source names are event DATA. Spark escapes partition values on write
(``../../x`` → ``source=..%2F..%2Fx``, ``a:b`` → ``source=a%3Ab``) and
unescapes them on read, so every topic stays one directory under the
root: no path is ever built from a source name.

Late binding stays with the registry: an operator may register a
source to another sink path, which its subscriber then reads instead
(the analog of the SSM parameter-by-name lookup). Registering a new
source needs no change to the ingest job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from serverless_datalake_spark.sources import lake


class TopicRegistry:
    """The delivery root, plus operator-registered per-source sink
    paths that override it."""

    def __init__(self, default_root: str, overrides: dict[str, str] | None = None):
        self.default_root = default_root
        self.overrides = dict(overrides or {})

    def resolve(self, source: str) -> str | None:
        """The sink registered for ``source``; None means its partition
        of ``default_root``."""
        return self.overrides.get(source)

    def register(self, source: str, path: str) -> None:
        self.overrides[source] = path


def subscribe(
    spark: SparkSession, registry: TopicRegistry, source: str
) -> DataFrame:
    """E3 consumption: a subscriber reads exactly its topic (the
    test_subscriber analog, stack.py:251–265 — but a real reader, not
    a log line). The delivery root is read with the lake's schema; a
    registered path's layout is the operator's, so its schema is read
    from the files."""
    path = registry.resolve(source)
    if path is not None:
        return spark.read.parquet(path)
    return lake.read_lake(spark, registry.default_root).where(F.col("source") == source)
