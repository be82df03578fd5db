"""Ingestion-process orchestration: the reference's BaseProcessor flow
re-expressed.

Every reference process follows the same arc (e.g.
ingestor_smhi_process.py, ingestor_cds_process.py, utils_spi.py):

    validate params -> skip-if-exists -> fetch -> transform -> store ->
    register collection -> report status

``IngestProcess`` keeps that arc with Spark-native stages: the fetch is
a source callable, the transform a DataFrame -> DataFrame function, the
store a partitioned parquet collection, and registration goes through
``sinks.CollectionCatalog``. Statuses mirror the reference's
Handle200Exception levels (OK / SKIPPED / FAILED).
"""

from __future__ import annotations

import dataclasses
import os
import uuid
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession

# ``compute_extents`` is unused here but stays importable:
# perfbench's traced mode wraps ``processes.compute_extents`` by name
from pygeoapi_ingestor_spark.sinks.collections import (  # noqa: F401
    CollectionCatalog,
    compute_extents,
    extent_aggs,
    extents_dict,
    parquet_read_schema,
    write_collection,
)

OK = "OK"
SKIPPED = "SKIPPED"
FAILED = "FAILED"


@dataclasses.dataclass
class ProcessResult:
    status: str
    collection_id: str
    message: str = ""
    extents: dict[str, Any] | None = None


class ProcessorExecuteError(ValueError):
    """Parameter-validation failure (reference: pygeoapi's error type)."""


class IngestProcess:
    """One configured ingestion process.

    Parameters
    ----------
    collection_id : catalog identifier (also the idempotency key)
    fetch : (spark) -> DataFrame — source stage
    transform : (DataFrame) -> DataFrame — declarative transform stage
    out_path : collection parquet path
    partition_by : at-rest partitioning (e.g. ["day"]) for pruning
    ts_col / value_cols : extent columns for catalog registration
    """

    def __init__(
        self,
        collection_id: str,
        fetch: Callable[[SparkSession], DataFrame],
        transform: Callable[[DataFrame], DataFrame],
        out_path: str,
        catalog: CollectionCatalog,
        partition_by: list[str] | None = None,
        ts_col: str | None = None,
        value_cols: list[str] | None = None,
    ):
        self.collection_id = collection_id
        self.fetch = fetch
        self.transform = transform
        self.out_path = out_path
        self.catalog = catalog
        self.partition_by = partition_by
        self.ts_col = ts_col
        self.value_cols = value_cols

    #: env var holding the shared ingest secret (the reference gates its
    #: write-path processes on a configured token the same way). When
    #: unset, any non-empty token is accepted (dev mode); when set, the
    #: supplied token must match exactly.
    TOKEN_ENV = "PYGEOAPI_INGESTOR_TOKEN"

    def validate(self, params: dict) -> None:
        """Shared parameter validation (reference: validate_parameters).
        Subclass/extend per process; base rules: a token must be present
        and non-empty, and must match the configured secret if one is
        set — omitted params always fail (no auto-token default)."""
        token = params.get("token")
        if not token or not isinstance(token, str):
            raise ProcessorExecuteError("You must provide a valid token")
        # empty env var == unset: an empty secret could never match the
        # (required non-empty) token and would lock out the write path
        secret = os.environ.get(self.TOKEN_ENV) or None
        if secret is not None and token != secret:
            raise ProcessorExecuteError("Invalid token")

    def execute(self, spark: SparkSession, params: dict | None = None, force: bool = False) -> ProcessResult:
        # omitted params get NO default token: the write path is gated
        self.validate(params or {})
        if not force and self.catalog.exists(self.collection_id):
            return ProcessResult(
                SKIPPED,
                self.collection_id,
                f"collection {self.collection_id!r} already registered",
            )
        try:
            raw = self.fetch(spark)
            result = self.transform(raw)
            # the extents ride on the write: the observed aggregates
            # describe exactly the rows that landed, and no read-back
            # query runs. The name is unique per call, so concurrent
            # ingests never read each other's metrics.
            obs = Observation(f"extents_{uuid.uuid4().hex}")
            observed = result.observe(obs, *extent_aggs(self.ts_col, self.value_cols))
            write_collection(observed, self.out_path, partition_by=self.partition_by)
            extents = extents_dict(obs.get)
            # the written schema is known without a job, except for
            # partition columns, whose types a read infers from
            # directory names
            if self.partition_by:
                schema = spark.read.parquet(self.out_path).schema
            else:
                schema = parquet_read_schema(result.schema)
            self.catalog.register(
                self.collection_id, self.out_path, extents, schema=schema
            )
            return ProcessResult(OK, self.collection_id, "ingested", extents)
        except ProcessorExecuteError:
            raise
        except Exception as e:  # report, don't crash the scheduler loop
            return ProcessResult(FAILED, self.collection_id, str(e)[:500])
